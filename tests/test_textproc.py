"""Golden tests for the text pipeline, ported verbatim from the reference's
inlined test vectors (SURVEY.md §5, FIXTURES.md §3).

Sources: /root/reference/pkg/textproc/pipeline_test.go,
pkg/fts/default_pipeline_test.go, pkg/fts/filter_normalize_test.go.
"""

from __future__ import annotations

import pytest

from fts_engine_spark.textproc import pipeline as tp
from fts_engine_spark.textproc import porter2, russian
from fts_engine_spark.textproc.gocompat import (
    go_lower,
    is_numeric_token,
    token_script,
    SCRIPT_CYRILLIC,
    SCRIPT_LATIN,
    SCRIPT_MIXED,
    SCRIPT_UNKNOWN,
    utf8_len,
)
from fts_engine_spark.textproc.tokenizer import tokenize


# --- tokenizer (pipeline_test.go:8-17) ---------------------------------------
def test_tokenizer_golden():
    assert tokenize("Wikipedia: The Sans Souci Hotel was built in 1803.") == [
        "Wikipedia", "The", "Sans", "Souci", "Hotel", "was", "built", "in", "1803",
    ]


def test_tokenizer_empty_and_unicode():
    assert tokenize("") == []
    assert tokenize("!!! ---") == []
    # Nl/No digits are separators (Go IsDigit is Nd only)
    assert tokenize("abcⅧdef") == ["abc", "def"]
    assert tokenize("a½b") == ["a", "b"]


# --- full presets (pipeline_test.go:19-50) -----------------------------------
def test_english_preset_golden():
    assert tp.ENGLISH.process("The Rosa hotel was in 1990") == [
        "rosa", "hotel", "1990",
    ]


def test_russian_preset_golden():
    assert tp.RUSSIAN.process("И машины были в 2024 году") == [
        "машин", "2024", "год",
    ]


def test_multilingual_preset_golden():
    assert tp.MULTILINGUAL.process("The cars и машины were in 2024") == [
        "car", "машин", "2024",
    ]


# --- individual filters (pipeline_test.go:52-94) -----------------------------
def test_multilingual_stem_only():
    assert tp.multilingual_stem_filter(["cars", "машины", "abcдеф", "2024"]) == [
        "car", "машин", "abcдеф", "2024",
    ]


def test_minlen_bytes():
    # byte-length semantics: 'go'/'x' dropped, 'api'/'404' kept
    assert tp.min_length_filter(["go", "api", "404", "x"], 3) == ["api", "404"]
    # 2-char Cyrillic token = 4 UTF-8 bytes -> passes minlen 3
    assert tp.min_length_filter(["ив"], 3) == ["ив"]
    assert utf8_len("ив") == 4


def test_russian_stopwords_only():
    assert tp.russian_stopword_filter(["и", "машины", "в", "2024"]) == [
        "машины", "2024",
    ]


def test_russian_stem_only():
    assert tp.russian_stem_filter(["машины", "поездов", "2024"]) == [
        "машин", "поезд", "2024",
    ]


# --- default pipeline (default_pipeline_test.go:8-17) ------------------------
def test_default_pipeline():
    assert tp.DEFAULT.process("Hello, Мир 2026!") == ["hello", "мир", "2026"]
    assert tp.DEFAULT.process("Hello, World!") == ["hello", "world"]
    assert tp.DEFAULT.process("") == []


# --- numeric-token semantics (pipeline.go:302-308) ---------------------------
@pytest.mark.parametrize(
    "tok,expected",
    [
        ("1990", True),
        ("0", True),
        ("18446744073709551615", True),  # uint64 max
        ("18446744073709551616", False),  # uint64 max + 1
        ("184467440737095516160", False),  # 21 digits
        ("-5", False),
        ("+5", False),
        ("1.5", False),
        ("١٢٣", False),  # non-ASCII digits rejected by ParseUint
        ("", False),
        ("1a", False),
    ],
)
def test_is_numeric_token(tok, expected):
    assert is_numeric_token(tok) is expected


def test_numeric_bypasses_minlen_and_stopwords():
    # numeric passthrough in every filter
    assert tp.min_length_filter(["7"], 3) == ["7"]
    assert tp.english_stopword_filter(["7"]) == ["7"]
    assert tp.english_stem_filter(["7"]) == ["7"]
    # 21-digit string is NOT numeric: minlen keeps it by byte length instead
    assert tp.min_length_filter(["184467440737095516160"], 3) == [
        "184467440737095516160"
    ]


# --- script detection (pipeline.go:268-300) ----------------------------------
@pytest.mark.parametrize(
    "tok,kind",
    [
        ("cars", SCRIPT_LATIN),
        ("машины", SCRIPT_CYRILLIC),
        ("abcдеф", SCRIPT_MIXED),
        ("2024", SCRIPT_UNKNOWN),
        ("漢字", SCRIPT_UNKNOWN),
    ],
)
def test_token_script(tok, kind):
    assert token_script(tok) == kind


# --- go_lower ---------------------------------------------------------------
def test_go_lower_simple_mapping():
    assert go_lower("HELLO") == "hello"
    assert go_lower("МАШИНЫ") == "машины"
    # Go simple-maps U+0130 to 'i' (Python full-maps to 'i' + combining dot)
    assert go_lower("İ") == "i"
    # No Final_Sigma context rule in Go
    assert go_lower("ΑΣ") == "ασ"


# --- stemmers: known Snowball pairs ------------------------------------------
@pytest.mark.parametrize(
    "word,expected",
    [
        ("cars", "car"),
        ("beauty", "beauti"),
        ("beautiful", "beauti"),
        ("flies", "fli"),
        ("ties", "tie"),
        ("cries", "cri"),
        ("caresses", "caress"),
        ("meeting", "meet"),
        ("hoping", "hope"),
        ("hopping", "hop"),
        ("generate", "generat"),
        ("generates", "generat"),
        ("general", "general"),
        ("agreement", "agreement"),
        ("sky", "sky"),
        ("skies", "sky"),
        ("dying", "die"),
        ("news", "news"),
        ("inning", "inning"),
        ("proceed", "proceed"),
        ("conditional", "condit"),
        ("rational", "ration"),
        ("national", "nation"),
        ("hotel", "hotel"),
        ("rosa", "rosa"),
        ("by", "by"),
        ("say", "say"),
        ("cry", "cri"),
        ("happily", "happili"),
        ("electrical", "electr"),
        ("electricity", "electr"),
        ("sensational", "sensat"),
        ("argument", "argument"),
        ("arguments", "argument"),
        ("knightly", "knight"),
    ],
)
def test_porter2_known_pairs(word, expected):
    assert porter2.stem(word, True) == expected


def test_porter2_stopword_handling():
    # Stem(word, false) returns stopwords unstemmed (pipeline.go:156)
    assert porter2.stem("having", False) == "having"
    assert porter2.stem("having", True) == "have"
    assert porter2.stem("doing", False) == "doing"


@pytest.mark.parametrize(
    "word,expected",
    [
        ("машины", "машин"),
        ("поездов", "поезд"),
        ("году", "год"),
        ("важный", "важн"),
        ("важная", "важн"),
        ("красивое", "красив"),
        ("книга", "книг"),
        ("книги", "книг"),
        ("огромный", "огромн"),
        ("огромными", "огромн"),
        ("читать", "чита"),
        ("ёлка", "елк"),
    ],
)
def test_russian_known_pairs(word, expected):
    assert russian.stem(word, True) == expected


def test_russian_stopword_handling():
    assert russian.stem("были", False) == "были"


# --- pipeline edge semantics -------------------------------------------------
def test_english_preset_stopword_then_stem_order():
    # "the"/"was" removed as stopwords before stemming
    assert tp.ENGLISH.process("The Sans Souci Hotel was built in 1803") == [
        "san", "souci", "hotel", "built", "1803",
    ]


def test_query_doc_symmetry():
    # NormalizeToKeys uses the same pipeline for queries and documents
    text = "French hotels"
    assert tp.ENGLISH.process(text) == ["french", "hotel"]


@pytest.mark.parametrize("first_stems", [False, True])
def test_custom_pipelines_do_not_share_token_memo(first_stems):
    # the whole-chain token memo is keyed by pipeline name: two custom
    # specs differing only in a filter flag must not reuse each other's
    # chain, whichever runs first
    specs = {s: tp.custom_spec(stem_en=s) for s in (False, True)}
    want = {False: ["tables"], True: ["tabl"]}
    for stems in (first_stems, not first_stems):
        assert tp.get_pipeline(specs[stems]).process("tables") == want[stems]
