"""Token pipeline presets, byte-identical to the reference.

Reference: ``/root/reference/pkg/textproc/pipeline.go`` — a tokenizer plus an
ordered filter chain. Presets (``pipeline.go:43-71``,
``pkg/ftspreset/presets.go:8-18``):

- english       = tokenize, lowercase, minlen(3), EN stopwords, EN stem
- russian      = tokenize, lowercase, minlen(3), RU stopwords, RU stem
- multilingual = tokenize, lowercase, minlen(3), script-routed stop/stem
- default      = tokenize + lowercase only
  (``pkg/fts/default_pipeline.go:10-36``)

Load-bearing quirks preserved:
- min-length compares **UTF-8 byte length** (``pipeline.go:109``);
- numeric tokens (Go ``ParseUint`` semantics) bypass minlen/stopword/stem
  (``pipeline.go:302-308``);
- stopword filtering precedes stemming; stemming calls ``Stem(tok, false)``
  so stopwords would pass through unstemmed (``pipeline.go:156``);
- mixed/unknown-script tokens are never stemmed in the multilingual preset
  (``pipeline.go:239-266``).

These are plain pure-Python functions; ``fts_engine_spark.functions.udfs``
wraps them in vectorized Arrow pandas UDFs for the Spark DAG, and the query
side calls them directly on the driver for guaranteed doc/query symmetry
(mirrors ``NormalizeToKeys``, ``pkg/fts/filter_normalize.go:9-29``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from . import porter2, russian
from .gocompat import (
    SCRIPT_CYRILLIC,
    SCRIPT_LATIN,
    go_lower,
    is_numeric_token,
    token_script,
    utf8_len,
)
from .stopwords import ENGLISH_STOPWORDS, RUSSIAN_STOPWORDS
from .tokenizer import tokenize

TokenFilter = Callable[[list[str]], list[str]]


def lowercase_filter(tokens: list[str]) -> list[str]:
    return [go_lower(t) for t in tokens if t]


def min_length_filter(tokens: list[str], min_length: int = 3) -> list[str]:
    ml = min_length if min_length > 0 else 1
    return [
        t
        for t in tokens
        if t and (is_numeric_token(t) or utf8_len(t) >= ml)
    ]


def english_stopword_filter(tokens: list[str]) -> list[str]:
    return [
        t
        for t in tokens
        if t and (is_numeric_token(t) or t not in ENGLISH_STOPWORDS)
    ]


def english_stem_filter(tokens: list[str]) -> list[str]:
    return [
        t if is_numeric_token(t) else porter2.stem(t, False)
        for t in tokens
        if t
    ]


def russian_stopword_filter(tokens: list[str]) -> list[str]:
    return [
        t
        for t in tokens
        if t and (is_numeric_token(t) or t not in RUSSIAN_STOPWORDS)
    ]


def russian_stem_filter(tokens: list[str]) -> list[str]:
    return [
        t if is_numeric_token(t) else russian.stem(t, False)
        for t in tokens
        if t
    ]


def multilingual_stopword_filter(tokens: list[str]) -> list[str]:
    out: list[str] = []
    for t in tokens:
        if not t:
            continue
        if is_numeric_token(t):
            out.append(t)
            continue
        s = token_script(t)
        if s == SCRIPT_LATIN and t in ENGLISH_STOPWORDS:
            continue
        if s == SCRIPT_CYRILLIC and t in RUSSIAN_STOPWORDS:
            continue
        out.append(t)
    return out


def multilingual_stem_filter(tokens: list[str]) -> list[str]:
    out: list[str] = []
    for t in tokens:
        if not t:
            continue
        if is_numeric_token(t):
            out.append(t)
            continue
        s = token_script(t)
        if s == SCRIPT_LATIN:
            out.append(porter2.stem(t, False))
        elif s == SCRIPT_CYRILLIC:
            out.append(russian.stem(t, False))
        else:
            out.append(t)
    return out


@dataclass(frozen=True)
class Pipeline:
    """tokenizer → ordered filter chain (``pipeline.go:16-41``).

    Every filter in this module is ELEMENTWISE: its output for a token
    list is the concatenation of its outputs per single token (filters
    lowercase, drop, or rewrite a token — never split, merge, or look at
    neighbors; the snippet highlighter already depends on exactly this
    invariant). ``process`` therefore memoizes the WHOLE chain per
    distinct raw token (r6): on a Zipfian corpus the hot head hits a
    dict instead of re-running go_lower + utf8_len + stopword + stemmer
    per occurrence — measured ~3x on the build-side tokenize passes.
    The miss path asserts the one-in/at-most-one-out invariant, so a
    hypothetical splitting filter would fail loudly, not silently."""

    name: str
    filters: Sequence[TokenFilter] = field(default_factory=tuple)

    def process(self, text: str) -> list[str]:
        one = _token_fn(self)
        out: list[str] = []
        for t in tokenize(text):
            r = one(t)
            if r is not None:
                out.append(r)
        return out

    __call__ = process


# Per-process memo of the whole-chain token function, keyed by pipeline
# NAME (preset names are unique; a custom pipeline is named by its full
# custom_spec string, so the name determines the chain).
# Lives at module level — NOT on the Pipeline instance — so Pipeline
# objects captured in UDF closures stay cloudpickle-able; each worker
# process rebuilds its own memo lazily.
_TOKEN_FN_CACHE: dict[str, Callable[[str], "str | None"]] = {}


def _token_fn(p: "Pipeline") -> Callable[[str], "str | None"]:
    fn = _TOKEN_FN_CACHE.get(p.name)
    if fn is None:
        from functools import lru_cache

        filters = tuple(f for f in p.filters if f is not None)

        @lru_cache(maxsize=1 << 18)
        def one(tok: str) -> "str | None":
            toks = [tok]
            for f in filters:
                toks = f(toks)
                if not toks:
                    return None
            assert len(toks) == 1, (
                f"pipeline filter split token {tok!r} into {toks!r}"
            )
            return toks[0]

        _TOKEN_FN_CACHE[p.name] = fn = one
    return fn


def _minlen3(tokens: list[str]) -> list[str]:
    return min_length_filter(tokens, 3)


ENGLISH = Pipeline(
    "english",
    (lowercase_filter, _minlen3, english_stopword_filter, english_stem_filter),
)
RUSSIAN = Pipeline(
    "russian",
    (lowercase_filter, _minlen3, russian_stopword_filter, russian_stem_filter),
)
MULTILINGUAL = Pipeline(
    "multilingual",
    (
        lowercase_filter,
        _minlen3,
        multilingual_stopword_filter,
        multilingual_stem_filter,
    ),
)
# defaultPipeline (pkg/fts/default_pipeline.go): tokenize + lowercase only.
DEFAULT = Pipeline("default", (lowercase_filter,))

# Oracle-friendly preset: tokenize + lowercase + minlen + EN stopwords, no
# stemming — every stage is expressible in ANSI SQL, used by the DuckDB
# correctness gate. Not a reference preset; documented as an extension.
SIMPLE = Pipeline("simple", (lowercase_filter, _minlen3, english_stopword_filter))

PRESETS: dict[str, Pipeline] = {
    p.name: p for p in (ENGLISH, RUSSIAN, MULTILINGUAL, DEFAULT, SIMPLE)
}

_CUSTOM_PREFIX = "custom:"


def custom_spec(
    lowercase: bool = True,
    min_length: int = 3,
    stopwords_en: bool = True,
    stopwords_ru: bool = False,
    stem_en: bool = True,
    stem_ru: bool = False,
) -> str:
    """Canonical string form of a flags-assembled pipeline — a plain string
    travels through UDF closures and index metadata where a Pipeline object
    would not. Accepted anywhere a preset name is (``get_pipeline``)."""
    return (
        f"{_CUSTOM_PREFIX}lc={int(lowercase)},min={min_length},"
        f"sw_en={int(stopwords_en)},sw_ru={int(stopwords_ru)},"
        f"st_en={int(stem_en)},st_ru={int(stem_ru)}"
    )


def _parse_custom(spec: str) -> Pipeline:
    """Assemble from a ``custom:`` spec in the reference's filter order
    (``buildPipeline``, cmd/fts/main.go:562-590): lowercase → min_length →
    stopwords(en) → stopwords(ru) → stem(en) → stem(ru)."""
    from functools import partial

    kv = {}
    for part in spec[len(_CUSTOM_PREFIX) :].split(","):
        k, _, v = part.partition("=")
        kv[k.strip()] = int(v)
    unknown = set(kv) - {"lc", "min", "sw_en", "sw_ru", "st_en", "st_ru"}
    if unknown:
        raise ValueError(f"unknown custom-pipeline flags {sorted(unknown)}")
    filters: list[TokenFilter] = []
    if kv.get("lc", 1):
        filters.append(lowercase_filter)
    if kv.get("min", 3) > 0:
        filters.append(partial(min_length_filter, min_length=kv.get("min", 3)))
    if kv.get("sw_en", 0):
        filters.append(english_stopword_filter)
    if kv.get("sw_ru", 0):
        filters.append(russian_stopword_filter)
    if kv.get("st_en", 0):
        filters.append(english_stem_filter)
    if kv.get("st_ru", 0):
        filters.append(russian_stem_filter)
    return Pipeline(spec, tuple(filters))


def get_pipeline(name: str) -> Pipeline:
    if name.startswith(_CUSTOM_PREFIX):
        return _parse_custom(name)
    try:
        return PRESETS[name]
    except KeyError:
        raise ValueError(
            f"unknown pipeline preset {name!r}; have {sorted(PRESETS)} "
            f"or a '{_CUSTOM_PREFIX}' spec"
        ) from None
