"""Seeded inputs: the corpus (cached by seed and size), its vocabulary,
the query mixes and the mutation batches. The engine only ever sees what
these functions generate."""

from __future__ import annotations

import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

SENTS = (20, 60)  # sentences per page, as in the repo's bench corpus
HEAD_TERM = "turtle"  # gen_corpus plants it in ~60% of English pages
_WORD = re.compile(r"[^\W\d_]{3,}")
# consonants only: no stemmer rule strips a suffix from such a token, so a
# marker survives indexing and query normalization unchanged
_MARK_LETTERS = "bcdfghjklmnpqrtvwxz"


def _parquet_ok(path: str) -> bool:
    """A killed writer leaves a torn file; trust only a closed footer."""
    try:
        with open(path, "rb") as f:
            f.seek(-4, os.SEEK_END)
            return f.read(4) == b"PAR1"
    except OSError:
        return False


def ensure_corpus(cache_dir: str, seed: int, n_pages: int) -> str:
    """Path of the (seed, size) corpus, generated on first use."""
    from tools.gen_corpus import write_corpus

    os.makedirs(cache_dir, exist_ok=True)
    lo, hi = SENTS
    path = os.path.join(cache_dir, f"corpus_s{seed}_n{n_pages}_{lo}_{hi}.parquet")
    if _parquet_ok(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    write_corpus(tmp, n_pages, seed=seed, min_sents=lo, max_sents=hi)
    os.replace(tmp, path)
    return path


@dataclass
class Corpus:
    path: str
    urls: list[str]
    texts: list[str]
    langs: list[str]

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)


def load_corpus(path: str) -> Corpus:
    t = pq.read_table(path, columns=["url", "text", "lang"])
    return Corpus(
        path,
        t.column("url").to_pylist(),
        t.column("text").to_pylist(),
        t.column("lang").to_pylist(),
    )


def vocabulary(corpus: Corpus, keep) -> dict[str, list[str]]:
    """Words of the corpus per language, most frequent first. ``keep(word)``
    drops words the query pipeline would discard (stopwords)."""
    counts: dict[str, Counter] = {"en": Counter(), "ru": Counter()}
    for text, lang in zip(corpus.texts, corpus.langs):
        counts["ru" if lang == "ru" else "en"].update(
            w.lower() for w in _WORD.findall(text)
        )
    return {
        lang: [w for w, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0])) if keep(w)]
        for lang, c in counts.items()
    }


def _zipf_pick(rng: random.Random, words: list[str], k: int) -> list[str]:
    weights = [1.0 / (i + 1) for i in range(len(words))]
    return rng.choices(words, weights=weights, k=k)


def unknown_word(rng: random.Random) -> str:
    return "".join(rng.choice(_MARK_LETTERS) for _ in range(9))


def serve_queries(seed: int, vocab: dict[str, list[str]], n: int) -> list[tuple[str, int]]:
    """The serve mix. Its shape is the same for every seed, so that seeds
    differ in which words are asked, not in how many: query ``i`` has
    ``1 + i % 4`` Zipf-drawn terms and k = 10 or 100 on alternate groups of
    four; of every ten queries one is Russian, one carries the head term and
    one an unknown term."""
    rng = random.Random(f"serve-{seed}")
    out = []
    for i in range(n):
        lang = "ru" if i % 10 == 9 else "en"
        terms = _zipf_pick(rng, vocab[lang], 1 + i % 4)
        if i % 10 == 3:
            terms[0] = HEAD_TERM
        if i % 10 == 7:
            terms.append(unknown_word(rng))
        out.append((" ".join(terms), 10 if (i // 4) % 2 == 0 else 100))
    return out


def mid_df_queries(
    seed: int, corpus: Corpus, normalize, n: int, share: float = 0.3, pool: int = 12
) -> list[str]:
    """Operator queries: single English words whose indexed term is in about
    ``share`` of the English pages, so every call's match set is mid-sized
    and of about the same size for every seed. ``normalize(word)`` is the
    query pipeline; the seed picks among the ``pool`` closest terms."""
    terms: dict[str, str] = {}  # word -> its single indexed term, or ""
    df: Counter = Counter()
    n_pages = 0
    for text, lang in zip(corpus.texts, corpus.langs):
        if lang == "ru":
            continue
        n_pages += 1
        seen = set()
        for w in {w.lower() for w in _WORD.findall(text)}:
            if w not in terms:
                norm = normalize(w)
                terms[w] = norm[0] if len(norm) == 1 else ""
            seen.add(terms[w])
        df.update(seen - {""})
    word_of = {t: w for w, t in sorted(terms.items(), reverse=True) if t}
    target = share * n_pages
    closest = sorted(df, key=lambda t: (abs(df[t] - target), t))[:pool]
    rng = random.Random(f"operators-{seed}")
    return [word_of[rng.choice(closest)] for _ in range(n)]


@dataclass
class Cycle:
    recrawl: list[tuple[str, str, str]]  # (url, text, lang), url already indexed
    fresh: list[tuple[str, str, str]]  # (url, text, lang), url new to the index
    delete: list[str]
    markers: dict[str, str] = field(default_factory=dict)  # url -> marker token

    @property
    def upserts(self) -> list[tuple[str, str, str]]:
        return self.recrawl + self.fresh


def mutation_cycles(
    seed: int, corpus: Corpus, n_cycles: int, n_update: int, n_delete: int
) -> list[Cycle]:
    """Upsert batches (half re-crawls of live urls, half new urls) and
    delete batches. Every upserted page carries a marker token unique to
    it, so the benchmark can find exactly that version again."""
    from tools.gen_corpus import gen_rows

    rng = random.Random(f"mutate-{seed}")
    live = list(corpus.urls)
    rng.shuffle(live)
    cycles = []
    for c in range(n_cycles):
        _, _, _, texts, langs = gen_rows(
            n_update, seed=seed * 1009 + c + 1, min_sents=SENTS[0] // 4, max_sents=SENTS[1] // 4
        )
        n_re = n_update // 2
        recrawl_urls = [live.pop() for _ in range(n_re)]
        fresh_urls = [
            f"https://fresh{seed}.example/c{c}/p{i}" for i in range(n_update - n_re)
        ]
        urls = recrawl_urls + fresh_urls
        markers = {u: "zq" + unknown_word(rng) for u in urls}
        rows = [
            (u, f"{t} {markers[u]}", lang) for u, t, lang in zip(urls, texts, langs)
        ]
        delete = [live.pop() for _ in range(n_delete)]
        # re-crawled and fresh urls stay live and may be re-crawled later
        live[:0] = urls
        cycles.append(Cycle(rows[:n_re], rows[n_re:], delete, markers))
    return cycles
