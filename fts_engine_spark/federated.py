"""Federated (multi-snapshot) search: scatter-gather over N independent
index snapshots with globally-correct BM25 statistics.

At web scale an index is never one artifact. A 10^12-document corpus is
built as MANY independent snapshots — per crawl segment, per time window,
per language partition — because build, compaction and retention all want
to operate on bounded units, and because "reindex the world" is not a
thing. Serving then has to answer one query across all of them AS IF they
were a single index. The reference is a single-process engine whose index
is one in-memory artifact per Engine (reference: pkg/fts/engine.go:82-158,
one index per Engine); federation is the scale extension of that design,
the same way the sharded posting build extends its single trie.

Correctness hinges on one observation: every per-document predicate
(conjunctive AND, minimum-should-match, NOT-exclusion, the `within`
restriction) distributes trivially across snapshots — a document lives in
exactly ONE sub-index, so a per-doc predicate evaluated sub-locally is the
global predicate. The only cross-snapshot coupling is the statistics:

  - idf needs the GLOBAL document frequency and GLOBAL N,
  - length normalization needs the GLOBAL average document length.

Scoring each snapshot with its LOCAL stats would rank incomparably (the
classic distributed-IR mistake); :class:`FederatedFtsIndex` instead:

  1. aggregates (df, N, total_len) for the query terms across snapshots —
     a driver-side sum over per-sub point lookups (`FtsIndex.term_stats`:
     free when warm, one pruned terms-scan job per sub when cold);
  2. scatters the SAME block-max WAND kernel to every snapshot with the
     global constants riding its closure
     (:meth:`fts_engine_spark.query.FtsIndex._bm25_wand_stats` — the plan
     per sub is identical to a single-index warm query: pruned posting
     scan -> one applyInPandas per shard -> local top-k, zero exchanges);
  3. gathers per-sub top-k and takes the global top-k — a union + sort of
     at most ``len(subs) * k`` hydrated rows, never a rescore.

The result set is identical to a single index built over the union corpus
(tests/test_federated.py asserts bit-equal scores; the
``fts_federated_bm25`` contract row checks the two-snapshot federation
against the same full-corpus SQL oracle as the single-index rows).

Cross-sub ordering: sub-local dense doc ids are meaningless across
snapshots, so the global serving order is (score desc, url asc) — url is
the corpus-global identity the build keys on. Within one sub the WAND
kernel's (score desc, doc_id asc) order is a refinement of it (dense ids
are assigned in url-md5 order per bucket, not url order), which is why the
merge re-sorts by url rather than trusting sub-local order. One documented
ambiguity follows: at an EXACT raw-score tie straddling the k boundary the
single index admits tie members in dense-id order and the federation in
url order — any tie member is a correct rank-k (the same 1e-6-class
ambiguity the cursor docs note for round-6 ties).

Scale shape: per-query work is one tiny stats lookup per sub (warm: none)
plus one single-index-shaped job per sub; the gather is k rows per sub.
1000 snapshots * k=10 = 10k rows on the driver — the same bounded-collect
class as every other top-k in this engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .query import _INCLUDE_TOO_BIG, FtsIndex, normalize_query


class FederatedFtsIndex:
    """Search N independent index snapshots as one logical index.

    All snapshots must share the text pipeline (``preset``) — federating
    indexes that tokenize differently would make df aggregation
    meaningless; the constructor fails loudly on a mismatch.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dirs: "list[str]",
        pruning: str = "dict",
    ):
        if not index_dirs:
            raise ValueError("FederatedFtsIndex needs at least one index dir")
        self.spark = spark
        self.subs = [FtsIndex(spark, d, pruning=pruning) for d in index_dirs]
        presets = {s.preset for s in self.subs}
        if len(presets) > 1:
            raise ValueError(
                "federated snapshots must share one text pipeline; got "
                f"presets {sorted(presets)}"
            )
        self.preset = self.subs[0].preset
        self.n_docs = sum(s.n_docs for s in self.subs)
        # reconstruct each snapshot's INTEGER token total from its meta
        # (avgdl = total_tokens / n_docs at build time, build.py:848-853);
        # rounding recovers the exact integer for any corpus below ~2^51
        # tokens, so the global avgdl here is bit-identical to what a
        # single union-corpus build would compute — scores match the
        # single-index path to the last float bit (tests/test_federated.py)
        total_len = sum(round(s.n_docs * s.avgdl) for s in self.subs)
        self.avgdl = float(total_len) / max(1, self.n_docs)

    def warm(self, **kw) -> "FederatedFtsIndex":
        for s in self.subs:
            s.warm(**kw)
        return self

    # -- query ------------------------------------------------------------

    def _query_mult(self, query: str, preset: str | None = None) -> dict:
        """Normalized query tokens with multiplicity. Deliberately does
        NOT consult any single sub's probabilistic term gate: a gate fit
        on snapshot A's vocabulary would false-negative terms that only
        snapshot B contains. Presence is decided per sub by its own
        term_stats lookup instead."""
        mult: dict[str, int] = {}
        for t in normalize_query(query, self.subs[0]._query_preset(preset)):
            mult[t] = mult.get(t, 0) + 1
        return mult

    def _empty(self) -> DataFrame:
        return self.spark.range(0).select(
            F.col("id").cast("string").alias("url"),
            F.col("id").cast("string").alias("url_md5"),
            F.col("id").cast("double").alias("score"),
        )

    def search_bm25(
        self,
        query: str,
        k: int = 10,
        preset: str | None = None,
        conjunctive: bool = False,
        min_match: int | None = None,
        exclude: str | None = None,
        within: "DataFrame | list[str] | None" = None,
    ) -> DataFrame:
        """Global top-k BM25 over the union of all snapshots, identical to
        a single index built over the union corpus. Returns
        ``(url, url_md5, score)`` ordered (score desc, url asc) — url is
        the cross-snapshot identity; sub-local doc ids never escape.

        ``conjunctive`` / ``min_match`` / ``exclude`` / ``within`` carry
        the exact single-index semantics (see :meth:`FtsIndex.search_bm25`)
        — they are per-document predicates, so sub-local evaluation IS the
        global evaluation. ``k <= 0`` returns the full match set.

        A ``within`` set larger than a sub's driver include bound raises
        (the single-index relational fallback has no stats-override twin);
        restrict the set or query the sub directly.
        """
        if min_match is not None and conjunctive:
            raise ValueError("pass either conjunctive or min_match, not both")
        mult = self._query_mult(query, preset)
        if not mult:
            return self._empty()
        require_n = len(mult) if conjunctive else max(0, int(min_match or 0))
        if require_n > len(mult):
            return self._empty()
        excl_mult = self._query_mult(exclude, preset) if exclude else {}
        if excl_mult:
            if conjunctive and set(mult) & set(excl_mult):
                return self._empty()
            mult = {t: m for t, m in mult.items() if t not in excl_mult}
            if not mult:
                return self._empty()

        # global stats: one point lookup per sub (warm: no job at all)
        lookup = list(mult) + list(excl_mult)
        sub_stats = [s.term_stats(lookup) for s in self.subs]
        df_global: dict[str, int] = {}
        for st in sub_stats:
            for t, (df_, _cf) in st.items():
                df_global[t] = df_global.get(t, 0) + int(df_)
        present_global = {t: m for t, m in mult.items() if t in df_global}
        if not present_global or (
            require_n > 0 and len(present_global) < require_n
        ):
            # conjunctive/min_match: a term absent from EVERY snapshot can
            # never be matched — global empty, zero jobs
            return self._empty()

        parts: list[DataFrame] = []
        for sub, stats in zip(self.subs, sub_stats):
            present = {
                t: (float(m), df_global[t])
                for t, m in present_global.items()
                if t in stats
            }
            if not present or (require_n > 0 and len(present) < require_n):
                continue  # this snapshot cannot contribute any match
            incl_ids = None
            if within is not None:
                incl_ids = sub._within_ids(sub._within_df(within))
                if incl_ids is _INCLUDE_TOO_BIG:
                    raise RuntimeError(
                        "within-set exceeds the driver include bound for "
                        f"snapshot {sub.index_dir}; restrict the set or "
                        "query the sub-index directly"
                    )
                if incl_ids is not None and len(incl_ids) == 0:
                    continue  # restriction excludes this whole snapshot
            excl_present = frozenset(t for t in excl_mult if t in stats)
            scored = sub._bm25_wand_stats(
                present, k,
                n_docs=self.n_docs, avgdl=self.avgdl,
                require_n=require_n,
                excl_terms=excl_present or None,
                incl_ids=incl_ids,
            )
            right = F.broadcast(scored) if k > 0 else scored
            parts.append(
                sub.docs()
                .select("doc_id", "url", "url_md5")
                .join(right, "doc_id")
                .select("url", "url_md5", "score")
            )
        if not parts:
            return self._empty()
        out = reduce(DataFrame.unionByName, parts).orderBy(
            F.desc("score"), F.asc("url")
        )
        if k > 0:
            out = out.limit(k)
        return out

    # -- point-serving tier -------------------------------------------------

    def enable_point_serving(self, **kw) -> "FederatedFtsIndex":
        """Enable the in-process serving tier on every snapshot (see
        :meth:`FtsIndex.enable_point_serving`); ``kw`` (budgets) applies
        to each sub. The federation then serves warm single queries with
        ZERO Spark jobs end-to-end: per-sub sweeps run the in-process WAND
        kernel with the GLOBAL stats riding as overrides, and the k-row
        url hydration reads the docs parquet driver-side
        (:meth:`FtsIndex.doc_urls_local`)."""
        for s in self.subs:
            s.enable_point_serving(**kw)
        return self

    def search_bm25_point(
        self,
        query: str,
        k: int = 10,
        preset: str | None = None,
        conjunctive: bool = False,
        min_match: int | None = None,
        exclude: str | None = None,
    ) -> list[tuple[str, str, float]]:
        """Global top-k served from the driver when possible: a warm
        federated query schedules NO Spark job in ANY snapshot. Returns
        ``[(url, url_md5, score)]`` in the federation's serving order
        (score desc, url asc) — exactly :meth:`search_bm25`'s rows
        (asserted in tests/test_federated.py).

        Per sub this is the single-index point sweep
        (:meth:`FtsIndex._point_sweep`) with the federation's global
        (df, N, avgdl) riding as overrides — the point-tier twin of
        :meth:`FtsIndex._bm25_wand_stats`. Falls back to the distributed
        federated path when any snapshot cannot point-serve (tier off,
        a term's postings exceed its point budget, or its tombstone set
        exceeds the driver-array bound). Scale shape: per-sub work is an
        in-memory sweep + a ~k-row-group parquet read; the merge is
        ``len(subs) * k`` tuples on the driver.
        """

        def _fallback() -> list[tuple[str, str, float]]:
            return [
                (r["url"], r["url_md5"], float(r["score"]))
                for r in self.search_bm25(
                    query, k=k, preset=preset, conjunctive=conjunctive,
                    min_match=min_match, exclude=exclude,
                ).collect()
            ]

        if not all(s._point_ready() for s in self.subs):
            return _fallback()
        if min_match is not None and conjunctive:
            raise ValueError("pass either conjunctive or min_match, not both")
        mult = self._query_mult(query, preset)
        if not mult:
            return []
        require_n = len(mult) if conjunctive else max(0, int(min_match or 0))
        if require_n > len(mult):
            return []
        excl_mult = self._query_mult(exclude, preset) if exclude else {}
        if excl_mult:
            if conjunctive and set(mult) & set(excl_mult):
                return []
            mult = {t: m for t, m in mult.items() if t not in excl_mult}
            if not mult:
                return []

        # global stats: warm term_stats is a pure dict lookup, no job
        lookup = list(mult) + list(excl_mult)
        sub_stats = [s.term_stats(lookup) for s in self.subs]
        df_global: dict[str, int] = {}
        for st in sub_stats:
            for t, (df_, _cf) in st.items():
                df_global[t] = df_global.get(t, 0) + int(df_)
        present_global = {t: m for t, m in mult.items() if t in df_global}
        if not present_global or (
            require_n > 0 and len(present_global) < require_n
        ):
            return []
        # budget gate on the SUB-LOCAL df (that is what gets cached): any
        # oversized posting list routes the whole query distributed, same
        # rule as the single-index tier
        if not all(s._point_fits(lookup) for s in self.subs):
            return _fallback()

        merged: list[tuple[float, str, str]] = []
        for sub, stats in zip(self.subs, sub_stats):
            present = {
                t: (m, df_global[t])
                for t, m in present_global.items()
                if t in stats
            }
            if not present or (require_n > 0 and len(present) < require_n):
                continue
            excl_present = frozenset(t for t in excl_mult if t in stats)
            rows = sub._point_sweep(
                present, k, require_n, excl_present or None,
                n_docs=self.n_docs, avgdl=self.avgdl,
            )
            if not rows:
                continue
            urls = sub.doc_urls_local([d for d, _s in rows])
            for d, sc in rows:
                u, m5 = urls[int(d)]
                merged.append((float(sc), u, m5))
        merged.sort(key=lambda t: (-t[0], t[1]))
        if k > 0:
            merged = merged[:k]
        return [(u, m5, sc) for sc, u, m5 in merged]
