"""Public engine API — the reference's ``Engine`` interface re-expressed for
Spark (``/root/reference/pkg/fts/types.go:69-72``: ``IndexDocument`` /
``SearchDocuments``; options pattern ``pkg/fts/options.go:3-17``).

State lives in tables, not heap (SURVEY.md §1.3): the engine object is a
thin handle over (SparkSession, config, index_dir). ``index_documents`` is
the whole build DAG; ``search`` the query plan; ``load``/``save`` are the
snapshot codec equivalents (parquet segment dirs + manifest instead of gob
envelopes, ``pkg/fts/snapshot.go``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import BuildConfig, build_index
from .query import FtsIndex, normalize_query
from .textproc.pipeline import get_pipeline


@dataclass(frozen=True)
class EngineOptions:
    """Options pattern (WithPipeline/WithFilter → keyword args).

    ``preset`` accepts a preset name OR a ``custom:`` flags spec
    (``textproc.pipeline.custom_spec``); ``k`` is the default top-k for
    searches that don't pass one (reference config ``query.k``)."""

    preset: str = "by_lang"
    shard_size: int = 1 << 20
    skip_block: int = 128
    id_buckets: int | None = None  # None -> auto-scale with parallelism
    n_waves: int = 1
    scorer: str = "bm25"  # 'bm25' | 'reference'
    mode: str = "wand"  # 'wand' | 'relational'
    pruning: str = "dict"  # 'dict' | 'storage' | 'cuckoo' | 'ribbon' (operators.pruning)
    bloom_ndv: int = 1 << 16
    k: int = 10
    # build the positional table (index-only phrase queries, positions.py)
    store_positions: bool = False
    # persist text doc_id-sorted beside the index (stored.py) so
    # snippets/hydration point-read k row groups without the source table
    store_text: bool = False
    # extra input metadata columns stored in the docs table for
    # query-time field filters (build.BuildConfig.meta_cols)
    meta_cols: tuple = ()


class FtsEngine:
    """End-to-end engine: build → persist → search, resumable."""

    def __init__(self, spark: SparkSession, index_dir: str, options: EngineOptions | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self.options = options or EngineOptions()
        self._index: FtsIndex | None = None

    # ---- build (Entry point A/B, SURVEY.md §3.1/3.2)
    def index_documents(self, docs: DataFrame, resume: bool = True) -> dict:
        o = self.options
        cfg = BuildConfig(
            preset=o.preset,
            shard_size=o.shard_size,
            skip_block=o.skip_block,
            id_buckets=o.id_buckets,
            n_waves=o.n_waves,
            bloom_ndv=o.bloom_ndv,
            store_positions=o.store_positions,
            store_text=o.store_text,
            meta_cols=o.meta_cols,
        )
        meta = build_index(self.spark, docs, self.index_dir, cfg, resume=resume)
        self._drop_index()
        return meta

    def index_pages(
        self, location: str, fmt: str | None = None, resume: bool = True
    ) -> dict:
        """Index the web-pages input table directly (north-star entry:
        an Iceberg/parquet table of ``(url, warc_ts, html, text, lang)``
        pages — ``sources.pages.read_pages`` resolves the format and
        conforms the schema, backfilling ``text`` from ``html`` via the
        byte-identical extract UDF where needed)."""
        from .sources.pages import read_pages

        return self.index_documents(
            read_pages(self.spark, location, fmt=fmt), resume=resume
        )

    # ---- load (Entry point D: snapshot restore)
    @property
    def index(self) -> FtsIndex:
        if self._index is None:
            if not os.path.exists(os.path.join(self.index_dir, "meta.json")):
                raise FileNotFoundError(
                    f"no index at {self.index_dir}; run index_documents first"
                )
            self._index = FtsIndex(
                self.spark, self.index_dir, pruning=self.options.pruning
            )
        return self._index

    def _drop_index(self) -> None:
        """Release the open handle so the next access reopens the new
        snapshot. close() first: dropping the reference alone would
        strand warm-persisted caches in executor storage and leave the
        session conf warm() saved (AQE) unrestored."""
        if self._index is not None:
            self._index.close()
            self._index = None

    @classmethod
    def from_alias(
        cls,
        spark: SparkSession,
        alias: str,
        options: "EngineOptions | None" = None,
    ) -> "FtsEngine":
        """Open the index an alias currently names (zero-downtime swap
        target; see :mod:`fts_engine_spark.alias`). The handle serves the
        resolved directory for its lifetime — re-call after a
        ``reindex_swap`` flip to pick up the new target."""
        from .alias import resolve_alias

        return cls(spark, resolve_alias(alias), options)

    @classmethod
    def from_config(
        cls, spark: SparkSession, path: str | None = None
    ) -> "FtsEngine":
        """Construct from a YAML/JSON config file + env overrides — the
        reference's ``MustLoad`` entry path (config/config.go:74-104).

        Every config field is wired or rejected (nothing silently no-ops):
        ``preset: ""`` resolves the pipeline FLAGS into a ``custom:`` spec
        (``buildPipeline`` role, main.go:562-590); ``query.k`` becomes the
        default search k; ``dump_path`` names the index dir when
        ``index.index_dir`` is left at its default (the reference's
        DUMP_PATH snapshot-location role); ``load_on_start`` eagerly opens
        an existing index; ``save_on_build: false`` is rejected — this
        engine's build IS a persist (tables are the state, SURVEY.md §1.3),
        an in-memory-only build does not exist."""
        from .config import ConfigError, IndexConfig, load_config, resolve_pipeline

        cfg, _source = load_config(path)
        if not cfg.index.save_on_build:
            raise ConfigError(
                "index.save_on_build=false is unsupported: builds persist by "
                "construction (the parquet index IS the engine state)"
            )
        index_dir = cfg.index.index_dir
        if cfg.dump_path and index_dir == IndexConfig().index_dir:
            index_dir = cfg.dump_path
        opts = EngineOptions(
            preset=resolve_pipeline(cfg),
            shard_size=cfg.index.shard_size,
            skip_block=cfg.index.skip_block,
            id_buckets=cfg.index.id_buckets or None,
            n_waves=cfg.index.n_waves,
            scorer=cfg.query.scorer,
            mode=cfg.query.mode,
            pruning=cfg.query.pruning,
            bloom_ndv=cfg.index.bloom_ndv,
            k=cfg.query.k,
        )
        eng = cls(spark, index_dir, opts)
        if cfg.index.load_on_start and os.path.exists(
            os.path.join(index_dir, "meta.json")
        ):
            _ = eng.index  # snapshot restore at startup (config.go:35 role)
        return eng

    # ---- search (Entry point C)
    def search(
        self,
        query: str,
        k: int | None = None,
        scorer: str | None = None,
        mode: str | None = None,
        hydrate: bool = False,
        conjunctive: bool = False,
        exclude: str | None = None,
        within=None,
        min_match: int | None = None,
        offset: int = 0,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """``conjunctive`` (AND), ``exclude`` (NOT), ``within``
        (restriction filter: url list/DataFrame, the ``site:``/sub-corpus
        search), ``min_match`` (minimum-should-match), ``offset``
        (pagination) and ``after`` (cursor pagination — the previous
        page's last (score, doc_id); deep pages cost page-1 work) extend
        the reference's OR-accumulate; bm25 scorer only (the reference
        scorer keeps its exact ``engine.go:82-158`` surface)."""
        k = self.options.k if k is None else k
        scorer = scorer or self.options.scorer
        if scorer == "reference":
            if (
                conjunctive or exclude or within is not None or min_match
                or offset or after is not None
            ):
                raise ValueError(
                    "conjunctive/exclude/within/min_match/offset/after "
                    "require scorer='bm25'"
                )
            return self.index.search_reference(query, k, hydrate=hydrate)
        if scorer == "bm25":
            return self.index.search_bm25(
                query, k, mode=mode or self.options.mode, hydrate=hydrate,
                conjunctive=conjunctive, exclude=exclude, within=within,
                min_match=min_match, offset=offset, after=after,
            )
        raise ValueError(f"unknown scorer {scorer!r}")

    def search_collapsed(
        self, query: str, collapse: str = "lang", k: int | None = None
    ) -> DataFrame:
        """Field collapsing (Elasticsearch ``collapse``): the best doc
        per value of a docs column, top-k groups by best score (see
        :meth:`FtsIndex.search_bm25_collapsed`)."""
        return self.index.search_bm25_collapsed(
            query, collapse=collapse, k=self.options.k if k is None else k
        )

    def search_rescored(
        self,
        query: str,
        phrase: str,
        k: int | None = None,
        n_candidates: int = 100,
        weight: float = 1.0,
    ) -> DataFrame:
        """Two-phase retrieval (Elasticsearch ``rescore``): BM25 top-N,
        then final = bm25 + weight * phrase_count over only those N
        (see :meth:`FtsIndex.search_bm25_rescored`)."""
        return self.index.search_bm25_rescored(
            query, phrase, k=self.options.k if k is None else k,
            n_candidates=n_candidates, weight=weight,
        )

    def significant_terms(
        self, query: str, k: int = 20, min_fg_df: int = 3
    ) -> DataFrame:
        """Significant-terms aggregation (Elasticsearch
        ``significant_terms``): terms over-represented in the match set
        vs the corpus (see :meth:`FtsIndex.significant_terms`)."""
        return self.index.significant_terms(query, k=k, min_fg_df=min_fg_df)

    def facet_counts(self, query: str, facet: str = "lang") -> DataFrame:
        """Facet panel: distinct matching docs per docs-column value over
        the full match set (see :meth:`FtsIndex.facet_counts`)."""
        return self.index.facet_counts(query, facet=facet)

    def facet_histogram(
        self, query: str, col: str = "doclen", width: int = 50
    ) -> DataFrame:
        """Histogram facet (date-histogram analog): distinct matching docs
        per fixed-width bucket of an ordered docs column (see
        :meth:`FtsIndex.facet_histogram`)."""
        return self.index.facet_histogram(query, col=col, width=width)

    def facet_stats(self, query: str, col: str = "doclen") -> DataFrame:
        """Stats facet (Elasticsearch ``stats`` aggregation analog):
        count/min/max/avg/sum of a numeric docs column over the full
        match set (see :meth:`FtsIndex.facet_stats`)."""
        return self.index.facet_stats(query, col=col)

    def search_sorted(
        self,
        query: str,
        by: str = "doclen",
        ascending: bool = False,
        k: int | None = None,
    ) -> DataFrame:
        """Field-sorted retrieval (ES ``sort`` analog): top-k of the
        full match set by a docs-table metadata column — no scoring, no
        tf/dl decode (see :meth:`FtsIndex.search_sorted`)."""
        return self.index.search_sorted(
            query, by=by, ascending=ascending,
            k=self.options.k if k is None else k,
        )

    def facet_cardinality(
        self, query: str, col: str = "lang", exact: bool = False
    ) -> DataFrame:
        """Cardinality facet (ES ``cardinality`` aggregation analog):
        distinct values of a docs column over the full match set —
        HyperLogLog++ sketch by default, ``exact=True`` for
        count-distinct (see :meth:`FtsIndex.facet_cardinality`)."""
        return self.index.facet_cardinality(query, col=col, exact=exact)

    def facet_percentiles(
        self,
        query: str,
        col: str = "doclen",
        percentiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
        exact: bool = True,
    ) -> DataFrame:
        """Percentiles facet (ES ``percentiles`` aggregation analog):
        exact interpolated percentiles of a numeric docs column over the
        full match set, or a bounded-memory sketch with ``exact=False``
        (see :meth:`FtsIndex.facet_percentiles`)."""
        return self.index.facet_percentiles(
            query, col=col, percentiles=percentiles, exact=exact
        )

    def explain(self, query: str, k: int | None = None) -> DataFrame:
        """Lucene ``Explanation`` analog: per-term BM25 contribution rows
        for the top-k (see :meth:`FtsIndex.explain_bm25`)."""
        return self.index.explain_bm25(
            query, self.options.k if k is None else k
        )

    def search_boosted(
        self,
        query: str,
        k: int | None = None,
        boost: DataFrame | None = None,
        default_boost: float = 1.0,
        hydrate: bool = False,
    ) -> DataFrame:
        """Query-time document boosting: ``bm25 * boost(url)`` with a
        (url, boost) DataFrame prior — recency decay, quality signal,
        source weighting (see :meth:`FtsIndex.search_bm25_boosted`)."""
        return self.index.search_bm25_boosted(
            query,
            self.options.k if k is None else k,
            boost=boost,
            default_boost=default_boost,
            hydrate=hydrate,
        )

    def search_decay(
        self,
        query: str,
        k: int | None = None,
        field: str = "doclen",
        origin: float = 0.0,
        scale: float = 10.0,
        decay: float = 0.5,
        offset_dist: float = 0.0,
        shape: str = "exp",
        hydrate: bool = False,
    ) -> DataFrame:
        """Function-score decay over a docs-table column — recency /
        proximity ranking (see :meth:`FtsIndex.search_bm25_decay`)."""
        return self.index.search_bm25_decay(
            query,
            self.options.k if k is None else k,
            field=field,
            origin=origin,
            scale=scale,
            decay=decay,
            offset_dist=offset_dist,
            shape=shape,
            hydrate=hydrate,
        )

    def search_full(
        self,
        query: str,
        k: int | None = None,
        scorer: str | None = None,
        mode: str | None = None,
        hydrate: bool = False,
        with_total: bool = True,
    ):
        """Reference ``SearchResult`` shape (``engine.go:146-157``): top-k
        rows + pre-truncation ``TotalResultsCount`` + ``Timings`` map
        (preprocess / search_tokens / total). ``with_total=False`` skips
        the pre-truncation count job (``total_results_count`` = -1) —
        serving callers that only want the top-k shouldn't pay a full
        posting decode for a number they discard."""
        return self.index.search_full(
            query,
            self.options.k if k is None else k,
            scorer=scorer or self.options.scorer,
            mode=mode or self.options.mode,
            hydrate=hydrate,
            with_total=with_total,
        )

    def search_phrase(
        self, docs: DataFrame, phrase: str, k: int | None = None
    ) -> DataFrame:
        """Positional (phrase) search — an extension beyond the reference's
        term-level engine. Candidates come off the compressed index's
        conjunctive WAND; only those docs are re-analyzed and checked for
        the contiguous sequence. ``docs`` is the source table (url, text
        [, lang]) — the index stores postings, not text."""
        from .operators.search import search_phrase

        return search_phrase(
            self.index, docs, phrase, k=self.options.k if k is None else k
        )

    def search_snippets(
        self,
        docs: DataFrame | None,
        query: str,
        k: int | None = None,
        window: int = 30,
        **kw,
    ) -> DataFrame:
        """Top-k BM25 with a best-window highlighted snippet per hit
        (see :mod:`.operators.snippets`); ``docs`` is the source table —
        the index stores postings, not text — or ``None`` to point-read
        the stored-fields table (``store_text=True`` build)."""
        from .operators.snippets import search_with_snippets

        return search_with_snippets(
            self.index, docs, query,
            k=self.options.k if k is None else k, window=window, **kw,
        )

    def search_snippets_point(
        self, query: str, k: int | None = None, window: int = 30, **kw
    ) -> list[tuple[int, str, float, str]]:
        """Snippets below the Spark job floor: point-tier hits + a
        driver-side pyarrow read of the stored-fields sidecar (see
        :func:`.operators.snippets.snippets_point`). Requires
        ``store_text=True`` (or a retrofit) and benefits from
        ``index.enable_point_serving()``."""
        from .operators.snippets import snippets_point

        return snippets_point(
            self.index, query,
            k=self.options.k if k is None else k, window=window, **kw,
        )

    def search_phrase_indexed(self, phrase: str, k: int | None = None) -> DataFrame:
        """Phrase search from the positional table alone (no source-table
        scan; requires ``store_positions=True`` at build). Same output
        contract as ``search_phrase``."""
        return self.index.search_phrase_positional(
            phrase, self.options.k if k is None else k
        )

    def search_phrase_point(
        self, phrase: str, k: int | None = None
    ) -> list[tuple[int, int]]:
        """Phrase search below the Spark job floor: in-process positional
        kernel over a driver-side LRU of the phrase terms' position rows
        (requires ``store_positions=True``; benefits from
        ``index.enable_point_serving()``, falls back to the distributed
        positional path otherwise). Returns (doc_id, phrase_count)."""
        return self.index.search_phrase_point(
            phrase, self.options.k if k is None else k
        )

    def search_phrase_prefix(
        self, phrase: str, k: int | None = None, max_expansions: int = 50
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (autocomplete): the last token of
        ``phrase`` is a dictionary prefix; a doc matches when any of its
        top-``max_expansions`` expansions (df desc, term asc) completes
        the contiguous phrase. Counts sum over expansions. Requires
        ``store_positions=True``. Returns (doc_id, url, phrase_count)."""
        return self.index.search_phrase_prefix(
            phrase, self.options.k if k is None else k, max_expansions
        )

    def search_phrase_prefix_point(
        self, phrase: str, k: int | None = None, max_expansions: int = 50
    ) -> list[tuple[int, int]]:
        """:meth:`search_phrase_prefix` below the Spark job floor (warm
        dictionary expansion + in-process positional kernel)."""
        return self.index.search_phrase_prefix_point(
            phrase, self.options.k if k is None else k, max_expansions
        )

    def search_near(
        self,
        phrase: str,
        slop: int = 2,
        k: int | None = None,
        in_order: bool = True,
    ) -> DataFrame:
        """Proximity search (Lucene ``SpanNearQuery`` / ``"a b"~N``
        analog): docs whose analyzed stream contains ALL of ``phrase``'s
        terms in order within ``len(terms) + slop`` tokens (default), or
        in ANY order within ``n_distinct + slop`` tokens with
        ``in_order=False``; ranked by the number of qualifying
        start/anchor positions. Resolved entirely from the positional
        table (``store_positions=True``); ordered ``slop=0`` is exactly
        :meth:`search_phrase_indexed`. Returns (doc_id, url,
        near_count)."""
        return self.index.search_near_positional(
            phrase, slop, self.options.k if k is None else k, in_order
        )

    def search_near_point(
        self,
        phrase: str,
        slop: int = 2,
        k: int | None = None,
        in_order: bool = True,
    ) -> list[tuple[int, int]]:
        """Proximity search below the Spark job floor — the span-near
        twin of :meth:`search_phrase_point`; same point cache, same
        fallbacks. Returns (doc_id, near_count)."""
        return self.index.search_near_point(
            phrase, slop, self.options.k if k is None else k, in_order
        )

    def search_synonyms(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int | None = None,
    ) -> DataFrame:
        """BM25 with query-time synonym groups (Lucene SynonymQuery
        semantics: group tf = sum of member tfs, group df = max member
        df, one idf/saturation per group — not a plain OR rewrite)."""
        return self.index.search_bm25_synonyms(
            query, synonyms, k=self.options.k if k is None else k,
            hydrate=True,
        )

    def search_prefix(
        self, query: str, k: int | None = None, max_expand: int = 64
    ) -> DataFrame:
        """BM25 with trailing-``*`` prefix patterns (dictionary-expanded,
        Lucene-style multi-term rewrite) — extension beyond the
        reference's exact-term search."""
        return self.index.search_bm25_prefix(
            query,
            self.options.k if k is None else k,
            mode=self.options.mode,
            hydrate=True,
            max_expand=max_expand,
        )

    def search_wildcard(
        self, query: str, k: int | None = None, max_expand: int = 64
    ) -> DataFrame:
        """BM25 with Lucene-style wildcard patterns (``*``/``?``,
        mid-string and leading positions) — dictionary-expanded multi-term
        rewrite, extension beyond the reference's exact-term search."""
        return self.index.search_bm25_wildcard(
            query,
            self.options.k if k is None else k,
            mode=self.options.mode,
            hydrate=True,
            max_expand=max_expand,
        )

    def search_regexp(
        self, query: str, k: int | None = None, max_expand: int = 64
    ) -> DataFrame:
        """BM25 with ``/regexp/`` term patterns (Lucene ``RegexpQuery``):
        full-match dictionary expansion in the Java/RE2/Python common
        regex subset — dictionary-expanded multi-term rewrite, extension
        beyond the reference's exact-term search."""
        return self.index.search_bm25_regexp(
            query,
            self.options.k if k is None else k,
            mode=self.options.mode,
            hydrate=True,
            max_expand=max_expand,
        )

    def search_fuzzy(
        self,
        query: str,
        k: int | None = None,
        max_dist: int = 1,
        max_expand: int = 64,
    ) -> DataFrame:
        """Typo-tolerant BM25: each term expanded to dictionary terms
        within ``max_dist`` edits — extension beyond the reference."""
        return self.index.search_bm25_fuzzy(
            query,
            self.options.k if k is None else k,
            mode=self.options.mode,
            hydrate=True,
            max_dist=max_dist,
            max_expand=max_expand,
        )

    def search_boolean(
        self,
        query: str,
        k: int | None = None,
        within: "DataFrame | list[str] | None" = None,
        max_expand: int = 64,
        offset: int = 0,
    ) -> DataFrame:
        """Lucene-lite boolean query string: ``word`` scores, ``+word`` /
        ``+(a OR b)`` requires, ``-word`` excludes, ``"a b"`` is a
        required phrase, ``pre*`` / ``word~N`` expand — grammar in
        :mod:`fts_engine_spark.queryparse`; extension beyond the
        reference's plain OR query."""
        return self.index.search_boolean(
            query,
            self.options.k if k is None else k,
            mode=self.options.mode,
            hydrate=True,
            within=within,
            max_expand=max_expand,
            offset=offset,
        )

    def more_like_this(
        self,
        url: str | None = None,
        doc_id: int | None = None,
        docs: DataFrame | None = None,
        k: int | None = None,
        max_terms: int = 25,
        min_tf: int = 1,
        min_df: int = 1,
    ) -> DataFrame:
        """Documents most similar to a source doc (Lucene MoreLikeThis):
        its highest-tf / rarest terms run as an OR BM25 query, source
        excluded — extension beyond the reference. Text comes from the
        stored-fields sidecar or the ``docs`` DataFrame."""
        from .operators.morelike import more_like_this

        return more_like_this(
            self.index,
            url=url,
            doc_id=doc_id,
            docs=docs,
            k=self.options.k if k is None else k,
            max_terms=max_terms,
            min_tf=min_tf,
            min_df=min_df,
            mode=self.options.mode,
            hydrate=True,
        )

    def suggest(self, query: str, max_dist: int = 2) -> DataFrame:
        """Did-you-mean: per normalized query token, the best dictionary
        term within ``max_dist`` edits (distance asc, df desc, term asc
        — Lucene's spellchecker order); extension beyond the
        reference."""
        from .operators.suggest import suggest_terms

        return suggest_terms(self.index, query, max_dist=max_dist)

    # ---- Analyze (types.go:32-34, stats.go:3-11): index-shape stats
    def delete_documents(self, urls: "list[str] | DataFrame") -> dict:
        """Tombstone documents by url (list, or a DataFrame with a ``url``
        column — e.g. ``operators.curation.decontaminate`` output). Results
        exclude them immediately; stats stay stale (Lucene semantics) until
        ``compact()`` purges them physically. See
        :mod:`fts_engine_spark.mutate`."""
        from .mutate import delete_documents

        out = delete_documents(self.spark, self.index_dir, urls)
        self._drop_index()  # reopen to observe the new tombstone snapshot
        return out

    def update_documents(self, docs: DataFrame) -> dict:
        """Upsert by url (re-crawl): tombstone existing versions, append
        the new ones as a delta batch; compact() purges the old rows. See
        :func:`fts_engine_spark.mutate.update_documents`."""
        from .mutate import update_documents

        o = self.options
        cfg = BuildConfig(
            preset=o.preset, shard_size=o.shard_size, skip_block=o.skip_block,
            id_buckets=o.id_buckets, n_waves=1, bloom_ndv=o.bloom_ndv,
        )
        out = update_documents(self.spark, self.index_dir, docs, cfg)
        self._drop_index()
        return out

    def merge_from(self, src_index_dir: str, compact_after: bool = True) -> dict:
        """Merge another index (same preset/shard_size) into this one —
        segment indexes built independently (per-lang, per-crawl) unified
        without re-tokenizing; O(src) cost. See
        :func:`fts_engine_spark.mutate.merge_indexes`."""
        from .mutate import merge_indexes

        meta = merge_indexes(
            self.spark, self.index_dir, src_index_dir,
            compact_after=compact_after,
        )
        self._drop_index()
        return meta

    def reindex_to(self, dst_index_dir: str, cfg: BuildConfig) -> dict:
        """Rebuild this index under a NEW build config from its own
        stored-fields sidecar — the ES ``_reindex`` analog; pending
        deletes become physical. Requires ``store_text=True`` on the
        source build (see :func:`fts_engine_spark.mutate.reindex`)."""
        from .mutate import reindex

        return reindex(self.spark, self.index_dir, dst_index_dir, cfg)

    def compact(self, remove_old: bool = True) -> dict:
        """Merge delta shards and physically purge tombstones (atomic
        meta-pointer commit; see :mod:`fts_engine_spark.streaming.compact`)."""
        from .streaming.compact import compact_index

        cfg = BuildConfig(
            preset=self.options.preset,
            shard_size=self.options.shard_size,
            skip_block=self.options.skip_block,
            id_buckets=self.options.id_buckets,
            bloom_ndv=self.options.bloom_ndv,
        )
        meta = compact_index(
            self.spark, self.index_dir, cfg, remove_old=remove_old
        )
        self._drop_index()
        return meta

    def analyze(self) -> DataFrame:
        """Per-shard metrics + global rollup of the index shape."""
        from .layout import table_path

        m = self.spark.read.parquet(
            table_path(self.index_dir, self.index.meta, "metrics")
        )
        return m.orderBy("shard_id")

    def stats(self) -> dict:
        """Global index stats (reference Stats struct equivalent)."""
        from .layout import table_path

        terms = self.spark.read.parquet(
            table_path(self.index_dir, self.index.meta, "terms")
        )
        row = terms.agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("cf").alias("total_tokens"),
            F.max("df").alias("max_df"),
        ).first()
        meta = self.index.meta
        return {
            "n_docs": meta["n_docs"],
            "avgdl": meta["avgdl"],
            "n_shards": meta["n_shards"],
            "n_terms": row["n_terms"],
            "n_postings": row["n_postings"],
            "total_tokens": row["total_tokens"],
            "max_df": row["max_df"],
            # pending logical deletes (counted in the stats above until
            # compaction purges them — Lucene's deleted-doc semantics)
            "n_deleted": int(meta.get("n_deleted", 0)),
        }

    # ---- ContainsNormalized (filter_normalize.go:31-52): ALL keys present
    def contains_normalized(self, text: str, preset: str | None = None) -> bool:
        keys = set(normalize_query(text, self.index._query_preset(preset)))
        if not keys:
            return False
        stats = self.index.term_stats(list(keys))
        return all(k in stats for k in keys)


def highlight(text_col, query_terms: list[str], tag_open: str = "\x1b[1;31m", tag_close: str = "\x1b[0m"):
    """Result highlight (cui.go:227-233): case-insensitive whole-word wrap.

    Returns a Column; display-only cosmetic op.
    """
    col = text_col if not isinstance(text_col, str) else F.col(text_col)
    for t in query_terms:
        # Java regex, case-insensitive whole word
        col = F.regexp_replace(
            col, f"(?i)\\b({t})\\b", f"{tag_open}$1{tag_close}"
        )
    return col


def load_key_file(spark: SparkSession, path: str) -> DataFrame:
    """Key-file scan (S6, ribbon_file.go:15-46): line-per-key text file →
    non-empty trimmed keys."""
    return (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("key"))
        .where(F.length("key") > 0)
    )
