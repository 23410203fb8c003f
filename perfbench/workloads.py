"""The two workloads. Each one prepares its index, sets up, runs unmeasured
warm-up, measures for about ``--seconds``, checks the engine's outputs and
fills a ``Run``.

In a traced run every other operation is traced (a request span with the
Spark counters of its job group, plus in-process layer probes); the rest
run untraced, and the difference of the two medians is the tracing
overhead. End-to-end metrics come only from untraced runs.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import harness
import inputs
import layers
from sparkmeter import SPARK_KEYS

PAGES = 2000  # corpus pages (seeded, 20-60 sentences each)
SHARD_SIZE = 512  # 4 doc shards at PAGES; head-term lists span 4 skip blocks
WARM_PAGES = 300  # pages of the mutate workload's warm-up build
SETUP_REPS = 3  # set-up runs per measured run; setup_s is their median
SERVE_QUERIES = 200  # distinct queries in the serve mix
SERVE_CLIENTS = 4
POINT_BURST_S = 2.0  # point-tier time per serve round
OPERATOR_QUERIES = 24  # mid-df queries of the operator calls
MUTATE_BASE = 1000  # pages of the mutate base index
MUTATE_UPDATE = 100  # upserts per cycle (half re-crawls, half new urls)
MUTATE_DELETE = 20  # deletes per cycle
MUTATE_WARM = 5  # re-crawls and new urls of the warm-up cycle
QUERY_PRESET = "multilingual"  # what FtsIndex uses for a by_lang index
PROBE_PAGES = 200  # pages of the textproc sample


@dataclass
class Run:
    """Everything one workload run measures."""

    ctx: "Ctx"
    setup: list[float] = field(default_factory=list)
    primary: list[float] = field(default_factory=list)  # untraced op seconds
    primary_traced: list[float] = field(default_factory=list)
    ops_done: float = 0.0  # work units behind ops_per_s
    ops_secs: float = 0.0
    detail: list[tuple[str, float, str, int]] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    _lap_t: float = field(default_factory=time.perf_counter)

    def lap(self, phase: str) -> None:
        """Wall time of one step of the run, for the report."""
        now = time.perf_counter()
        self.detail.append((f"wall.{phase}_s", now - self._lap_t, "s", 0))
        self._lap_t = now

    def add_detail(self, name: str, samples_s: list[float], unit: str = "ms") -> None:
        """A named timing: its median (and tail when valid) with the count."""
        scale = 1000.0 if unit == "ms" else 1.0
        s = harness.summarize([x * scale for x in samples_s])
        if s["n"]:
            self.detail.append((name, s["p50"], unit, s["n"]))
            if "tail_p" in s:
                tail = name.replace("p50", f"p{s['tail_p']:g}")
                self.detail.append((tail, s["tail"], unit, s["n"]))

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": statistics.median(self.setup),
            "p50_ms": 1000.0 * statistics.median(self.primary),
            "ops_per_s": self.ops_done / self.ops_secs,
        }


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    corpus: inputs.Corpus
    tracer: harness.Tracer
    meter: object  # sparkmeter.SparkMeter
    ops: harness.OpLog
    calls: list[tuple[str, dict]] = field(default_factory=list)
    _dirs: int = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}{self._dirs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def docs(self, limit: int | None = None):
        df = self.spark.read.parquet(self.corpus.path).select("url", "text", "lang")
        return df.limit(limit) if limit else df

    @contextlib.contextmanager
    def op(self, name: str, traced: bool):
        """One operation: under tracing, a request span whose Spark counters
        are recorded as one call of layer ``name``."""
        if not traced:
            yield None, {}
            return
        with self.tracer.request(name) as span, self.meter.call(span) as rec:
            yield span, rec
        self.calls.append((name, rec))

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else contextlib.nullcontext()


def _timed(ctx: Ctx, fn, *args, **kwargs):
    t0 = time.perf_counter()
    ok, value = ctx.ops.run(fn, *args, **kwargs)
    return ok, value, time.perf_counter() - t0


def _build_cfg():
    from fts_engine_spark.build import BuildConfig

    return BuildConfig(preset="by_lang", shard_size=SHARD_SIZE, id_buckets=8)


def _build(ctx: Ctx, run: Run, docs, index_dir: str, traced: bool):
    """One ``build_index``; returns (ok, meta, seconds)."""
    from fts_engine_spark.build import build_index

    with ctx.op("build", traced):
        ok, meta, secs = _timed(ctx, build_index, ctx.spark, docs, index_dir,
                                _build_cfg(), resume=False)
    if ok:
        for phase in ("docs_write", "postings", "terms", "metrics"):
            run.layer.setdefault(f"_phase.{phase}", []).append(
                meta["build_phases"].get(phase, 0.0)
            )
    return ok, meta, secs


def _index_probes(ctx: Ctx, run: Run, index_dir: str) -> None:
    """Layer probes that need only a built index: table sizes, the text
    pipeline and the codec."""
    meta = layers.read_meta(index_dir)
    for name in ("postings", "terms", "docs"):
        run.layer[f"build.index_bytes.{name}"] = layers.table_bytes(index_dir, meta, name)
    if not ctx.trace:
        return
    c = ctx.corpus
    with ctx.span("textproc", True):
        run.layer["textproc.tokens_per_s"] = layers.textproc_tokens_per_s(
            c.texts[:PROBE_PAGES], c.langs[:PROBE_PAGES]
        )
    terms = layers.table_dataset(index_dir, meta, "terms").to_table().to_pandas()
    head = terms.sort_values(["df", "term"], ascending=[False, True])["term"][:20].tolist()
    with ctx.span("codec", True):
        enc, dec = layers.codec_mb_per_s(index_dir, meta, head)
    run.layer["codec.encode_mb_per_s"] = enc
    run.layer["codec.decode_mb_per_s"] = dec


def _check_index(ctx: Ctx, index_dir: str, urls: list[str]) -> None:
    """The built docs table holds exactly the corpus urls, and every posting
    list decodes to as many postings as the terms table's df says."""
    from fts_engine_spark.codec import decode_postings

    meta = layers.read_meta(index_dir)
    got = layers.table_dataset(index_dir, meta, "docs").to_table(columns=["url"])
    got_urls = got.column("url").to_pylist()
    ctx.ops.check("build_docs_match_corpus",
                  len(got_urls) == len(urls) and set(got_urls) == set(urls),
                  f"{len(got_urls)} docs for {len(urls)} pages")
    ctx.ops.check("build_meta_n_docs", int(meta["n_docs"]) == len(urls),
                  f"meta n_docs {meta['n_docs']}")
    terms = layers.table_dataset(index_dir, meta, "terms").to_table().to_pandas()
    sample = terms.sort_values(["df", "term"], ascending=[False, True])[:50]
    postings = layers.table_dataset(index_dir, meta, "postings").to_table(
        filter=layers.pc.field("term").isin(sample["term"].tolist()),
        columns=["term", "doc_blob", "tf_blob", "count"],
    ).to_pylist()
    decoded: dict[str, int] = {}
    for r in postings:
        doc_ids, _ = decode_postings(r["doc_blob"], r["tf_blob"])
        ok = len(doc_ids) == r["count"]
        decoded[r["term"]] = decoded.get(r["term"], 0) + (len(doc_ids) if ok else -10**9)
    want = dict(zip(sample["term"], sample["df"]))
    ctx.ops.check("postings_decode_to_df", decoded == {t: int(v) for t, v in want.items()},
                  "decoded posting counts differ from terms.df")


def _mean(recs: list[dict], key: str) -> float:
    return statistics.fmean(r.get(key, 0.0) for r in recs) if recs else 0.0


def _spark_layer(ctx: Ctx, run: Run) -> None:
    """spark.* = mean per traced call into a Spark-job layer; point-tier
    calls are left out (their jobs are query.point.fetch_ratio)."""
    recs = [rec for name, rec in ctx.calls if name != "query.point"]
    for key in SPARK_KEYS:
        run.layer[f"spark.{key}"] = _mean(recs, key)
    search = [rec for name, rec in ctx.calls if name == "query"]
    run.layer["query.jobs"] = _mean(search, "jobs")
    run.layer["query.tasks"] = _mean(search, "tasks")


def _overhead(run: Run) -> None:
    if run.primary and run.primary_traced:
        base = statistics.median(run.primary)
        diff = statistics.median(run.primary_traced) - base
        run.layer["trace.overhead_ms"] = 1000.0 * diff
        run.layer["trace.overhead_pct"] = 100.0 * diff / base


def _measuring(t_start: float, seconds: float, done: int, at_least: int = 1) -> bool:
    return done < at_least or time.perf_counter() - t_start < seconds


# ------------------------------------------------------------------ serve


def _prepared_index(ctx: Ctx, run: Run, pages: int | None = None) -> str:
    """Input preparation for the serve workload: one build, whose phases
    are the build layer's metrics but which is neither set-up nor measured."""
    d = ctx.fresh_dir("index")
    ok, _, _ = _build(ctx, run, ctx.docs(pages), d, False)
    if not ok:
        raise RuntimeError("index build failed:\n" + ctx.ops.failures[-1])
    return d


def _open(ctx: Ctx, run: Run, index_dir: str, point: bool, traced: bool = False):
    """FtsIndex + warm (+ point serving); records open/warm times."""
    from fts_engine_spark.query import FtsIndex

    t0 = time.perf_counter()
    with ctx.span("query.open", traced):
        fts = FtsIndex(ctx.spark, index_dir)
    t1 = time.perf_counter()
    with ctx.span("query.warm", traced):
        fts.warm()
        if point:
            fts.enable_point_serving()
    t2 = time.perf_counter()
    run.layer.setdefault("_open", []).append(t1 - t0)
    run.layer.setdefault("_warm", []).append(t2 - t1)
    return fts


def _dist_query(ctx: Ctx, run: Run, fts, q: str, k: int, traced: bool):
    """search_bm25(mode='wand') then collect; returns [(doc_id, score)]."""
    rows = _dist_call(ctx, run, "query", lambda: fts.search_bm25(q, k=k, mode="wand"), traced)
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _dist_call(ctx: Ctx, run: Run, layer: str, make_df, traced: bool):
    """One distributed call: building the lazy DataFrame (driver parse and
    plan, ``<layer>.plan``) then its ``collect`` (``<layer>.collect``)."""
    with ctx.op(layer, traced) as (span, rec):
        t0 = time.perf_counter()
        with ctx.span(f"{layer}.plan", traced):
            df = make_df()
        t1 = time.perf_counter()
        with ctx.span(f"{layer}.collect", traced):
            rows = df.collect()
        t2 = time.perf_counter()
        rec["df"] = df
    if traced:
        run.layer.setdefault(f"_{layer}.plan", []).append(t1 - t0)
        run.layer.setdefault(f"_{layer}.collect", []).append(t2 - t1)
    return rows


def _same(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and abs(x[1] - y[1]) <= 1e-9 * max(1.0, abs(x[1]))
        for x, y in zip(a, b)
    )


# one cycle of the serve workload's distributed phase: a search before each
# operator call, so searches and operators both weigh on its throughput
_OPERATORS = {
    "facets": lambda fts, q: fts.facet_counts(q, "lang"),
    "sigterms": lambda fts, q: fts.significant_terms(q),
    "explain": lambda fts, q: fts.explain_bm25(q, k=10),
}
DIST_MIX = ("search", "facets", "search", "sigterms", "search", "explain")


def _check_operators(ctx: Ctx, fts, outputs: dict) -> None:
    """explain contributions sum to the search score; lang facet counts sum
    to the search_full total; significant_terms finds something."""
    for (kind, q), rows in outputs.items():
        if kind == "explain":
            by_doc: dict[int, float] = {}
            for r in rows:
                d = int(r["doc_id"])
                by_doc[d] = by_doc.get(d, 0.0) + float(r["contrib"])
            top = {int(r["doc_id"]): float(r["score"])
                   for r in fts.search_bm25(q, k=10).collect()}
            ok = set(by_doc) == set(top) and all(
                abs(by_doc[d] - s) <= 1e-9 * max(1.0, s) for d, s in top.items()
            )
            ctx.ops.check("explain_sums_to_score", ok, q)
        elif kind == "facets":
            total = fts.search_full(q, k=1).total_results_count
            got = sum(int(r["n_docs"]) for r in rows)
            ctx.ops.check("facets_sum_to_total", got == int(total), f"{q}: {got} vs {total}")
        elif kind == "sigterms":
            ctx.ops.check("sigterms_nonempty", len(rows) > 0, q)


def run_serve(ctx: Ctx) -> Run:
    from fts_engine_spark.query import normalize_query
    from fts_engine_spark.session import set_fair_pool
    from fts_engine_spark.textproc.pipeline import get_pipeline

    run = Run(ctx)
    index_dir = _prepared_index(ctx, run)
    run.lap("index")
    qpipe = get_pipeline(QUERY_PRESET)
    vocab = inputs.vocabulary(ctx.corpus, lambda w: bool(qpipe.process(w)))
    mix = inputs.serve_queries(ctx.seed, vocab, SERVE_QUERIES)
    mid = inputs.mid_df_queries(ctx.seed, ctx.corpus, qpipe.process, OPERATOR_QUERIES)
    union = " ".join(sorted({w for q, _ in mix for w in q.split()}))

    fts = None
    first_fetch = []
    for _ in range(SETUP_REPS):
        if fts is not None:
            fts.close()
        t0 = time.perf_counter()
        fts = _open(ctx, run, index_dir, point=True)
        t1 = time.perf_counter()
        ctx.ops.run(fts.search_bm25_point, union, k=10)  # fills the point cache
        t2 = time.perf_counter()
        first_fetch.append(t2 - t1)
        run.setup.append(t2 - t0)
    run.lap("setup")

    def dist(kind: str, j: int, traced: bool):
        if kind == "search":
            q, k = mix[j % len(mix)]
            return (q, k), _dist_query(ctx, run, fts, q, k, traced)
        q = mid[j % len(mid)]
        make = lambda: _OPERATORS[kind](fts, q)  # noqa: E731
        return (kind, q), _dist_call(ctx, run, f"operators.{kind}", make, traced)

    # warm-up: every distributed call kind once, the whole mix on the point tier
    for j, kind in enumerate(dict.fromkeys(DIST_MIX)):
        ctx.ops.run(dist, kind, len(mid) - 1 - j, False)
    for q, k in mix:
        ctx.ops.run(fts.search_bm25_point, q, k=k)
    run.lap("warmup")

    # rounds of (a) one client on the distributed tier, one whole DIST_MIX
    # cycle, then (c) one client on the point tier for POINT_BURST_S; slow
    # drift of the host then weighs on both tiers alike
    dist_results: dict[tuple[str, int], list] = {}
    op_outputs: dict[tuple[str, str], list] = {}
    lat_a: dict[str, list[float]] = {kind: [] for kind in DIST_MIX}
    lat_c: list[float] = []
    lat_c_traced: list[float] = []
    fetches = []
    round_p50: list[float] = []
    t_start = time.perf_counter()
    rnd = i = 0
    while _measuring(t_start, 0.75 * ctx.seconds, rnd, at_least=2 if ctx.trace else 1):
        traced = ctx.trace and rnd % 2 == 1
        for j, kind in enumerate(DIST_MIX):
            ok, out, secs = _timed(ctx, dist, kind, rnd * len(DIST_MIX) + j, traced)
            if not ok:
                continue
            key, res = out
            if not traced:
                lat_a[kind].append(secs)
            elif kind == "search":
                run.primary_traced.append(secs)
            if kind == "search":
                dist_results[key] = res
            else:
                op_outputs.setdefault(key, res)
        t_c = time.perf_counter()
        burst: list[float] = []
        while time.perf_counter() - t_c < POINT_BURST_S:
            q, k = mix[i % len(mix)]
            traced_q = ctx.trace and i % 2 == 1
            t0 = time.perf_counter()
            with ctx.op("query.point", traced_q) as (span, rec):
                ok, _ = ctx.ops.run(fts.search_bm25_point, q, k=k)
            secs = time.perf_counter() - t0
            if ok:
                (lat_c_traced if traced_q else burst).append(secs)
            if traced_q:
                fetches.append(rec.get("jobs", 0) > 0)
            i += 1
        lat_c += burst
        round_p50.append(statistics.median(burst))
        rnd += 1
    run.primary = lat_a["search"]
    run.ops_done = sum(len(v) for v in lat_a.values())
    run.ops_secs = sum(sum(v) for v in lat_a.values())

    # (b) four clients, each in its own FAIR pool, searches only
    lat_b: list[float] = []
    lock = threading.Lock()
    stop_at = time.perf_counter() + 0.15 * ctx.seconds

    def client(c: int) -> None:
        set_fair_pool(ctx.spark, f"client{c}")
        j = 0
        while time.perf_counter() < stop_at:
            q, k = mix[(c * 53 + j) % len(mix)]
            traced = ctx.trace and j % 2 == 1
            ok, res, secs = _timed(ctx, _dist_query, ctx, run, fts, q, k, traced)
            with lock:
                if ok:
                    lat_b.append(secs)
                    dist_results[(q, k)] = res
            j += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(SERVE_CLIENTS)]
    t_b = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    secs_b = time.perf_counter() - t_b
    set_fair_pool(ctx.spark, "default")

    run.lap("measure")
    # checks: both tiers agree on every query the distributed tier served;
    # WAND agrees with the relational plan on a seeded sample; operators
    bad = [qk for qk, res in dist_results.items()
           if not _same(res, fts.search_bm25_point(qk[0], k=qk[1]))]
    ctx.ops.check("dist_equals_point", not bad, f"{len(bad)} queries differ, e.g. {bad[:2]}")
    for q, k in list(dist_results)[:2]:
        rel = [(int(r["doc_id"]), float(r["score"]))
               for r in fts.search_bm25(q, k=k, mode="relational").collect()]
        ctx.ops.check("wand_equals_relational", _same(dist_results[(q, k)], rel), q)
    _check_operators(ctx, fts, op_outputs)
    run.lap("checks")

    run.add_detail("dist_p50_ms", lat_a["search"])
    for kind in _OPERATORS:
        run.add_detail(f"{kind}_p50_ms", lat_a[kind])
    run.detail.append(("dist_calls_per_s", run.ops_done / run.ops_secs, "calls/s", run.ops_done))
    run.detail.append(("dist_qps_4c", len(lat_b) / secs_b, "queries/s", len(lat_b)))
    run.add_detail("dist_4c_p50_ms", lat_b)
    run.add_detail("point_p50_ms", lat_c)
    run.detail.append(("point_round_p50_ms", ",".join(f"{1000 * x:.3f}" for x in round_p50),
                       "ms", len(round_p50)))
    run.detail.append(("point_qps", len(lat_c) / sum(lat_c), "queries/s", len(lat_c)))

    if ctx.trace:
        run.layer["query.point.fetch_ratio"] = sum(fetches) / len(fetches)
        run.layer["_first_fetch"] = first_fetch
        run.detail.append((
            "trace.point_overhead_ms",
            1000.0 * (statistics.median(lat_c_traced) - statistics.median(lat_c)),
            "ms", len(lat_c_traced),
        ))
        t0 = time.perf_counter()
        for q, _ in mix:
            normalize_query(q, QUERY_PRESET)
        run.layer["query.normalize_us"] = 1e6 * (time.perf_counter() - t0) / len(mix)
        _wand_probe(ctx, run, index_dir, dist_results)
    fts.close()
    _index_probes(ctx, run, index_dir)
    return run


def _wand_probe(ctx: Ctx, run: Run, index_dir: str, dist_results: dict) -> None:
    """query.wand.*: the WAND kernel in-process on the served queries."""
    probe = layers.WandProbe(index_dir, QUERY_PRESET)
    tot = {"blocks_total": 0, "blocks_decoded": 0, "bytes_decoded": 0, "full_decodes": 0}
    secs_all = []
    bad = []
    for (q, k), res in list(dist_results.items())[:40]:
        with ctx.span("query.wand", True):
            top, counters, secs = probe.run(q, k)
        secs_all.append(secs)
        for key in tot:
            tot[key] += counters.get(key, 0)
        if not _same(top, res):
            bad.append(q)
    ctx.ops.check("wand_inprocess_equals_dist", not bad, f"{bad[:2]}")
    n = max(1, len(secs_all))
    run.layer["query.wand.ms"] = 1000.0 * sum(secs_all) / n
    run.layer["query.wand.blocks_decoded_ratio"] = (
        tot["blocks_decoded"] / tot["blocks_total"] if tot["blocks_total"] else 0.0
    )
    run.layer["query.wand.bytes_decoded"] = tot["bytes_decoded"] / n
    run.layer["query.wand.full_decodes"] = tot["full_decodes"] / n


# ----------------------------------------------------------------- mutate


def _doc_map(index_dir: str) -> tuple[dict[int, str], dict[str, int]]:
    """doc_id -> url over every docs row, and url -> its newest doc_id."""
    meta = layers.read_meta(index_dir)
    t = layers.table_dataset(index_dir, meta, "docs").to_table(columns=["doc_id", "url"])
    ids = t.column("doc_id").to_pylist()
    urls = t.column("url").to_pylist()
    newest: dict[str, int] = {}
    for d, u in zip(ids, urls):
        newest[u] = max(d, newest.get(u, -1))
    return dict(zip(ids, urls)), newest


def _check_mutate(ctx: Ctx, fts, index_dir: str, deleted: set[str],
                  cycle: inputs.Cycle, results: list[list[tuple[int, float]]]) -> None:
    """No result holds a deleted url, an old version of an upserted url or
    a url twice; the cycle's marker tokens find exactly its upserted urls."""
    by_id, newest = _doc_map(index_dir)
    stale = []
    for res in results:
        seen = set()
        for d, _ in res:
            u = by_id.get(d)
            if u is None or u in deleted or newest[u] != d or u in seen:
                stale.append((d, u))
            seen.add(u)
    ctx.ops.check("no_deleted_or_superseded", not stale, f"{stale[:3]}")
    markers = cycle.markers
    found = fts.search_bm25(" ".join(markers.values()), k=2 * len(markers)).collect()
    got = {by_id.get(int(r["doc_id"])) for r in found}
    want = set(markers)
    ctx.ops.check("updated_urls_found", got == want,
                  f"{len(want - got)} missing, {len(got - want)} unexpected")


def run_mutate(ctx: Ctx) -> Run:
    from fts_engine_spark.mutate import delete_documents, update_documents
    from fts_engine_spark.streaming.compact import compact_index
    from fts_engine_spark.textproc.pipeline import get_pipeline

    run = Run(ctx)
    # warm-up: a small build takes the process's cold start (JVM, Python
    # workers); then the measured build of the base index
    warm_dir = ctx.fresh_dir("warm")
    _build(ctx, run, ctx.docs(WARM_PAGES), warm_dir, False)
    shutil.rmtree(warm_dir, ignore_errors=True)
    run.layer.clear()  # the warm-up build's phases are not the layer's
    run.lap("warmup_build")
    base_dir = ctx.fresh_dir("base")
    ok, _, build_s = _build(ctx, run, ctx.docs(MUTATE_BASE), base_dir, ctx.trace)
    if not ok:
        raise RuntimeError("base build failed:\n" + ctx.ops.failures[-1])
    run.lap("build")
    base_urls = ctx.corpus.urls[:MUTATE_BASE]
    _check_index(ctx, base_dir, base_urls)
    base = inputs.Corpus(ctx.corpus.path, base_urls, ctx.corpus.texts[:MUTATE_BASE],
                         ctx.corpus.langs[:MUTATE_BASE])
    cycles = inputs.mutation_cycles(ctx.seed, base, 8, MUTATE_UPDATE, MUTATE_DELETE)
    qpipe = get_pipeline(QUERY_PRESET)
    vocab = inputs.vocabulary(base, lambda w: bool(qpipe.process(w)))
    head_q = " ".join(vocab["en"][:2])
    schema = "url string, text string, lang string"

    fts = None
    index_dir = None
    for _ in range(SETUP_REPS):
        if fts is not None:
            fts.close()
        t0 = time.perf_counter()
        index_dir = ctx.fresh_dir("mutate")
        shutil.copytree(base_dir, index_dir)
        fts = _open(ctx, run, index_dir, point=True)
        run.setup.append(time.perf_counter() - t0)
    run.lap("setup")
    deleted: set[str] = set()  # urls the index must no longer return
    lat = {"update": [], "delete": [], "visible": [], "dist": []}
    first_fetch = []

    def cycle_once(cycle: inputs.Cycle, traced: bool, record: bool) -> float:
        nonlocal fts
        t_cycle = time.perf_counter()
        docs = ctx.spark.createDataFrame(cycle.upserts, schema)
        with ctx.op("mutate.update", traced):
            ok, _, up_s = _timed(ctx, update_documents, ctx.spark, index_dir, docs)
        with ctx.op("mutate.delete", traced):
            _, _, del_s = _timed(ctx, delete_documents, ctx.spark, index_dir, cycle.delete)
        deleted.update(cycle.delete)
        fts.close()
        t0 = time.perf_counter()
        fts = _open(ctx, run, index_dir, point=True, traced=traced)
        t1 = time.perf_counter()
        with ctx.op("query.point", traced) as (span, rec):
            _, point_res, _ = _timed(ctx, fts.search_bm25_point, head_q, k=100)
        t2 = time.perf_counter()
        _, dist_res, dist_s = _timed(ctx, _dist_query, ctx, run, fts, head_q, 100, traced)
        spent = time.perf_counter() - t_cycle
        if record:
            if ok:
                (run.primary_traced if traced else run.primary).append(up_s)
                if not traced:
                    lat["update"].append(up_s)
            if not traced:
                lat["delete"].append(del_s)
                lat["visible"].append(t2 - t0)
                lat["dist"].append(dist_s)
            if traced:
                run.layer.setdefault("_delete", []).append(del_s)
                first_fetch.append(t2 - t1)
        _check_mutate(ctx, fts, index_dir, deleted, cycle,
                      [r for r in (point_res, dist_res) if r is not None])
        return spent

    # warm-up: the first cycle's code paths on a few rows
    w = cycles[0]
    few = w.recrawl[:MUTATE_WARM] + w.fresh[:MUTATE_WARM]
    cycle_once(inputs.Cycle(few[:MUTATE_WARM], few[MUTATE_WARM:], w.delete[:2],
                            {u: w.markers[u] for u, _, _ in few}), False, False)
    run.lap("warmup")
    spent = 0.0
    t_start = time.perf_counter()
    c = 1
    # traced runs trace the middle of three cycles, so warming drift does
    # not pass for tracing overhead
    at_least = 3 if ctx.trace else 2
    while c < len(cycles) and _measuring(t_start, 0.45 * ctx.seconds, c - 1, at_least):
        spent += cycle_once(cycles[c], ctx.trace and c == 2, True)
        c += 1
    run.lap("measure")
    meta = layers.read_meta(index_dir)
    run.layer["index.delta_batches"] = meta.get("delta_batches", 0)
    run.layer["index.n_deleted"] = meta.get("n_deleted", 0)

    fts.close()
    t_c = time.time()
    with ctx.op("streaming.compact", ctx.trace) as (span, rec):
        ok, _, compact_s = _timed(ctx, compact_index, ctx.spark, index_dir)
    if ctx.trace:
        run.layer["streaming.compact.jobs"] = rec.get("jobs", 0)
        run.layer["streaming.compact.tasks"] = rec.get("tasks", 0)
        run.layer["streaming.compact.shuffle_write_bytes"] = rec.get("shuffle_write_bytes", 0)
        written = 0
        for dirpath, _, files in os.walk(index_dir):
            for f in files:
                p = os.path.join(dirpath, f)
                if os.path.getmtime(p) >= t_c:
                    written += os.path.getsize(p)
        run.layer["streaming.compact.bytes_written"] = written
    run.lap("compact")
    fts = _open(ctx, run, index_dir, point=True)
    last = cycles[c - 1]
    res = _dist_query(ctx, run, fts, head_q, 100, False)
    _check_mutate(ctx, fts, index_dir, deleted, last, [res, fts.search_bm25_point(head_q, k=100)])
    fts.close()
    run.lap("checks")

    n_cycles = c - 1
    run.ops_done = MUTATE_BASE + n_cycles * (MUTATE_UPDATE + MUTATE_DELETE)
    run.ops_secs = build_s + spent + compact_s
    _index_probes(ctx, run, base_dir)
    index_bytes = sum(run.layer[f"build.index_bytes.{n}"] for n in ("postings", "terms", "docs"))
    run.detail.append(("build_docs_per_s", MUTATE_BASE / build_s, "docs/s", 1))
    run.detail.append(("index_bytes_per_text_byte", index_bytes / base.text_bytes, "ratio", 1))
    run.add_detail("update_p50_s", lat["update"], unit="s")
    run.add_detail("delete_p50_ms", lat["delete"])
    run.add_detail("visible_p50_ms", lat["visible"])
    run.add_detail("delta_dist_p50_ms", lat["dist"])
    run.detail.append(("compact_s", compact_s, "s", 1))
    run.detail.append(("cycles", n_cycles, "count", 1))
    if ctx.trace:
        run.layer["_first_fetch"] = first_fetch
        upd = [rec for name, rec in ctx.calls if name == "mutate.update"]
        run.layer["mutate.update_jobs"] = _mean(upd, "jobs")
        run.layer["mutate.update_tasks"] = _mean(upd, "tasks")
        fetch = [rec.get("jobs", 0) > 0 for name, rec in ctx.calls if name == "query.point"]
        run.layer["query.point.fetch_ratio"] = sum(fetch) / len(fetch) if fetch else 0.0
    return run


WORKLOADS = {
    "serve": run_serve,
    "mutate": run_mutate,
}


def layer_metrics(run: Run, spec: list[dict]) -> dict[str, float]:
    """Every declared per-layer metric; a layer the workload never entered
    reports 0. Private ``_*`` lists are folded into their metrics here."""
    ctx = run.ctx
    _spark_layer(ctx, run)
    _overhead(run)
    raw = run.layer

    def med(key: str, scale: float = 1.0) -> float:
        vals = raw.get(key) or []
        return scale * statistics.median(vals) if vals else 0.0

    for phase in ("docs_write", "postings", "terms", "metrics"):
        raw[f"build.{phase}_s"] = med(f"_phase.{phase}")
    raw["query.plan_ms"] = med("_query.plan", 1000.0)
    raw["query.collect_ms"] = med("_query.collect", 1000.0)
    raw["query.open_ms"] = med("_open", 1000.0)
    raw["query.warm_ms"] = med("_warm", 1000.0)
    raw["query.point_first_fetch_ms"] = med("_first_fetch", 1000.0)
    raw["mutate.delete_s"] = med("_delete")
    for name in _OPERATORS:
        calls = [rec for n, rec in ctx.calls if n == f"operators.{name}"]
        raw[f"operators.{name}.plan_ms"] = med(f"_operators.{name}.plan", 1000.0)
        raw[f"operators.{name}.collect_ms"] = med(f"_operators.{name}.collect", 1000.0)
        raw[f"operators.{name}.jobs"] = _mean(calls, "jobs")
        raw[f"operators.{name}.tasks"] = _mean(calls, "tasks")
    raw["trace.spans"] = len(ctx.tracer.spans)
    return {m["name"]: float(raw.get(m["name"], 0.0)) for m in spec}
