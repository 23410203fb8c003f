"""Benchmark of the fts_engine_spark engine on seeded workloads.

Run from the root of the repository:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Prints a readable report of every metric (name, value, unit, samples),
then as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics). A failed correctness check makes
the exit code 1; a checkout without the engine makes it 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")  # per-run scratch, removed at exit
CACHE = os.path.join(HERE, ".cache")  # seeded corpora, kept across runs
OUT = os.path.join(HERE, ".out")  # traces and reports, kept across runs


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "fts_engine_spark", "__init__.py"),
                 os.path.join(ROOT, "tools", "gen_corpus.py"),
                 os.path.join(ROOT, "bench.py")):
        if not os.path.exists(need):
            _fail(f"run from the repository root; {os.path.relpath(need, ROOT)} is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    sys.path.insert(0, ROOT)
    import harness
    import inputs
    import sparkmeter
    import workloads
    from bench import HostMeter

    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    sparkmeter.prepare_env(ROOT, WORK, cpus)
    host = HostMeter()
    spark = None
    try:
        t0 = time.perf_counter()
        corpus = inputs.load_corpus(
            inputs.ensure_corpus(CACHE, args.seed, workloads.PAGES)
        )
        corpus_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = sparkmeter.start_spark(ROOT, cpus)
        spark_s = time.perf_counter() - t0
        tracer = harness.Tracer(enabled=bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark, work=WORK, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace), corpus=corpus,
            tracer=tracer, meter=sparkmeter.SparkMeter(spark), ops=harness.OpLog(),
        )
        run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            sparkmeter.stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    steal = host.lap("run")["steal_ticks"]

    ops = ctx.ops
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    report = [
        ("workload", args.workload, "", 0), ("seed", args.seed, "", 0),
        ("cpus", cpus, "count", 0), ("corpus_pages", workloads.PAGES, "count", 0),
        ("corpus_s", corpus_s, "s", 1), ("spark_start_s", spark_s, "s", 1),
        ("host_steal_ticks", steal, "count", 1),
        ("setup_reps_s", ",".join(f"{x:.3f}" for x in run.setup), "s", len(run.setup)),
    ]
    if args.trace:
        run.layer["host.steal_ticks"] = steal
        metrics = workloads.layer_metrics(run, spec["per_layer"])
        section = spec["per_layer"]
        tracer.dump(os.path.join(OUT, f"trace-{tag}.jsonl"))
        self_s = harness.self_time_by_name(tracer.spans)
        report += [(f"self_s.{k}", v, "s", 0) for k, v in sorted(self_s.items())]
    else:
        metrics = run.end_to_end()
        section = spec["end_to_end"]
    report += run.detail
    units = {m["name"]: m["unit"] for m in section}
    report += [(k, v, units[k], 0) for k, v in metrics.items()]
    for name, tally in sorted(ops.checks.items()):
        report.append((f"check.{name}", f"{tally[0] - tally[1]}/{tally[0]} passed", "", 0))
    for line in ops.failures[:10]:
        print(line, file=sys.stderr)
    with open(os.path.join(OUT, f"report-{tag}.txt"), "w") as f:
        for name, value, unit, n in report:
            shown = f"{value:.6g}" if isinstance(value, float) else value
            line = f"{name:<40} {shown} {unit}" + (f"  (n={n})" if n else "")
            print(line)
            f.write(line + "\n")
    print(harness.result_line(ops, metrics, section))
    return 0 if ops.correct else 1


if __name__ == "__main__":
    sys.exit(main())
