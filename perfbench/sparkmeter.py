"""Spark runtime set-up and the per-call Spark counters of the traced run.

Counters come from three places, all read after the call returns:
- ``statusTracker`` (jobs, stages and tasks of the call's job group);
- the JVM status store (executor run/CPU time, GC time, shuffle bytes per
  stage), reached through py4j because ``get_spark`` disables the UI and
  its REST endpoint;
- the SQL metrics of the executed plan (bytes sent to and received from
  the Python workers, and their time where Spark reports it).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading

from py4j.protocol import Py4JError

_STAGE_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
)
SPARK_KEYS = _STAGE_KEYS + ("python_bytes_sent", "python_bytes_received", "python_time_ms")
# SQL metric name -> key; python time metrics are summed into one key
_PY_METRICS = {
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
    "pythonBootTime": "python_time_ms",
    "pythonInitTime": "python_time_ms",
    "pythonTotalTime": "python_time_ms",
}


def prepare_env(root: str, work: str, cpus: int) -> None:
    """Process environment for the Spark driver and its Python workers; must
    run before pyspark starts the JVM. Temp files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # executors import fts_engine_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM (the launcher too): temp files under work, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the bench.py default, max(16, 2*cpus)g, is more than a 15 GB host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)


def start_spark(root: str, cpus: int):
    from fts_engine_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=str(2 * cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": root,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def _plan_python_metrics(plan, out: dict) -> None:
    name = plan.getClass().getSimpleName()
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = _PY_METRICS.get(kv._1())
        if key is None:
            continue
        metric = kv._2()
        value = float(metric.value())
        if metric.metricType() == "nsTiming":
            value /= 1e6
        out[key] = out.get(key, 0.0) + value
    if name == "AdaptiveSparkPlanExec":
        _plan_python_metrics(plan.executedPlan(), out)
        return
    if name.endswith("QueryStageExec"):
        _plan_python_metrics(plan.plan(), out)
        return
    children = plan.children()
    for i in range(children.size()):
        _plan_python_metrics(children.apply(i), out)


class SparkMeter:
    """Tags a traced call with its own job group and reads its counters."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def call(self, span):
        """Yields a dict; put a DataFrame under ``"df"`` to also read the
        Python SQL metrics of its executed plan. On exit the counters are
        stored in ``span.attrs`` (and in the dict)."""
        rec: dict = {}
        if span is None:
            yield rec
            return
        with self._lock:
            group = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(group, span.name)
        try:
            yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            df = rec.pop("df", None)
            rec.update(self.counters(group))
            if df is not None:
                with contextlib.suppress(Py4JError):  # best effort
                    _plan_python_metrics(df._jdf.queryExecution().executedPlan(), rec)
            span.attrs.update(rec)

    def counters(self, group: str) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(_STAGE_KEYS, 0.0)
        stage_ids: set[int] = set()
        for job in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its output was already computed
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks + info.numFailedTasks
            out["failed_tasks"] += info.numFailedTasks
            try:
                data = store.lastStageAttempt(sid)
            except Py4JError:  # evicted from the status store
                continue
            out["executor_run_ms"] += data.executorRunTime()
            out["executor_cpu_ms"] += data.executorCpuTime() / 1e6
            out["gc_ms"] += data.jvmGcTime()
            out["shuffle_read_bytes"] += data.shuffleReadBytes()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        return out
