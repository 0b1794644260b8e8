"""Reads a layer call's work off Spark from the outside.

Two sources, both keyed to one layer call:

* the status store (``AppStatusStore``), per job group: jobs, tasks, task
  time, GC time, shuffle-write and spill bytes of every stage the call's
  jobs ran;
* the executed physical plan of the frame the call was forced through,
  walked across AQE query stages and cached relations: scans of a marked
  table, broadcast exchanges and their sizes, join output rows, peak operator memory,
  Python-UDF time.

Everything here is pyspark 4.1 py4j plumbing; none of it changes what the
program computes.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STAGE_WRAPPERS = (
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "ResultQueryStage",
    "TableCacheQueryStage",
)
# operators whose SQL metrics include peakMemory
_MEMORY_NODES = ("Sort", "HashAggregate", "ObjectHashAggregate", "SortAggregate", "Window")
_JOIN_NAMES = ("Join", "CartesianProduct")


def force(df: DataFrame) -> tuple[int, str, DataFrame]:
    """Evaluate every column of ``df``; return (rows, checksum, forced frame).

    The checksum is the sum of per-row ``xxhash64`` over all columns as an
    exact decimal, so it does not depend on row order or partitioning.
    """
    agg = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("h"),
    )
    row = agg.collect()[0]
    return int(row["n"]), str(row["h"]), agg


def drain(spark: SparkSession) -> None:
    """Wait until the listener bus has delivered every event to the store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _seq(scala_seq) -> list:
    # size()/apply(i) is two py4j round trips per element; converting to a
    # java.util.List and iterating that costs ~30 ms per call
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def group_counters(spark: SparkSession, group: str) -> dict:
    """Status-store totals over the jobs of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, tasks=0, task_s=0.0, gc_s=0.0, shuffle_bytes=0, spill_bytes=0)
    stages: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        stages.update(info.stageIds)
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage skipped because its shuffle was reused never ran
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["gc_s"] += sd.jvmGcTime() / 1000.0
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def _metric_value(m) -> float:
    """SQLMetric value in base units (seconds for timings, else raw)."""
    kind = m.metricType()
    v = m.value()
    if kind == "timing":
        return v / 1000.0
    if kind == "nsTiming":
        return v / 1e9
    return float(v)


def plan_counters(
    spark: SparkSession,
    forced: DataFrame,
    claimed_caches: set,
    scan_marker: str | None = None,
) -> dict:
    """Walk the executed plan of a frame that was already forced.

    A cached relation is walked only the first time any call meets it
    (``claimed_caches`` holds the ones already counted), so the work of
    building a persisted frame is charged to the call that built it.
    ``scan_marker``: a path fragment; file scans whose location contains it
    are counted in ``marked_scans`` (the POI table for the match layer).
    """
    jvm = spark.sparkContext._jvm
    out = dict(
        marked_scans=0, broadcasts=0, broadcast_bytes=0, join_rows=0,
        anti_join_rows=0, peak_mem_bytes=0, python_s=0.0,
    )

    def metric(p, name: str) -> float:
        opt = p.metrics().get(name)
        return _metric_value(opt.get()) if opt.isDefined() else 0.0

    # py4j round trips dominate the walk, so read only the metrics the
    # counters need, from the node types that carry them
    todo = [forced._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name.startswith("Scan parquet") and scan_marker:
            loc = p.metadata().get("Location")
            loc = loc.get() if loc.isDefined() else ""
            if scan_marker in loc:
                out["marked_scans"] += 1
        elif name == "BroadcastExchange":
            out["broadcasts"] += 1
            out["broadcast_bytes"] += int(metric(p, "dataSize"))
        elif any(j in name for j in _JOIN_NAMES):
            rows = int(metric(p, "numOutputRows"))
            out["join_rows"] += rows
            if name != "CartesianProduct" and p.joinType().toString() == "LeftAnti":
                out["anti_join_rows"] += rows
        elif "EvalPython" in name:
            out["python_s"] += metric(p, "pythonTotalTime")
        elif name in _MEMORY_NODES:
            out["peak_mem_bytes"] = max(out["peak_mem_bytes"], int(metric(p, "peakMemory")))
        if name in _STAGE_WRAPPERS:
            todo.append(p.plan())
        elif name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
        elif name == "InMemoryTableScan":
            key = jvm.java.lang.System.identityHashCode(p.relation().cacheBuilder())
            if key not in claimed_caches:
                claimed_caches.add(key)
                todo.append(p.relation().cachedPlan())
        else:
            todo.extend(_seq(p.children()))
    return out
