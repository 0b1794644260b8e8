#!/usr/bin/env python3
"""Two-parallelism scaling evidence (BASELINE.json north_rule).

The N vs 4N executor criterion is evidenced in this sandbox by running the
IDENTICAL job at local[N] and local[4N] on the same input and reporting
throughput at both plus scaling efficiency:

    efficiency = (throughput_4N / throughput_N) / 4

Each level runs in a fresh Spark subprocess (clean JVM — no leftover
executor state between levels).

Default N=2 (the headline pair is local[2] vs local[8]): measured
per-core controls on this box (BASELINE.md "Scaling evidence") show a
pure-CPU all-core frequency throttle of 1.23x at 32 active cores vs 1.05x
at 8 — i.e. even a PERFECTLY parallel job tops out at 0.81 efficiency for
8→32 on one box — plus shared memory bandwidth and JVM-thread/Python-worker
core oversubscription above ~8 cores. None of those exist between the
separate machines of a real N vs 4N executor cluster, so the low-core pair
is the faithful single-box proxy; the full 2/4/8/16/32 curve and the
controls are reported alongside so the saturation point is visible rather
than hidden.

The measured job is the full headline pipeline — parquet scan → HTML→text
extraction (pandas UDF, byte-identical to the reference extractor) → geotag
extraction → tile assignment → match cascade → checksum — over an
AMPLIFIED copy of the sf pages table (page ids remapped, text identical),
materialized ONCE as parquet (256 files, so both parallelism levels see
the same split plan with ample tasks per core). Amplification happens
BEFORE extraction so every replica pays the full per-page extract cost,
exactly as 10^12 distinct pages would; building that input is untimed data
prep (in production `pages` is a stored table).

Usage: python3 scaling_bench.py [N] [sf_dir] [repeats] [amplify]
Writes one JSON line to stdout; paste into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

_CACHE_ROOT = os.environ.get(
    "OPM_SCALING_CACHE", os.path.join(tempfile.gettempdir(), "opm_scaling_cache")
)
_REPO = os.path.dirname(os.path.abspath(__file__))


def amplified_pages_path(sf_dir: str, amplify: int) -> str:
    from osm_poi_matchmaker_spark import synth

    tag = os.path.basename(os.path.normpath(sf_dir))
    # _SCHEMA_VERSION in the path: an amplified copy of a stale pages
    # schema must not survive a synth change
    return os.path.join(_CACHE_ROOT, f"{tag}_x{amplify}_v{synth._SCHEMA_VERSION}")


def _fresh(call: str, timeout: int, pin: int | None = None) -> subprocess.CompletedProcess:
    """``scaling_bench.<call>`` in a fresh interpreter, so in a clean JVM,
    pinned to cores 0..pin-1 when ``pin`` is set. It runs in the checkout,
    where the Python workers import the engine from."""
    cmd = [sys.executable, "-c", f"import scaling_bench; scaling_bench.{call}"]
    if pin:
        cmd = ["taskset", "-c", f"0-{pin - 1}", *cmd]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=timeout, cwd=_REPO)


def _prep(sf_dir: str, amplify: int, path: str) -> None:
    from pyspark.sql import functions as F

    from jobs import rig
    from osm_poi_matchmaker_spark import synth

    spark = rig.session("scaling-prep", rig.host_cpus())
    pages = synth.pages(spark, sf_dir)
    big = (
        pages.crossJoin(spark.range(amplify).withColumnRenamed("id", "rep"))
        .withColumn("page_id", F.col("page_id") * amplify + F.col("rep"))
        .drop("rep")
    )
    big.repartition(256).write.mode("overwrite").parquet(path)
    spark.stop()


def build_amplified_input(sf_dir: str, amplify: int) -> str:
    """Materialize the amplified pages table once (untimed data prep)."""
    path = amplified_pages_path(sf_dir, amplify)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        out = _fresh(f"_prep({sf_dir!r}, {amplify}, {path!r})", timeout=1800)
        if out.returncode:
            raise RuntimeError(f"amplified input failed:\n{out.stderr[-2000:]}")
    return path


def _busy(loops: int) -> float:
    t0 = time.time()
    x = 0
    for i in range(loops):
        x += i * i
    return time.time() - t0


def cpu_control(workers: int = 8, loops: int = 20_000_000) -> float:
    """Pure-CPU busy-loop control (no Spark, no memory traffic): mean
    seconds/worker. Run before each leg; a drift of this number between
    legs means the HOST (this sandbox is a VM — /proc steal time is
    nonzero under contention) changed speed mid-measurement, and the
    efficiency quotient of that pair is not evidence about the job."""
    import multiprocessing as mp

    with mp.Pool(workers) as p:
        ts = p.map(_busy, [loops] * workers)
    return sum(ts) / len(ts)


def _level(cpus: int, sf_dir: str, path: str, warmups: int, iters: int) -> None:
    """One level's job loop (run by :func:`run_level` in its own JVM);
    prints ``RESULT {cpus, sec, pages}``."""
    from jobs import rig
    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages_from_html
    from osm_poi_matchmaker_spark.plans.pipeline import match_stage

    # identical split plan at every parallelism level: Spark's default
    # maxSplitBytes folds in totalBytes/defaultParallelism, so without
    # this the N-core leg gets 4x coarser splits than the 4N leg and
    # runs a single straggler-bound wave
    spark = rig.session("scaling", cpus, cpus, {
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(128 * 1024),
    })
    synth.osm_pois(spark, sf_dir).count()
    n_pages = spark.read.parquet(path).count()

    def job():
        # the pipeline's extract checkpoint, materialized BEFORE fan-out:
        # the cascade's arms are concurrent stages, and racing an unbuilt
        # cache makes every one of them recompute the full extract
        pg = rig.cached(geotag_pages_from_html(spark.read.parquet(path)))
        rig.force(match_stage(spark, sf_dir, pg))
        # scope the cache to this job (warmup must not seed it); BLOCKING,
        # because an async unpersist races the next job's cache build —
        # the stale blocks trigger eviction churn that was measured at
        # 3.6x the clean build cost
        pg.unpersist(blocking=True)

    for _ in range(warmups):  # per-JVM one-time costs: codegen compile + C2 JIT
        job()
    sec, _ = rig.timed(job, iters)
    print("RESULT " + json.dumps({"cpus": cpus, "sec": sec, "pages": n_pages}), flush=True)
    spark.stop()


def run_level(
    cpus: int, sf_dir: str, amplify: int = 256, warmups: int = 2, iters: int = 3
) -> dict:
    """Run the scan→geotag→match pipeline at one parallelism level in a
    fresh subprocess. Returns {'cpus', 'sec', 'pages'}.

    ``warmups``/``iters``: iterations inside ONE JVM. The first execution of
    this plan is dominated by one-time per-JVM costs — whole-stage-codegen
    compilation and C2 JIT of the generated classes — measured at 661s cold
    vs 77s warm for the identical job (32 cores, 3.84M pages). Those costs
    are per-JVM constants: on a real cluster processing 10^12 pages they
    amortize to zero, so a timed run must not pay them. Warmup runs inside
    the same JVM (not fresh subprocesses per repeat) is what amortizes
    them; the reported figure is the min over the timed iterations.

    The level's driver heap is the host-sized default
    (``session.default_driver_memory``) unless ``$SPARK_DRIVER_MEM`` sets
    it. The whole level is pinned to exactly ``cpus`` cores: local[N]
    bounds JVM task slots but NOT the Python workers that pandas UDFs
    spawn (nor GC/JIT threads), so an unpinned local[4] run can burn 8+
    cores and fake the small-cluster leg. taskset makes each level a true
    N-core machine — the sandbox equivalent of an N-executor cluster."""
    path = build_amplified_input(sf_dir, amplify)
    out = _fresh(f"_level({cpus}, {sf_dir!r}, {path!r}, {warmups}, {iters})", 5400, pin=cpus)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[7:])
    raise RuntimeError(f"level {cpus} failed:\n{out.stderr[-2000:]}")


def main() -> None:
    from jobs import rig

    n, sf_dir, repeats, amplify = rig.argv(
        2, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), 2, 256
    )
    # Each leg is preceded by the pure-CPU control: this sandbox is a VM
    # and the HOST speed drifts with neighbor load (steal time) — measured
    # swings of 1.8 → 2.9 s/worker on the identical control within one
    # day, which moves a leg's wall time by the same ~60% and can fake a
    # 0.9 → 0.55 efficiency collapse if the two legs land in different
    # windows. The controls pin each leg's window; `control_drift` > ~10%
    # means re-run, the quotient is measuring the host, not the job.
    levels: dict[int, float] = {}
    controls: dict[int, float] = {}
    pages = None
    for cpus in (n, 4 * n):
        controls[cpus] = round(cpu_control(), 3)
        r = run_level(cpus, sf_dir, amplify, warmups=2, iters=max(repeats, 3))
        levels[cpus] = r["sec"]
        pages = r["pages"]
    thr_n = pages / levels[n]
    thr_4n = pages / levels[4 * n]
    eff = (thr_4n / thr_n) / 4.0
    drift = abs(controls[4 * n] - controls[n]) / controls[n]
    rig.emit({
        "sf_dir": sf_dir,
        "amplify": amplify,
        "pages": pages,
        "N": n,
        "sec_N": round(levels[n], 3),
        "sec_4N": round(levels[4 * n], 3),
        "pages_per_sec_N": round(thr_n, 1),
        "pages_per_sec_4N": round(thr_4n, 1),
        "speedup": round(levels[n] / levels[4 * n], 3),
        "scaling_efficiency": round(eff, 3),
        "cpu_control_sec_per_worker": controls,
        "control_drift": round(drift, 3),
        "window_ok": drift < 0.10,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    })


if __name__ == "__main__":
    main()
