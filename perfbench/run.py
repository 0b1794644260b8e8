#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload conflate_country --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``conflate_country``: the checkpointed stage graph of plans/pipeline.py
  (geotag_pages -> checkpoint -> match_pages on the broadcast path ->
  checkpoint + match_lineage), then tile_pyramid and
  nearest_poi_expanding (250 m, 2 km) over the extract checkpoint,
  write_grouped_exports over the match checkpoint, and a resume over the
  completed checkpoints;
* ``ann_ivf``: kmeans_centroids (3 iterations) then ivf_topk for a seeded
  query sample of a seeded clustered 64-d corpus.

One process, one Spark session on ``local[<cpus>]``; passes run back to back
(a closed loop with one client) for ``--seconds`` after set-up. Set-up is the
session start, the input load (repeated three times; the median counts) and
one warm-up pass. The warm-up pass is also the reference pass: it fixes
every layer call's expected (rows, checksum), and its output is checked
against answers that do not come from the code under test: for the POI
workload the DuckDB oracle, pandas recomputations of the tile pyramid and
the lineage rows, and the replica-0 digests committed in
``perfbench/expected.json``; for ``ann_ivf`` a NumPy re-implementation.
Every later pass must reproduce the reference exactly.
``wall_s`` is the median over the untraced timed passes.

``--trace 0`` prints the end-to-end metrics of untraced passes. ``--trace 1``
alternates untraced and traced passes and prints the per-layer metrics of
the traced ones plus the tracing overhead. The JVM log, the full run record
and (traced) the spans go to files under ``perfbench/.work``; standard
output carries only the final JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
    "write_amp": "ratio",
    "recall_at_5": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "extract.s": "s",
    "extract.rows_in": "count",
    "extract.rows_out": "count",
    "extract.keep_ratio": "ratio",
    "extract.python_s": "s",
    "extract.task_s": "s",
    "tiling.s": "s",
    "tiling.rows_out": "count",
    "match.s": "s",
    "match.rows_out": "count",
    "match.poi_scans": "count",
    "match.broadcasts": "count",
    "match.broadcast_bytes": "B",
    "match.join_rows": "count",
    "match.win_ratio": "ratio",
    "match.shuffle_bytes": "B",
    "match.peak_mem_bytes": "B",
    "match.spill_bytes": "B",
    "match.task_s": "s",
    "knn.s": "s",
    "knn.rows_out": "count",
    "knn.wide_ring_points": "count",
    "knn.join_rows": "count",
    "knn.shuffle_bytes": "B",
    "lineage.s": "s",
    "lineage.rows_out": "count",
    "checkpoint.s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count",
    "export.s": "s",
    "export.bytes_written": "B",
    "export.files_written": "count",
    "similarity.train_s": "s",
    "similarity.probe_s": "s",
    "similarity.scored_pairs": "count",
    "similarity.shuffle_bytes": "B",
    "similarity.spill_bytes": "B",
    "similarity.task_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "log.warn_lines": "count",
    "trace.overhead_frac": "ratio",
    "bench.failed_frac": "ratio",
    "bench.gen_s": "s",
    "host.cpus": "count",
    "host.driver_heap_mb": "MB",
    "host.drift_frac": "ratio",
    "host.steal_frac": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(cpus: int, heap_mb: int, log_path: str):
    """Spark on local[cpus], sized to the host, logging to ``log_path``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the program from this checkout (the HTML
    # extract's pandas UDF needs it), wherever the benchmark is run from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from osm_poi_matchmaker_spark.session import get_spark

    java_opts = " ".join(
        [
            f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
            f"-Dperfbench.log={log_path}",
            f"-Djava.io.tmpdir={tmp}",
            # a heap fixed at its maximum keeps GC pacing and resident size
            # from depending on how the heap happened to grow in this run
            f"-Xms{heap_mb}m",
        ]
    )
    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def pass_io(spark, rec, pass_id: int) -> int:
    """Shuffle-write plus spill bytes of every job the pass ran."""
    from perfbench import sparkprobe

    sparkprobe.drain(spark)
    total = 0
    for c in rec.pass_calls(pass_id):
        if c.group and c.layer != "check":
            g = sparkprobe.group_counters(spark, c.group)
            total += g["shuffle_bytes"] + g["spill_bytes"]
    return total


def layer_metrics(ctx, pass_id: int, pass_rec: dict) -> dict:
    """Per-layer metrics of one traced pass."""
    rec = ctx.rec
    calls = [c for c in rec.pass_calls(pass_id) if c.layer != "check"]

    def of(layer, fn=None):
        return [c for c in calls if c.layer == layer and (fn is None or c.fn == fn)]

    def self_s(layer, fn=None):
        return sum(rec.self_seconds(c) for c in of(layer, fn))

    def cnt(layer, key):
        return sum(c.counters.get(key, 0) for c in of(layer))

    def rows(layer):
        return sum(c.rows or 0 for c in of(layer))

    files = pass_rec["files"]
    m = {}
    m["extract.s"] = self_s("extract")
    if of("extract"):
        m["extract.rows_in"] = ctx.inputs.pages_rows
        m["extract.rows_out"] = rows("extract")
        m["extract.keep_ratio"] = rows("extract") / ctx.inputs.pages_rows
    m["extract.python_s"] = cnt("extract", "python_s")
    m["extract.task_s"] = cnt("extract", "task_s")
    m["tiling.s"] = self_s("tiling")
    m["tiling.rows_out"] = rows("tiling")
    m["match.s"] = self_s("match")
    m["match.rows_out"] = rows("match")
    m["match.poi_scans"] = cnt("match", "marked_scans")
    m["match.broadcasts"] = cnt("match", "broadcasts")
    m["match.broadcast_bytes"] = cnt("match", "broadcast_bytes")
    m["match.join_rows"] = cnt("match", "join_rows")
    if m["match.join_rows"]:
        m["match.win_ratio"] = m["match.rows_out"] / m["match.join_rows"]
    m["match.shuffle_bytes"] = cnt("match", "shuffle_bytes")
    m["match.peak_mem_bytes"] = max((c.counters.get("peak_mem_bytes", 0) for c in of("match")), default=0)
    m["match.spill_bytes"] = cnt("match", "spill_bytes")
    m["match.task_s"] = cnt("match", "task_s")
    m["knn.s"] = self_s("knn")
    m["knn.rows_out"] = rows("knn")
    m["knn.wide_ring_points"] = cnt("knn", "anti_join_rows")
    m["knn.join_rows"] = cnt("knn", "join_rows")
    m["knn.shuffle_bytes"] = cnt("knn", "shuffle_bytes")
    m["lineage.s"] = self_s("lineage")
    m["lineage.rows_out"] = rows("lineage")
    m["checkpoint.s"] = self_s("checkpoint", "run")
    m["checkpoint.resume_s"] = self_s("checkpoint", "resume")
    m["checkpoint.bytes_written"], m["checkpoint.files_written"] = files.get("checkpoint", (0, 0))
    m["export.s"] = self_s("export")
    m["export.bytes_written"], m["export.files_written"] = files.get("export", (0, 0))
    m["similarity.train_s"] = self_s("similarity", "kmeans_centroids")
    m["similarity.probe_s"] = self_s("similarity", "ivf_topk")
    m["similarity.scored_pairs"] = cnt("similarity", "join_rows")
    m["similarity.shuffle_bytes"] = cnt("similarity", "shuffle_bytes")
    m["similarity.spill_bytes"] = cnt("similarity", "spill_bytes")
    m["similarity.task_s"] = cnt("similarity", "task_s")
    m["spark.jobs"] = sum(c.counters.get("jobs", 0) for c in calls)
    m["spark.tasks"] = sum(c.counters.get("tasks", 0) for c in calls)
    m["spark.gc_s"] = sum(c.counters.get("gc_s", 0.0) for c in calls)
    return m


# kept output -> the layer call whose replica-0 digest is committed
DIGESTED = {
    "extract": "extract.geotag_pages",
    "match": "match.match_pages",
    "knn": "knn.nearest_poi_expanding",
    "export": "export.write_grouped_exports",
    "resume": "checkpoint.resume",
}


def check_reference(ctx, base: str, threads: int) -> dict:
    """Compare the reference pass's kept output with the independent answers;
    for the POI workload also return its replica-0 digests."""
    import numpy as np
    import pyarrow.parquet as pq

    from perfbench import reference
    from perfbench.inputs import CENTROID_MOD, NPROBE

    kept, inp, rec = ctx.kept, ctx.inputs, ctx.rec
    t0 = time.perf_counter()
    out = {}
    if ctx.workload.name == "ann_ivf":
        corpus = pq.read_table(inp.corpus).to_pandas()
        ids = corpus["vec_id"].to_numpy()
        X = np.stack(corpus["embedding"].to_numpy())
        cid, cents = reference.kmeans_reference(ids, X, CENTROID_MOD, iters=3)
        got = kept["cents"].set_index("centroid_id")["cent_vec"]
        worst = max(
            float(np.max(np.abs(np.asarray(got[int(c)]) - v))) for c, v in zip(cid, cents)
        ) if set(got.index) == set(int(c) for c in cid) else float("inf")
        if worst > 1e-9:
            rec.fail("check.kmeans_reference", f"centroids differ by {worst}")
        want = reference.ivf_reference(ids, X, inp.query_ids, cid, cents, NPROBE)
        topk = kept["topk"].sort_values(["query_id", "rank"])
        have = {int(q): [int(v) for v in g["match_id"]] for q, g in topk.groupby("query_id")}
        if have != want:
            bad = sum(have.get(q) != w for q, w in want.items())
            rec.fail("check.ivf_reference", f"{bad} of {len(want)} queries differ")
        exact = {int(q): set(int(v) for v in row) for q, row in zip(inp.query_ids, inp.exact_top5)}
        out["recall_at_5"] = statistics.fmean(
            len(set(have.get(q, [])) & e) / 5 for q, e in exact.items()
        )
    else:
        answers = reference.oracle_answers(base, ctx.sizes.oracle_pages, threads)
        base_of = inp.replica0_ids
        oracle_knn = kept["knn"][["page_id", "osm_id"]].assign(
            distance_m=kept["knn"]["distance"].round(2)
        )
        for got, q in ((kept["oracle_match"], "match_cascade"), (oracle_knn, "knn_nearest")):
            got = got[got["page_id"].isin(base_of.keys())].copy()
            got["page_id"] = got["page_id"].map(base_of)
            got = got[got["page_id"] < ctx.sizes.oracle_pages]
            why = reference.diff_rows(got, answers[q])
            if why:
                rec.fail(f"check.oracle_{q}", why)
        for name, want in (
            ("tiling", reference.tile_pyramid_reference(kept["extract"])),
            ("lineage", reference.lineage_reference(kept["match"])),
        ):
            why = reference.diff_rows(kept[name], want)
            if why:
                rec.fail(f"check.{name}_reference", why)
        out["digests"] = {
            call: reference.replica0_digest(kept[name], base_of) for name, call in DIGESTED.items()
        }
        # recall of the planted pairs: synth puts page k and POI k at one
        # anchor; the share of pages whose winner is that POI (one answer
        # per page, so recall@5 is recall@1 here)
        winners = kept["match"].set_index("page_id")["osm_id"]
        hits = [winners.get(p) == t for p, t in inp.twin_osm_id.items()]
        out["recall_at_5"] = sum(hits) / len(hits)
    out["check_s"] = time.perf_counter() - t0
    return out


def check_digests(rec, digests: dict, expected: dict | None) -> None:
    """Every replica-0 digest must equal the committed one."""
    if expected is None:
        rec.fail("check.expected", "no committed replica-0 digests for these sizes")
        return
    for call, got in digests.items():
        if expected.get(call) != got:
            rec.fail(f"check.expected_{call}", f"{got} != {expected.get(call)}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    # fail fast (no result line) when the program is not in this checkout
    import osm_poi_matchmaker_spark  # noqa: F401

    from perfbench import host, reference
    from perfbench.inputs import Sizes, base_dir, make_inputs
    from perfbench.recorder import Recorder
    from perfbench.workloads import WORKLOADS, Context, run_pass
    import scaling_bench

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    sizes = Sizes()
    cpus = host.cpus()
    heap_mb = host.driver_heap_mb()
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    for d in ("logs", "records", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    log_path = os.path.join(WORK, "logs", stamp + ".log")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": {"cpus": cpus, "shuffle_partitions": cpus,
                                     "driver_heap_mb": heap_mb, "control_workers": cpus},
        "sizes": sizes.__dict__,
    }
    def control():
        return scaling_bench.cpu_control(cpus, loops=host.CONTROL_LOOPS)

    control_before = control()

    t0 = time.perf_counter()
    spark = start_session(cpus, heap_mb, log_path)
    session_start_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        inputs = make_inputs(spark, WORK, args.seed, sizes)
        if workload.name != "ann_ivf":
            reference.oracle_answers(base_dir(WORK, sizes), sizes.oracle_pages, cpus)
        gen_s = time.perf_counter() - t0
        rec = Recorder(spark)
        ctx = Context(spark, workload, inputs, sizes, os.path.join(WORK, "out", args.workload), rec)

        loads = []
        for _ in range(3):
            t0 = time.perf_counter()
            for name in workload.inputs:
                spark.read.parquet(getattr(inputs, name)).count()
            loads.append(time.perf_counter() - t0)
        # the warm-up pass is the reference pass: it fixes every call's
        # expected (rows, checksum) and keeps what the independent checks need
        warm = run_pass(ctx, 0, traced=False, keep=True)
        setup_s = session_start_s + statistics.median(loads) + (warm["wall_s"] or 0.0)
        checks = check_reference(ctx, base_dir(WORK, sizes), cpus) if warm["ok"] else {}
        if "digests" in checks:
            expected = reference.load_expected(sizes.customers, sizes.parts)
            check_digests(rec, checks["digests"], expected)
        warns = host.count_warns(log_path)

        passes = []
        t_start = time.perf_counter()
        i = 1
        while True:
            traced = bool(args.trace) and i % 2 == 0
            steal0, total0 = host.cpu_ticks()
            p = run_pass(ctx, i, traced=traced)
            steal1, total1 = host.cpu_ticks()
            p["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
            p["io_bytes"] = pass_io(spark, rec, i)
            now_warns = host.count_warns(log_path)
            p["warn_lines"], warns = now_warns - warns, now_warns
            if traced and p["ok"]:
                p["layers"] = layer_metrics(ctx, i, p)
            passes.append(p)
            i += 1
            enough = not args.trace or any(q["traced"] for q in passes)
            if time.perf_counter() - t_start >= args.seconds and enough:
                break
        rss = host.peak_rss_mb()
    finally:
        stop_session(spark)
    control_after = control()

    attempted = len(rec.calls)
    failed = sum(not c.ok for c in rec.calls)
    plain = [p for p in passes if not p["traced"] and p["ok"]]
    traced = [p for p in passes if p["traced"] and p["ok"]]
    wall = median([p["wall_s"] for p in plain])
    in_bytes = ctx.input_bytes()
    correct = failed == 0 and warm["ok"] and all(p["ok"] for p in passes) and bool(plain)
    drift = abs(control_after - control_before) / control_before
    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        for k in {k for p in traced for k in p["layers"]}:
            metrics[k] = median([p["layers"].get(k, 0.0) for p in traced])
        metrics["session.start_s"] = session_start_s
        metrics["log.warn_lines"] = median([p["warn_lines"] for p in passes])
        metrics["trace.overhead_frac"] = (
            median([p["wall_s"] for p in traced]) / wall - 1.0 if wall and traced else 0.0
        )
        metrics["bench.failed_frac"] = failed / attempted
        metrics["bench.gen_s"] = gen_s
        metrics["host.cpus"] = cpus
        metrics["host.driver_heap_mb"] = heap_mb
        metrics["host.drift_frac"] = drift
        metrics["host.steal_frac"] = median([p["steal_frac"] for p in passes])
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "items_per_s": ctx.items() / wall if wall else 0.0,
            "peak_rss_mb": rss,
            "ok_frac": 1.0 - failed / attempted,
            "write_amp": median(
                [(p["file_bytes"] + p["io_bytes"]) / in_bytes for p in plain]
            ),
            "recall_at_5": checks.get("recall_at_5", 0.0),
        }
        units = END_TO_END
    record.update(
        session_start_s=session_start_s, gen_s=gen_s, load_s=loads, warmup=warm,
        setup_s=setup_s, checks=checks, passes=passes, peak_rss_mb=rss,
        control_s={"before": control_before, "after": control_after, "drift_frac": drift},
        input_bytes=in_bytes, attempted=attempted, failed=failed,
        failures=[{"key": c.key, "pass": c.pass_id, "error": c.error} for c in rec.calls if not c.ok],
        expected={k: list(v) for k, v in rec.expected.items()}, metrics=metrics,
    )
    with open(os.path.join(WORK, "records", stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        spans = [
            {"span": c.span_id, "name": c.key, "pass": c.pass_id, "parent": c.parent,
             "start": c.start, "end": c.end, "self_s": rec.self_seconds(c), "rows": c.rows,
             "checksum": c.checksum, "ok": c.ok, "counters": c.counters}
            for c in rec.calls if c.traced
        ]
        with open(os.path.join(WORK, "traces", stamp + ".json"), "w") as f:
            json.dump(spans, f, indent=1)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
