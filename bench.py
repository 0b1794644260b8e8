#!/usr/bin/env python3
"""Headline benchmark: runs the engine's flagship pipeline at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: the cores this process may run on) and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "pages_per_sec_match": ...}

Timing excludes the one-time synthetic-input materialization (input data is
a stored table in production; the cache build is data prep, not the query).

Stage timings reflect the production pipeline shape (plans/pipeline.py —
checkpointed extract → match → metrics jobs, built by its stage
functions): each stage materializes ONCE (persist) and downstream stages
consume the materialized frame. The extract cost is paid — and timed — in
the geotag_extract stage; match_lineage is an
aggregation over the persisted match output, exactly as the metrics job
runs it, not an independent recomputation of the whole cascade.

Each stage is forced end-to-end with a checksum aggregate over all columns
so Catalyst can't prune the interesting work.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from jobs import rig  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = rig.host_cpus()
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.operators.knn import nearest_poi_expanding
    from osm_poi_matchmaker_spark.plans.lineage import match_lineage
    from osm_poi_matchmaker_spark.plans.pipeline import extract_stage, match_stage

    spark = rig.session("opm-bench", cpus, cpus)

    # Warm the synthetic input tables (one-time data prep, untimed).
    n_pages = synth.pages(spark, sf_dir).count()
    pois = synth.osm_pois(spark, sf_dir)
    pois.count()

    def run_pipeline() -> tuple[dict, dict]:
        """One full pass of the staged pipeline; fresh persists each call so
        every pass pays every stage's full compute."""
        # Spark caches by logical-plan equality: the expanding kNN's
        # round-persists (operators/knn.py) from the PREVIOUS pass would
        # be silently reused by this pass's identical plan, measuring a
        # cache hit instead of the work. Drop all cached frames first —
        # this pass's own persists are built fresh below.
        spark.catalog.clearCache()
        timings: dict[str, float] = {}
        rows: dict[str, int] = {}

        def stage(name: str, df) -> None:
            sec, (rows[name], _) = rig.timed(lambda: rig.force(df))
            timings[name] = round(sec, 3)

        # stage 1: geotag extraction (pandas-UDF parse of every page) — the
        # persisted frame is the pipeline's extract checkpoint
        pages_geo = extract_stage(spark, sf_dir).persist()
        stage(
            "geotag_extract",
            pages_geo.select(
                "page_id", "url", "name", "lat", "lon", "city", "street",
                "housenumber", "csn", "ref",
            ),
        )

        # stage 2: tile-occupancy histogram over the extract checkpoint
        stage(
            "cell_histogram",
            pages_geo.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_pages")),
        )

        # stage 3: the match cascade — persisted as the match checkpoint
        matched = match_stage(spark, sf_dir, pages_geo).persist()
        stage(
            "match_cascade",
            matched.select(
                "page_id", "osm_id", "node_type", "stage", "priority",
                F.round("distance", 2).alias("distance_m"), "poi_new",
            ),
        )

        # stage 4: per-partition lineage metrics over the match checkpoint
        stage("match_lineage", match_lineage(matched))

        # stage 5: ring-expansion nearest-POI assignment
        stage(
            "knn_nearest",
            nearest_poi_expanding(pages_geo, pois, radii=(250.0, 2000.0)).select(
                "page_id", "osm_id", F.round("distance", 2).alias("distance_m")
            ),
        )
        matched.unpersist(blocking=True)
        pages_geo.unpersist(blocking=True)
        return timings, rows

    # Window-quality stamp (VERDICT r4 ask #4): the same pure-CPU control
    # scaling_bench.py runs around each leg, here run before and after the
    # timed passes. This sandbox is a VM whose host speed drifts with
    # neighbor load (measured up to ~50% between windows on identical
    # code); control_drift carries that evidence INSIDE the bench JSON so
    # a slow driver reading is distinguishable from a code regression
    # without BENCH.md archaeology.
    from scaling_bench import cpu_control

    control_before = round(cpu_control(), 3)

    # Steady-state protocol (mirrors scaling_bench.py): one warmup pass pays
    # the per-JVM one-time costs — whole-stage-codegen compile + C2 JIT,
    # measured at ~8x the warm cost for the identical job — which amortize
    # to zero over a production run. Then 3 timed passes, min per stage:
    # at sf0.1 a single pass has ±20% run-to-run spread on this box (GC,
    # frequency throttle), and every pass still pays every stage's full
    # compute (fresh persists per pass), so min is the honest steady-state.
    run_pipeline()
    passes = [run_pipeline() for _ in range(3)]
    timings = {k: min(t[k] for t, _ in passes) for k in passes[0][0]}
    rows = passes[-1][1]

    control_after = round(cpu_control(), 3)
    drift = abs(control_after - control_before) / control_before

    total = round(sum(timings.values()), 3)
    match_sec = timings.get("match_cascade", total) or total
    spark.stop()
    rig.emit({
        "metric": "poi_match_pipeline_headline",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows": rows,
        "pages": n_pages,
        "pages_per_sec_match": round(n_pages / match_sec, 1) if match_sec else None,
        "cpus": cpus,
        "cpu_control_sec_per_worker": {
            "before": control_before, "after": control_after
        },
        "control_drift": round(drift, 3),
        "window_ok": drift < 0.10,
    })


if __name__ == "__main__":
    main()
