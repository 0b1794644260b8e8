#!/usr/bin/env python3
"""Shuffle-degradation cascade at amplified candidate scale.

The match cascade's default plan broadcasts the candidate (POI) side.
When candidates outgrow broadcast (the 10^8-POI planet table), callers
pass ``broadcast_candidates=False``: every arm becomes a shuffle
equi-join on (brand, cell) keys with the ring explode moved to the
candidate side, and AQE's skew-join splits the synthetic hotspot
mega-cells. That path is winner-identical-tested
(tests/test_match_priority.py) — this job MEASURES it at a scale where
it is the right plan:

- POIs amplified A× (default 500× → 10^7 candidates) with osm_id
  remapping and deterministic per-replica jitter of up to ±0.01° so
  hotspot density grows smoothly (the Budapest mega-cells stay skewed);
- geotagged pages amplified P× (default 20× → 3·10^5 probes);
- AQE on with skew-join enabled; candidate broadcast hint dropped.

Prints ONE JSON line: wall seconds, rows, pages/s, whether the final
adaptive plan contains a skew-split shuffle read and zero candidate
broadcasts. Paste into BENCH.md.

A fifth arg sets ``name_arm_radius_m``: the documented planet-scale
relaxation that additionally keys the unbounded attribute arms (s2/s3/s4)
on a coarse cell ring, bounding the same-name join blowup that dominates
this path (0 = reference semantics, unbounded).

Usage: python3 jobs/degradation_bench.py [sf_dir] [amp_pois] [amp_pages] [cpus] [name_arm_radius_m]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amp_pois = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    amp_pages = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    cpus = int(sys.argv[4]) if len(sys.argv) > 4 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    name_arm_radius = float(sys.argv[5]) if len(sys.argv) > 5 else 0.0

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.match import match_cascade
    from osm_poi_matchmaker_spark.session import get_spark

    spark = get_spark("degradation-bench", cpus=cpus,
                      shuffle_partitions=cpus * 8)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # force true shuffle plans: nothing auto-broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def amplify(df, times, id_col, id_stride):
        rep = df.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(times - 1))))
        jitter = (F.col("_r") % 21 - 10) * 0.001  # ±0.01°, deterministic
        return (
            rep.withColumn(
                id_col,
                F.col(id_col).cast("long")
                + F.col("_r").cast("long") * F.lit(int(id_stride)).cast("long"),
            )
            .withColumn("lat", F.col("lat") + jitter)
            .withColumn("lon", F.col("lon") - jitter)
            .drop("_r")
        )

    pois = amplify(synth.osm_pois(spark, sf_dir), amp_pois, "osm_id", 10_000_000)
    pages_geo = amplify(
        geotag_pages(synth.pages(spark, sf_dir)), amp_pages, "page_id", 10_000_000
    )

    best = match_cascade(
        pages_geo, pois, synth.poi_common_df(spark),
        brand_rows=synth.BRAND_ROWS, broadcast_candidates=False,
        name_arm_radius_m=name_arm_radius or None,
    )
    t0 = time.time()
    agg = best.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("osm_id") % 97).alias("chk"),
    ).collect()[0]
    wall = time.time() - t0

    # final adaptive plan evidence. The cascade's one page × candidate
    # join must be a shuffle join (SortMergeJoin / ShuffledHashJoin); the
    # 12-row brand dimension is a literal map in the page projection, so
    # no BroadcastHashJoin is expected at all.
    plan = best._jdf.queryExecution().executedPlan().toString()
    skew_split = "skewed=true" in plan or "isSkew=true" in plan or "skew=true" in plan
    n_pages = pages_geo.count()
    n_pois = pois.count()
    out = {
        "metric": "match_cascade_shuffle_degradation",
        "value": round(wall, 2),
        "unit": "sec",
        "pois": n_pois,
        "pages": n_pages,
        "matched_rows": agg["n"],
        "checksum": int(agg["chk"]),
        "pages_per_sec": round(n_pages / wall, 1),
        "cpus": cpus,
        "aqe_skew_split_in_plan": bool(skew_split),
        "shuffle_joins_in_plan": plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin"),
        "broadcast_joins_in_plan": plan.count("BroadcastHashJoin"),
        "sf_dir": sf_dir,
        "amp_pois": amp_pois,
        "amp_pages": amp_pages,
        "name_arm_radius_m": name_arm_radius,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
