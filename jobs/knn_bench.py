#!/usr/bin/env python3
"""kNN-family shuffle degradation at amplified candidate scale.

Round 3 gave nearest_poi / nearest_competitor / nearest_way /
idw_interpolate the ``broadcast_candidates=False`` planet path (shuffle
equi-join on the ring cell, 9× explode on the candidate side) — this
job MEASURES it at a scale where the broadcast hint would be the wrong
plan, exactly like jobs/degradation_bench.py does for the cascade:

- POIs amplified A× by ``rig.amplify`` (default 500× → 10^7
  candidates, ±0.01° jitter);
- geotagged pages amplified P× (default 20× → ~2.4·10^5 probes);
- auto-broadcast disabled (simulating planet-scale candidate stats);
- both paths run on identical inputs; winner identity asserted via
  (row count, osm_id checksum, distance-sum checksum).

Prints ONE JSON line. Paste into BENCH.md.

Usage: python3 jobs/knn_bench.py [sf_dir] [amp_pois] [amp_pages] [cpus] [radius_m]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    sf_dir, amp_pois, amp_pages, cpus, radius_m = rig.argv(
        "/root/testdata/sf0.1", 500, 20, None, 250.0
    )

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.knn import nearest_poi

    spark = rig.session("knn-bench", cpus, cpus * 8, rig.NO_BROADCAST)
    pois = rig.amplify(synth.osm_pois(spark, sf_dir), amp_pois, "osm_id")
    pages = rig.amplify(geotag_pages(synth.pages(spark, sf_dir)), amp_pages, "page_id").where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    ).select("page_id", "lat", "lon")

    def run(broadcast: bool):
        res = nearest_poi(pages, pois, radius_m, k=1, broadcast_candidates=broadcast).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("osm_id") % 97).alias("chk"),
            F.sum(F.round(F.col("distance"), 2)).alias("dsum"),
        )
        wall, row = rig.timed(lambda: res.collect()[0])
        return wall, row, rig.executed_plan(res)

    wall_b, row_b, _ = run(broadcast=True)
    wall_s, row_s, plan_s = run(broadcast=False)

    identical = (
        row_b["n"] == row_s["n"]
        and int(row_b["chk"]) == int(row_s["chk"])
        and abs(float(row_b["dsum"]) - float(row_s["dsum"])) < 1e-6
    )
    n_pages = pages.count()
    rig.emit({
        "metric": "knn_nearest_shuffle_degradation",
        "value": round(wall_s, 2),
        "unit": "sec",
        "wall_shuffle": round(wall_s, 2),
        "wall_broadcast": round(wall_b, 2),
        "pois": pois.count(),
        "pages": n_pages,
        "matched": row_s["n"],
        "winners_identical": bool(identical),
        "pages_per_sec_shuffle": round(n_pages / wall_s, 1),
        "shuffle_joins_in_plan": rig.shuffle_joins(plan_s),
        "broadcast_joins_in_plan": plan_s.count("BroadcastHashJoin"),
        "radius_m": radius_m,
        "cpus": cpus,
        "sf_dir": sf_dir,
    })
    spark.stop()


if __name__ == "__main__":
    main()
