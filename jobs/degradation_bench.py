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

- POIs amplified A× (default 500× → 10^7 candidates) by
  ``rig.amplify``: osm_id remapping and deterministic per-replica
  jitter of up to ±0.01° so hotspot density grows smoothly (the
  Budapest mega-cells stay skewed);
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

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    sf_dir, amp_pois, amp_pages, cpus, name_arm_radius = rig.argv(
        "/root/testdata/sf0.1", 500, 20, None, 0.0
    )

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.match import match_cascade

    # force true shuffle plans: nothing auto-broadcasts
    spark = rig.session("degradation-bench", cpus, cpus * 8, rig.NO_BROADCAST)
    pois = rig.amplify(synth.osm_pois(spark, sf_dir), amp_pois, "osm_id")
    pages_geo = rig.amplify(geotag_pages(synth.pages(spark, sf_dir)), amp_pages, "page_id")

    best = match_cascade(
        pages_geo, pois, synth.poi_common_df(spark),
        brand_rows=synth.BRAND_ROWS, broadcast_candidates=False,
        name_arm_radius_m=name_arm_radius or None,
    )
    wall, agg = rig.timed(
        lambda: best.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("osm_id") % 97).alias("chk")
        ).collect()[0]
    )

    # final adaptive plan evidence. The cascade's one page × candidate
    # join must be a shuffle join (SortMergeJoin / ShuffledHashJoin); the
    # 12-row brand dimension is a literal map in the page projection, so
    # no BroadcastHashJoin is expected at all.
    plan = rig.executed_plan(best)
    n_pages = pages_geo.count()
    rig.emit({
        "metric": "match_cascade_shuffle_degradation",
        "value": round(wall, 2),
        "unit": "sec",
        "pois": pois.count(),
        "pages": n_pages,
        "matched_rows": agg["n"],
        "checksum": int(agg["chk"]),
        "pages_per_sec": round(n_pages / wall, 1),
        "cpus": cpus,
        "aqe_skew_split_in_plan": rig.skew_markers(plan) > 0,
        "shuffle_joins_in_plan": rig.shuffle_joins(plan),
        "broadcast_joins_in_plan": plan.count("BroadcastHashJoin"),
        "sf_dir": sf_dir,
        "amp_pois": amp_pois,
        "amp_pages": amp_pages,
        "name_arm_radius_m": name_arm_radius,
    })
    spark.stop()


if __name__ == "__main__":
    main()
