#!/usr/bin/env python3
"""Mega-cell skew on the match path: AQE skew-join split, winner-identical.

The north rule requires city-center mega-cells to be handled explicitly
("skew from mega-cells ... salted two-stage aggregation and AQE-tuned
shuffle partitions"). Round 2's degradation bench ran the shuffle-path
cascade with AQE skew-join ENABLED but the skew split never fired —
partitions stayed under the (default, 256 MB) threshold, so mega-cell
handling on the match path itself was still undemonstrated. This job
closes that:

- POIs amplified A× like jobs/degradation_bench.py, but every 10th
  replica is RELOCATED (``rig.amplify(..., mega=...)``) into one
  Budapest-center coarse cell (±0.002° jitter — inside a single
  mult=128 radius-arm cell): a true mega-cell
  holding ~10% of all candidates, the city-center shape at planet scale.
- Pages amplified P×, with every 10th replica probing the same cell.
- Cascade runs the planet configuration: ``broadcast_candidates=False``
  (all arms shuffle equi-joins), ``name_arm_radius_m`` bounding the
  attribute arms (so every arm is cell-keyed and the mega-cell hits all
  of them).
- AQE skew-join thresholds are scaled to the sandbox's data size
  (``skewedPartitionThresholdInBytes``/``advisoryPartitionSizeInBytes``
  at MBs instead of the 256 MB default — at real planet scale a 10^6-
  candidate city cell exceeds the DEFAULT threshold and the same split
  fires untuned; the tuning knob is the north rule's "AQE-tuned
  shuffle partitions").
- CONTROL: the identical input and plan with AQE skew-join splitting
  disabled — winner identity is asserted via (row count, osm_id
  checksum, page_id checksum), and the split path's speedup is the
  measured skew win.

Prints ONE JSON line with both walls, the plan evidence (skew-split
markers in the final adaptive plan, zero candidate broadcasts) and the
identity verdict. Paste into BENCH.md / BENCH_r03.

Usage: python3 jobs/megacell_bench.py [sf_dir] [amp_pois] [amp_pages] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402

MEGA = (47.4979, 19.0402)  # Budapest city center


def main() -> None:
    sf_dir, amp_pois, amp_pages, cpus = rig.argv("/root/testdata/sf0.1", 500, 20, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.match import match_cascade

    shuffle_parts = int(os.environ.get("MEGA_SHUFFLE_PARTS", cpus * 8))
    # Sandbox-scaled skew thresholds (see module docstring): a partition
    # is "skewed" past 5x median AND past the byte threshold; the
    # mega-cell partition is tens of MB here vs hundreds of GB at
    # planet scale, so the threshold scales down with it.
    spark = rig.session("megacell-bench", cpus, shuffle_parts, {
        **rig.NO_BROADCAST,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            os.environ.get("MEGA_SKEW_THRESHOLD", "4MB"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            os.environ.get("MEGA_SKEW_ADVISORY", "2MB"),
        # keep AQE from folding the split back together via coalescing
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the cascade aggregates winners right after the skewed joins, so
        # the split adds a shuffle; without force, AQE silently declines
        # exactly on the plans that need it most
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    })
    pois = rig.amplify(synth.osm_pois(spark, sf_dir), amp_pois, "osm_id", mega=MEGA)
    pages_geo = rig.amplify(
        geotag_pages(synth.pages(spark, sf_dir)), amp_pages, "page_id", mega=MEGA
    )

    def run(skew_enabled: bool):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_enabled).lower())
        best = match_cascade(
            pages_geo, pois, synth.poi_common_df(spark),
            brand_rows=synth.BRAND_ROWS, broadcast_candidates=False,
            name_arm_radius_m=2000.0,
        )
        res = best.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("osm_id") % 97).alias("chk_osm"),
            F.sum(F.col("page_id") % 101).alias("chk_page"),
        )
        wall, agg = rig.timed(lambda: res.collect()[0])
        # the EXECUTED plan of the query that actually ran — after AQE
        # re-planning, so skew-split markers are visible (reading the
        # un-executed `best` frame's plan would always show the initial
        # static plan with no AQE decisions in it)
        return wall, agg, rig.executed_plan(res)

    wall_split, agg_split, plan_split = run(skew_enabled=True)
    wall_ctrl, agg_ctrl, plan_ctrl = run(skew_enabled=False)

    identical = (
        agg_split["n"] == agg_ctrl["n"]
        and int(agg_split["chk_osm"]) == int(agg_ctrl["chk_osm"])
        and int(agg_split["chk_page"]) == int(agg_ctrl["chk_page"])
    )
    n_pages = pages_geo.count()
    rig.emit({
        "metric": "match_cascade_megacell_skew",
        "value": round(wall_split, 2),
        "unit": "sec",
        "wall_skew_split": round(wall_split, 2),
        "wall_no_split_control": round(wall_ctrl, 2),
        "speedup": round(wall_ctrl / wall_split, 2),
        "pois": pois.count(),
        "pages": n_pages,
        "mega_cell_share": 0.1,
        "matched_rows": agg_split["n"],
        "checksum_osm": int(agg_split["chk_osm"]),
        "winners_identical_to_unsplit": bool(identical),
        "aqe_skew_markers_in_plan": rig.skew_markers(plan_split),
        "aqe_skew_markers_in_control": rig.skew_markers(plan_ctrl),
        "broadcast_joins_in_plan": plan_split.count("BroadcastHashJoin"),
        "shuffle_joins_in_plan": rig.shuffle_joins(plan_split),
        "pages_per_sec": round(n_pages / wall_split, 1),
        "cpus": cpus,
        "shuffle_partitions": shuffle_parts,
        "sf_dir": sf_dir,
        "amp_pois": amp_pois,
        "amp_pages": amp_pages,
    })
    spark.stop()


if __name__ == "__main__":
    main()
