#!/usr/bin/env python3
"""The combined planet-scale profile at amplified candidate scale.

Rounds 2-3 proved each degradation knob individually: the cascade's
shuffle path (jobs/degradation_bench.py), the bounded name arms
(name_arm_radius_m), AQE mega-cell splitting (jobs/megacell_bench.py),
and the kNN family's shuffle path (jobs/knn_bench.py). VERDICT r3 ask
#5 is to exercise them TOGETHER — the configuration a 10^12-page /
10^8-POI deployment would actually run:

- ``match_pages(..., broadcast_candidates=False,
  name_arm_radius_m=50_000)``: the cascade's one key join is a shuffle
  equi-join, ring explode candidate-side, attribute arms bounded by a
  coarse cell ring at 50 km;
- unmatched pages (``poi_new``) feed
  ``nearest_poi_expanding(broadcast_candidates=False)``: the
  escalating 250 m → 2 km ring kNN on its shuffle path — the
  conflation queue (nearest existing POI per new page) that follows
  matching in production.

This is exactly the ``match_cascade_planet`` registry query
(__spark_entry__.py), oracle-verified at sf0.01; here it runs at
10^7 candidates. Prints ONE JSON line: wall seconds, matched/new/
suggested row counts, pages/s, and the plan evidence — zero
broadcast joins in the cascade OR the kNN stage (the 12-row brand
table is a literal map, not a join). Paste into BENCH.md.

Usage: python3 jobs/planet_profile_bench.py [sf_dir] [amp_pois] [amp_pages] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    sf_dir, amp_pois, amp_pages, cpus = rig.argv("/root/testdata/sf0.1", 500, 20, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.knn import nearest_poi_expanding
    from osm_poi_matchmaker_spark.operators.match import match_pages

    # no broadcast escape hatch for the candidate side; the 12-row brand
    # dim resolves to plan-time constants, not a join
    spark = rig.session("planet-profile-bench", cpus, cpus * 8, rig.NO_BROADCAST)
    pois = rig.amplify(synth.osm_pois(spark, sf_dir), amp_pois, "osm_id")
    pages_geo = rig.cached(
        rig.amplify(geotag_pages(synth.pages(spark, sf_dir)), amp_pages, "page_id")
    )

    def match():
        m = match_pages(
            pages_geo,
            pois,
            synth.poi_common_df(spark),
            brand_rows=synth.BRAND_ROWS,
            broadcast_candidates=False,
            name_arm_radius_m=50_000.0,
        ).persist()
        return m, m.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("poi_new").cast("long")).alias("n_new")
        ).collect()[0]

    def knn():
        res = nearest_poi_expanding(
            pages_geo.join(m.where(F.col("poi_new")).select("page_id"), "page_id"),
            pois,
            radii=(250.0, 2000.0),
            broadcast_candidates=False,
        ).agg(F.count(F.lit(1)).alias("n_suggest"), F.sum(F.col("osm_id") % 97).alias("chk"))
        return res, res.collect()[0]

    wall_match, (m, counts) = rig.timed(match)
    wall_knn, (res, row) = rig.timed(knn)

    # Plan evidence, same rule as jobs/degradation_bench.py: the cascade's
    # one page × candidate join and every kNN ring must be a shuffle join,
    # and no BroadcastHashJoin is allowed anywhere (the 12-row brand
    # dimension is a literal map in the cascade's page projection, not a
    # join). Each component's OWN executed plan is inspected — the
    # composed frame's plan text re-embeds the cached cascade subtree once
    # per kNN-round reference, which would multiply-count its joins ~30×.
    plan_match, plan_knn = rig.executed_plan(m), rig.executed_plan(res)
    wall = wall_match + wall_knn
    n_pages = pages_geo.count()
    rig.emit({
        "metric": "match_cascade_planet_profile",
        "value": round(wall, 2),
        "unit": "sec",
        "sf_dir": sf_dir,
        "cpus": cpus,
        "pois": pois.count(),
        "pages": n_pages,
        "wall_match_sec": round(wall_match, 2),
        "wall_knn_sec": round(wall_knn, 2),
        "pages_per_sec": round(n_pages / wall, 1),
        "rows": int(counts["n"]),
        "new_pois": int(counts["n_new"]),
        "nn_suggestions": int(row["n_suggest"]),
        "nn_checksum": int(row["chk"]),
        # n_bhj counts include textual re-embeddings of the cached
        # cascade inside the kNN plan; the load-bearing assertion is
        # broadcast_free (no BroadcastHashJoin line in either plan).
        "broadcast_hash_joins_match": plan_match.count("BroadcastHashJoin"),
        "broadcast_hash_joins_knn": plan_knn.count("BroadcastHashJoin"),
        "broadcast_free": "BroadcastHashJoin" not in plan_match + plan_knn,
        "shuffle_joins_match": rig.shuffle_joins(plan_match),
        "shuffle_joins_knn": rig.shuffle_joins(plan_knn),
        "name_arm_radius_m": 50_000.0,
    })
    spark.stop()


if __name__ == "__main__":
    main()
