#!/usr/bin/env python3
"""DBSCAN scale bench (operators/spatial_cluster.dbscan_clusters).

At planet scale the POI table is 10^8 rows and density clustering is
only viable if ε-pair generation stays a cell-keyed equi-join (no
all-pairs) and the component stage runs over the derived dense-pair
graph, not the point table. This job synthesizes a deterministic layout
with a closed-form answer and measures the two stages separately:

- a ``width × height`` lattice with ~2.2 km pitch (every lattice point
  is isolated at eps=400 m → noise by construction);
- every 20th lattice slot hosts a **blob** of ``blob_size`` points
  inside a ~100 m disc (pairwise < eps → a complete ε-graph → every
  point core at min_pts=4, one cluster per blob, zero borders).

Expected output — exact, no oracle run needed: clusters == n_blobs,
cores == n_blobs*blob_size, borders == 0, noise == lattice - n_blobs.
Components converge in ~1 pointer-jump round (complete graphs), so the
measured shape is dominated by the ε self-join — the stage whose cost
is the one that grows with corpus size.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/dbscan_bench.py [lattice_slots] [blob_size] [cpus] [mode]
mode: "all" (default) or "pairs" (ε-join stage only — the stage whose
cost scales with data; the component rounds carry a fixed per-round
driver overhead that only amortizes at much larger inputs).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    slots, blob_size, cpus, mode = rig.argv(580_000, 50, None, "all")

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.spatial_cluster import (
        dbscan_clusters,
        dbscan_clusters_contracted,
        distance_band_pairs,
    )

    # Partitioning is pinned INDEPENDENT of the parallelism level (fixed
    # split plan + fixed shuffle width), so a 2-core vs 8-core run
    # differs only in cores — the same-input rule the scaling_bench.py
    # protocol uses. cpus*2 partitions at cpus=2 would make the low
    # level pay spill costs the high level never sees.
    spark = rig.session("dbscan-bench", cpus, max(32, cpus * 2))

    width = 2000  # lattice columns; pitch 0.02 deg (~2.2 km lat, ~1.5 km lon)
    pitch = 0.02
    slot = spark.range(slots).select(F.col("id").alias("slot"))
    lat0 = F.lit(40.0) + (F.col("slot") / width).cast("long") * F.lit(pitch)
    lon0 = F.lit(0.0) + (F.col("slot") % width) * F.lit(pitch)
    is_blob = (F.col("slot") % 20) == 0

    noise = slot.where(~is_blob).select(
        (F.col("slot") * 1000).alias("osm_id"), lat0.alias("lat"), lon0.alias("lon")
    )
    # blob members: a deterministic 7x8 sub-lattice of ~33 m steps around
    # the slot center — diameter well under eps, so the ε-graph is complete.
    blobs = (
        slot.where(is_blob)
        .select("slot", lat0.alias("clat"), lon0.alias("clon"))
        .select(
            "slot", "clat", "clon",
            F.explode(F.sequence(F.lit(0), F.lit(blob_size - 1))).alias("i"),
        )
        .select(
            (F.col("slot") * 1000 + 1 + F.col("i")).alias("osm_id"),
            (F.col("clat") + (F.col("i") % 7) * F.lit(0.0003)).alias("lat"),
            (F.col("clon") + (F.col("i") / 7).cast("long") * F.lit(0.0004)).alias("lon"),
        )
    )
    points = rig.cached(noise.unionByName(blobs).repartition(64))
    n_points = points.count()
    n_blobs = (slots + 19) // 20
    n_noise = slots - n_blobs
    expect_pairs = n_blobs * blob_size * (blob_size - 1) // 2

    t_pairs, n_pairs = rig.timed(lambda: distance_band_pairs(points, eps_m=400.0).count())

    if mode == "pairs":
        rig.emit({
            "metric": "dbscan_bench_pairs",
            "points": n_points,
            "pairs": n_pairs,
            "pairs_sec": round(t_pairs, 2),
            "points_per_sec": round(n_points / t_pairs, 1),
            "exact": n_pairs == expect_pairs,
            "cpus": cpus,
        })
        spark.stop()
        sys.exit(0 if n_pairs == expect_pairs else 1)

    def run(fn):
        def roles():
            out = fn(points, eps_m=400.0, min_pts=4).persist()
            rows = out.groupBy("role").agg(
                F.count("*").alias("n"), F.countDistinct("cluster").alias("clusters")
            ).collect()
            out.unpersist()
            return {r["role"]: (r["n"], r["clusters"]) for r in rows}

        dt, stats = rig.timed(roles)
        good = (
            stats.get("core", (0, 0)) == (n_blobs * blob_size, n_blobs)
            and stats.get("noise", (0, 0))[0] == n_noise
            and "border" not in stats
        )
        return dt, good

    t_naive, ok_naive = run(dbscan_clusters)
    t_fast, ok_fast = run(dbscan_clusters_contracted)

    ok = n_pairs == expect_pairs and ok_naive and ok_fast
    rig.emit({
        "metric": "dbscan_bench",
        "points": n_points,
        "pairs": n_pairs,
        "blobs": n_blobs,
        "pairs_sec": round(t_pairs, 2),
        "naive_sec": round(t_naive, 2),
        "contracted_sec": round(t_fast, 2),
        "points_per_sec_contracted": round(n_points / t_fast, 1),
        "exact": ok,
        "cpus": cpus,
    })
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
