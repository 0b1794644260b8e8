#!/usr/bin/env python3
"""Bucketed-table co-located joins: the on-disk layout half of the
100 TB story, measured in BOTH regimes.

Spark native bucketing (saveAsTable + bucketBy + sortBy — the same plan
property Iceberg's bucket partition transform provides) removes the
shuffle under a join when the scan's output partitioning already
satisfies the join requirement. This job measures the two regimes that
decide when that layout is right:

1. UNIQUE-KEY enrich join (osm_id ⋈ osm_id, both sides bucketed):
   the dimension-merge shape (tags/patch enrichment, crawl delta,
   lineage). Keys are unique → partitions are uniform → dropping the
   exchange is pure win: zero Exchange in the plan, both sides read
   co-located.

2. SPATIAL-KEY probe join (pages ⋈ POIs on the coarse cell): the
   kNN/cascade candidate shape. Bucketing the POI side removes its
   exchange too (only the small probe side shuffles). Caveat this
   scenario carries rather than measures: a bucketed scan admits no
   AQE skew-split (skew-join re-plans at an exchange), so under true
   mega-cell skew the straggler bucket has no runtime rescue — size
   buckets so the hottest cell fits, or keep the exchange and let AQE
   split (jobs/megacell_bench.py is the skew evidence).

The job also documents the WRITE discipline both wins depend on: a
bucketed write without a repartition on the bucket key emits one file
per (task, bucket) — measured 131,073 files/table from a 1024-task
plan at 128 buckets, whose first read paid 81 s of file-open cost
before any byte of data. One repartition → one file per bucket.

Both scenarios assert result identity (count + checksum) between the
plain and bucketed plans. Prints ONE JSON line. Paste into BENCH.md.

Usage: python3 jobs/bucketed_join_bench.py [sf_dir] [amp] [cpus] [buckets]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    sf_dir, amp, cpus, buckets = rig.argv("/root/testdata/sf0.1", 100, None, 128)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.tiling import coarse_cell_id

    warehouse = rig.workdir("bucketed_join_bench")
    # planet-scale stats: no broadcast escape hatch anywhere
    spark = rig.session(
        "bucketed-join-bench", cpus, cpus * 4,
        {"spark.sql.warehouse.dir": warehouse, **rig.NO_BROADCAST},
    )
    mult = 64

    pois = synth.osm_pois(spark, sf_dir)
    rep = spark.range(amp).withColumnRenamed("id", "rep")
    big = (
        pois.crossJoin(rep)
        .select(
            (F.col("osm_id") * amp + F.col("rep")).alias("osm_id"),
            (F.col("lat") + (F.col("rep") % 100 - 50) * 0.0002).alias("lat"),
            (F.col("lon") + (F.col("rep") % 100 - 50) * 0.0003).alias("lon"),
            "name",
        )
        .withColumn("cell", coarse_cell_id(F.col("lat"), F.col("lon"), mult))
    )
    for t in ("pois_plain", "pois_bucketed", "enrich_plain", "enrich_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # Bucketed-write hygiene: WITHOUT a repartition on the bucket key,
    # every write task emits one file per bucket it holds — measured
    # 131,073 files/table from a 1024-task plan at 128 buckets, and the
    # first read paid 81 s of file-open cost before any byte of data.
    # Repartitioning by the key first gives exactly one file per bucket;
    # this is the layout discipline the 100 TB claim assumes.
    big.write.mode("overwrite").format("parquet").saveAsTable("pois_plain")
    # Evaluate the crossJoin amplification ONCE (the write above); every
    # derived write and the row count below read the stored table back
    # instead of recomputing the synth expression per action (ADVICE r3).
    big = spark.table("pois_plain")
    # enrich side: per-osm_id payload (the tag/patch dimension shape)
    enrich = big.select(
        "osm_id",
        F.xxhash64("osm_id").alias("tag_hash"),
        (F.col("osm_id") % 97).alias("patch_code"),
    )
    (
        big.repartition(buckets, F.col("osm_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "osm_id").sortBy("osm_id")
        .saveAsTable("pois_bucketed")
    )
    enrich.write.mode("overwrite").format("parquet").saveAsTable("enrich_plain")
    (
        enrich.repartition(buckets, F.col("osm_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "osm_id").sortBy("osm_id")
        .saveAsTable("enrich_bucketed")
    )
    # cell-bucketed POI layout for the skewed-key scenario
    spark.sql("DROP TABLE IF EXISTS pois_cell_bucketed")
    (
        big.repartition(buckets, F.col("cell"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "cell").sortBy("cell", "osm_id")
        .saveAsTable("pois_cell_bucketed")
    )

    probe = rig.cached(
        geotag_pages(synth.pages(spark, sf_dir))
        .where(F.col("lat").isNotNull())
        .select("page_id", "lat", "lon")
        .withColumn("cell", coarse_cell_id(F.col("lat"), F.col("lon"), mult))
    )

    def run(df) -> tuple[float, int, int, str]:
        sec, row = rig.timed(lambda: df.collect()[0])
        # executed plan AFTER the action — AQE decisions are invisible
        # in the static plan (the megacell_bench lesson)
        return sec, row["n"], row["chk"], rig.executed_plan(df)

    def enrich_join(pois_t: str, enrich_t: str):
        j = spark.table(pois_t).join(spark.table(enrich_t), "osm_id")
        return j.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("osm_id", "tag_hash", "patch_code")).alias("chk"),
        )

    def cell_join(pois_t: str):
        j = probe.join(spark.table(pois_t), "cell")
        return j.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("page_id", "osm_id")).alias("chk"),
        )

    # warm once each (codegen/JIT), then time
    for fn, args in (
        (enrich_join, ("pois_plain", "enrich_plain")),
        (enrich_join, ("pois_bucketed", "enrich_bucketed")),
        (cell_join, ("pois_plain",)),
        (cell_join, ("pois_cell_bucketed",)),
    ):
        run(fn(*args))
    e_plain = run(enrich_join("pois_plain", "enrich_plain"))
    e_bucket = run(enrich_join("pois_bucketed", "enrich_bucketed"))
    c_plain = run(cell_join("pois_plain"))
    c_bucket = run(cell_join("pois_cell_bucketed"))

    def nexch(plan: str) -> int:
        return plan.count("Exchange hashpartitioning")

    rig.emit({
        "amp": amp,
        "pois": big.count(),
        "buckets": buckets,
        "cpus": cpus,
        "enrich_join": {
            "sec_plain": round(e_plain[0], 2),
            "sec_bucketed": round(e_bucket[0], 2),
            "rows_identical": bool(
                e_plain[1] == e_bucket[1] and e_plain[2] == e_bucket[2]
            ),
            "joined_rows": e_plain[1],
            "exchanges_plain": nexch(e_plain[3]),
            "exchanges_bucketed": nexch(e_bucket[3]),
        },
        "skewed_cell_join": {
            "sec_plain": round(c_plain[0], 2),
            "sec_bucketed": round(c_bucket[0], 2),
            "rows_identical": bool(
                c_plain[1] == c_bucket[1] and c_plain[2] == c_bucket[2]
            ),
            "joined_rows": c_plain[1],
            "exchanges_plain": nexch(c_plain[3]),
            "exchanges_bucketed": nexch(c_bucket[3]),
            "skew_markers_plain": c_plain[3].count("skew=true"),
            "skew_markers_bucketed": c_bucket[3].count("skew=true"),
        },
    })
    spark.stop()


if __name__ == "__main__":
    main()
