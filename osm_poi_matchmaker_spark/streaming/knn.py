"""Streaming nearest-POI assignment at the crawl edge.

Streaming twin of ``operators/knn.nearest_poi`` (k=1): arriving
geotagged pages probe a STATIC POI snapshot and take the nearest
in-radius POI, with ZERO streaming state — the
``streaming/spatial.dbscan_probe_stream`` design (nine stream-static
equi-joins against a per-cell candidate list, one per 3×3 ring offset)
with the min-CLUSTER read-off replaced by a min-STRUCT (distance,
osm_id) winner, so ties break identically to the batch operator
(struct lexicographic order = ORDER BY distance, osm_id).

No watermark, no aggregation: each arriving page emits exactly one
verdict row immediately (osm_id NULL when nothing is in radius — the
stream analogue of the batch operator's left-join miss handling).
Per-cell POI lists are bounded by physical density at the radius-sized
grid; the snapshot is cached once and reused by every micro-batch;
refreshing the POI table is a restart, not a state update.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import haversine_m
from ..tiling import coarse_cell_id, coarse_mult_for_radius, ring_offsets


def nearest_poi_stream(
    spark: SparkSession,
    batch_dir: str,
    schema,
    pois: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    radius_m: float = 2000.0,
    point_key: str = "page_id",
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the probe as a file-source stream; verdicts land in
    ``out_dir`` (one row per arriving page: key, osm_id, distance_m —
    osm_id/distance NULL when no POI is within ``radius_m``).

    ``pois`` needs (osm_id, lat, lon) — the settled snapshot.
    """
    mult = coarse_mult_for_radius(radius_m)
    idx = (
        pois.withColumn("cell", coarse_cell_id(F.col("lat"), F.col("lon"), mult))
        .groupBy("cell")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("lat").alias("c_lat"),
                    F.col("lon").alias("c_lon"),
                    F.col("osm_id").alias("osm_id"),
                )
            ).alias("cands")
        )
        .persist()
    )
    idx.count()  # materialize once; every micro-batch reuses the cache

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    s = reader.parquet(batch_dir).withColumn(
        "_cell", coarse_cell_id(F.col("lat"), F.col("lon"), mult)
    )

    mins = []
    for j, off in enumerate(ring_offsets(1)):
        side = idx.select(
            F.col("cell").alias(f"_k{j}"), F.col("cands").alias(f"_c{j}")
        )
        s = s.withColumn(f"_k{j}", F.col("_cell") + F.lit(off)).join(
            F.broadcast(side), f"_k{j}", "left"
        )
        scored = F.transform(
            F.coalesce(F.col(f"_c{j}"), F.array()),
            lambda c: F.struct(
                haversine_m(F.col("lat"), F.col("lon"), c.c_lat, c.c_lon).alias(
                    "distance"
                ),
                c.osm_id.alias("osm_id"),
            ),
        )
        in_range = F.filter(
            scored, lambda st: st.distance < F.lit(float(radius_m))
        )
        # array_min over (distance, osm_id) structs = the batch
        # operator's min-struct winner within this ring offset
        mins.append(F.array_min(in_range))
    best = F.least(*mins)
    out = s.withColumn("_best", best).select(
        F.col(point_key),
        F.col("_best.osm_id").alias("osm_id"),
        F.round(F.col("_best.distance"), 2).alias("distance_m"),
    )
    (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    idx.unpersist()
