"""Streaming spatial cluster assignment at the crawl edge.

Streaming twin of ``operators/spatial_cluster.dbscan_assign_probe``:
arriving POIs probe a STATIC settled clustering and adopt the smallest
neighboring cluster, with ZERO streaming state — the same design as
``streaming/dedup.index_probe_stream`` (per-band joins) transposed to
space (per-ring-offset joins).

The trick that removes all state: the settled CORE points are
pre-reduced to one row per coarse cell carrying the cell's core list
(lat, lon, cluster structs), and the stream side takes NINE
stream-static left joins — one per 3×3 ring offset, each on a plain
equi-key (``cell + offset``) — instead of exploding the ring and
re-aggregating per point. The per-offset minimum is a row-local array
expression (filter by exact haversine, transform to cluster ids,
array_min), and ``least()`` across the nine offsets equals the batch
operator's MIN over all in-range cores. No watermark, no aggregation:
every arriving point emits exactly one verdict row, immediately.

Per-cell core lists are bounded by physical density at the ε-sized
grid (a 400 m cell holds however many settled cores fit in 400 m —
thousands at worst, a few KB per cell); each micro-batch re-probes the
same cached snapshot, and refreshing the clustering is a restart (the
settled corpus changes per release, not per micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import haversine_m
from ..tiling import coarse_cell_id, coarse_mult_for_radius, ring_offsets


def dbscan_probe_stream(
    spark: SparkSession,
    batch_dir: str,
    schema,
    settled: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    eps_m: float = 400.0,
    key: str = "osm_id",
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the probe as a file-source stream; verdicts land in
    ``out_dir`` (one row per arriving point: key, status, cluster).

    ``settled`` is the :func:`~..operators.spatial_cluster.dbscan_clusters`
    output joined back to coordinates (key, lat, lon, role, cluster).
    """
    mult = coarse_mult_for_radius(eps_m)
    idx = (
        settled.where(F.col("role") == "core")
        .withColumn("cell", coarse_cell_id(F.col("lat"), F.col("lon"), mult))
        .groupBy("cell")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("lat").alias("c_lat"),
                    F.col("lon").alias("c_lon"),
                    F.col("cluster").alias("cluster"),
                )
            ).alias("cores")
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
            F.col("cell").alias(f"_k{j}"), F.col("cores").alias(f"_c{j}")
        )
        s = s.withColumn(f"_k{j}", F.col("_cell") + F.lit(off)).join(
            F.broadcast(side), f"_k{j}", "left"
        )
        in_range = F.filter(
            F.coalesce(F.col(f"_c{j}"), F.array()),
            lambda c: haversine_m(
                F.col("lat"), F.col("lon"), c.c_lat, c.c_lon
            )
            < F.lit(float(eps_m)),
        )
        mins.append(F.array_min(F.transform(in_range, lambda c: c.cluster)))
    best = F.least(*mins)
    out = s.select(
        F.col(key),
        F.when(best.isNotNull(), F.lit("assigned"))
        .otherwise(F.lit("unassigned"))
        .alias("status"),
        best.alias("cluster"),
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
