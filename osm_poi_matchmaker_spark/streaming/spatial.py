"""Streaming spatial cluster assignment at the crawl edge: the twin of
``operators/spatial_cluster.dbscan_assign_probe`` as a cached index +
``foreachBatch`` over the batch operator (:mod:`.per_batch`). The index
is the settled clustering's CORE points. Output rows carry a
``batch_id`` partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_cluster import dbscan_assign_probe
from .per_batch import read_stream, run_per_batch


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
    cores = settled.where(F.col("role") == "core").select(
        key, "lat", "lon", "role", "cluster"
    )
    run_per_batch(
        read_stream(spark, batch_dir, schema, max_files_per_trigger),
        lambda b: dbscan_assign_probe(b, cores, eps_m, key),
        out_dir,
        checkpoint_dir,
        index=[cores],
    )
