"""Streaming nearest-POI assignment at the crawl edge: the twin of
``operators/knn.nearest_poi`` (k=1) as a cached index + ``foreachBatch``
over the batch operator (:mod:`.per_batch`). The index is the POI
snapshot's (osm_id, lat, lon); pages with no POI in radius get a NULL
verdict. Output rows carry a ``batch_id`` partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.knn import nearest_poi
from .per_batch import read_stream, run_per_batch


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
    idx = pois.select("osm_id", "lat", "lon")

    def probe(batch: DataFrame) -> DataFrame:
        hits = nearest_poi(batch, idx, radius_m, k=1, point_key=point_key)
        return batch.select(point_key).join(hits, point_key, "left").select(
            point_key, "osm_id", F.round("distance", 2).alias("distance_m")
        )

    run_per_batch(
        read_stream(spark, batch_dir, schema, max_files_per_trigger),
        probe,
        out_dir,
        checkpoint_dir,
        index=[idx],
    )
