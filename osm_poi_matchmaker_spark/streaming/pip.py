"""Streaming point-in-polygon enrichment at the crawl edge: the twin of
``operators/pip.point_in_polygon`` as a cached index + ``foreachBatch``
over the batch operator (:mod:`.per_batch`). The index is
``polygon_cell_map``; each micro-batch runs ``locate_points`` with the
map broadcast, as the batch default does. poly_id is -1 outside every
polygon. Output rows carry a ``batch_id`` partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pip import locate_points, polygon_cell_map
from .per_batch import read_stream, run_per_batch


def pip_stream(
    spark: SparkSession,
    batch_dir: str,
    schema,
    polygons: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    point_key: str = "page_id",
    poly_id: str = "poly_id",
    wkt_col: str = "way_wkt",
    order_by: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the resolve as a file-source stream; verdicts land in
    ``out_dir`` (one row per arriving page: key, poly_id — -1 when
    outside every polygon). ``polygons`` is the settled snapshot."""
    cell_map = polygon_cell_map(polygons, poly_id, wkt_col, order_by)
    run_per_batch(
        read_stream(spark, batch_dir, schema, max_files_per_trigger),
        lambda b: locate_points(b, F.broadcast(cell_map), point_key),
        out_dir,
        checkpoint_dir,
        index=[cell_map],
    )
