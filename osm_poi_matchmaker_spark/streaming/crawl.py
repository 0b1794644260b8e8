"""Streaming crawl ingest: match newly-arrived pages per micro-batch.

The reference re-runs its batch pipeline per harvest
(``create_db.py:203-314``); an append-only crawl instead streams the
pages directory and runs each micro-batch through the SAME ``geotag →
tile → match_cascade`` plan via ``foreachBatch`` (:mod:`.per_batch`).
The cascade winner is a pure per-page function of the page and the
static POI side, so any split into micro-batches gives the batch result
(tests/test_streaming_match.py). The checkpoint's commit log lets a
killed stream resume without re-matching old files. Output rows carry a
``batch_id`` partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..extract.geotag import geotag_pages
from ..operators.match import match_pages
from .per_batch import read_stream, run_per_batch


def match_crawl_stream(
    spark: SparkSession,
    pages_dir: str,
    schema,
    pois: DataFrame,
    common: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    brand_rows: list | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the match pipeline over an append-only pages directory until
    all currently-available files are processed."""
    run_per_batch(
        read_stream(spark, pages_dir, schema, max_files_per_trigger),
        lambda b: match_pages(geotag_pages(b), pois, common, brand_rows=brand_rows),
        out_dir,
        checkpoint_dir,
    )
