"""The streaming surface's shared reader and its one ``foreachBatch`` body.

A stateless twin is "index once, batch operator per micro-batch": it
builds its static index from the settled snapshot, and
:func:`run_per_batch` hands every micro-batch — a static frame inside
``foreachBatch`` — to the SAME batch operator the batch path runs, so
stream == batch by construction, with no watermark and no streaming
state. Refreshing the index is a restart, not a state update.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def read_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the parquet directory ``path``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_per_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
    index: Iterable[DataFrame] = (),
) -> None:
    """Write ``fn(micro_batch)`` for every micro-batch of ``stream`` until
    the input available at start is processed (availableNow trigger).

    Each micro-batch overwrites ``out_dir/batch_id=<id>`` (read back,
    ``batch_id`` is a partition column). ``foreachBatch`` is
    at-least-once — a batch written before its commit-log entry runs
    again on restart — and the overwrite makes that replay replace the
    batch's output instead of adding a second copy.

    The micro-batch itself is persisted while ``fn`` runs and released
    after its write: a batch operator that reads its input in two
    branches (a probe plus a left join back, say) would otherwise re-read
    the batch's source files once per branch.

    ``index`` holds the frames ``fn`` reads on every micro-batch. Those
    not cached yet are persisted and materialized here, in order (a
    frame built on an earlier one reads the earlier one's cache), and
    unpersisted when the stream ends, whether it succeeded or not.
    """
    owned = [df for df in index if df.storageLevel == StorageLevel.NONE]

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            fn(batch).write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        finally:
            batch.unpersist()

    try:
        for df in owned:
            df.persist().count()
        (
            stream.writeStream.foreachBatch(write)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        for df in owned:
            df.unpersist()
