"""Streaming semantic near-dup probe at the ingest edge: the twin of
``operators/similarity.semantic_index_probe`` as a cached index +
``foreachBatch`` over the batch operator (:mod:`.per_batch`). The index
is ``semantic_index`` (centroids + cluster members); each micro-batch
runs ``semantic_probe``. Output rows carry a ``batch_id`` partition
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import semantic_index, semantic_probe
from .per_batch import read_stream, run_per_batch


def semantic_probe_stream(
    spark: SparkSession,
    batch_dir: str,
    schema,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    centroid_mod: int = 100,
    threshold: float = 0.3,
    key: str = "vec_id",
    vec: str = "embedding",
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the probe as a file-source stream; verdicts land in
    ``out_dir`` (one row per arriving vector: key, centroid_id,
    is_known_dup, matched_id — matched_id NULL when no settled member
    clears ``threshold``)."""
    cents, settled = semantic_index(corpus, centroid_mod, key, vec)
    if not cents.limit(1).take(1):
        # a probe stream against an empty index is a wiring bug: refuse loudly
        raise ValueError(
            "semantic_probe_stream: corpus has no centroids "
            f"({key} % {centroid_mod} == 1 selects none) — nothing to probe"
        )
    run_per_batch(
        read_stream(spark, batch_dir, schema, max_files_per_trigger),
        lambda b: semantic_probe(cents, settled, b, threshold, key, vec),
        out_dir,
        checkpoint_dir,
        index=[cents, settled],
    )
