"""Streaming ANN probe at the retrieval edge: the twin of
``operators/similarity.ivf_topk`` as a cached index + ``foreachBatch``
over the batch operator's body (:mod:`.per_batch`). The index is the
centroids and the corpus's list assignment (``_nearest_centroids``),
cached once. Each micro-batch runs ``ivf_topk``'s
``_topk(_probe(...))`` over the cached lists: the batch's queries are
collected and routed on the driver, and one kernel pass over the
cached lists reads each row's stored ``centroid_id`` and scores it
against the queries that probe its list. Output rows carry a
``batch_id`` partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _nearest_centroids, _probe, _seed_cents, _topk
from .per_batch import read_stream, run_per_batch


def ann_probe_stream(
    spark: SparkSession,
    batch_dir: str,
    schema,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the IVF probe as a file-source stream; ranked results land in
    ``out_dir`` (k rows per arriving vector: query_id, match_id,
    cosine_sim, rank — self-matches by id excluded, short lists when
    the probed slice holds fewer than k candidates)."""
    if cents is None:
        cents = _seed_cents(corpus, key, vec, centroid_mod)
    if not cents.limit(1).take(1):
        # a probe stream against an empty index is a wiring bug: refuse loudly
        raise ValueError("ann_probe_stream: corpus has no centroids — nothing to probe")
    assigned = _nearest_centroids(
        corpus.select(F.col(key).alias("match_id"), F.col(vec).alias("c_vec")),
        cents,
        "c_vec",
    )

    def probe(batch: DataFrame) -> DataFrame:
        q = batch.select(F.col(key).alias("query_id"), F.col(vec).alias("q_vec"))
        return _topk(_probe(assigned, q, cents, nprobe, "c_vec", k), k)

    run_per_batch(
        read_stream(spark, batch_dir, schema, max_files_per_trigger),
        probe,
        out_dir,
        checkpoint_dir,
        index=[cents, assigned],
    )
