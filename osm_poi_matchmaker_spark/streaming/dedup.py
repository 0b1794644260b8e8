"""Streaming exact dedup over an append-only crawl.

A continuous crawl re-fetches the same pages (mirrors, redirects,
re-crawls), so the ingest edge needs dedup BEFORE the expensive
extract/match stages — the batch ``operators/dedup.exact_dedup`` runs
per release, this runs per micro-batch. (The reference's analogue is
the keyed get-or-create insert dedup, ``dao/data_handlers.py:220-312``,
which is inherently arrival-ordered — same idea, stream-shaped.)

Engine mechanics: ``dropDuplicatesWithinWatermark`` on the text hash
keeps the FIRST-arriving copy per key and holds per-key state only
until the event-time watermark passes, so state is bounded by (dedup
horizon × arrival rate), not by corpus size. The state key is the
16-byte md5 alone — at 10^12 docs and a 1-day horizon the store holds
one hash per *distinct* doc seen that day, sharded across executors by
the state-store partitioning; nothing ever scans the historical corpus.
Exact cross-release dedup (unbounded horizon) stays a batch job by
design — unbounded streaming state is the anti-pattern.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import bucket_claim_verdicts, lsh_index, lsh_probe
from .per_batch import read_stream, run_per_batch


def exact_dedup_stream(
    spark: SparkSession,
    pages_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> None:
    """Append the first-arriving copy of every distinct ``text`` to
    ``out_dir``; duplicates arriving within ``watermark`` of event time
    (``warc_ts``) are dropped. availableNow trigger = batch-parity mode;
    a production stream drops the trigger and runs continuously,
    resuming from the streaming commit log in ``checkpoint_dir``."""
    deduped = (
        read_stream(spark, pages_dir, schema, max_files_per_trigger)
        .withColumn("text_hash", F.md5("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .drop("text_hash")
    )
    (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def band_structs_expr(text_col, n: int = 3, num_perm: int = 8, bands: int = 4):
    """Row-wise array of (band, band_sig) LSH bucket keys — the STATELESS
    twin of ``operators/dedup.band_signatures`` (same md5(perm|shingle)
    minhash, same sorted comma-join), computable on a stream without a
    shuffle aggregation: per-permutation min over shingles is
    ``array_min`` of a transformed array instead of a groupBy min, so
    the only stateful op in the stream stays the bucket claimer."""
    from ..operators.dedup import shingles

    sh = shingles(text_col, n)
    rpb = num_perm // bands

    def mh(perm: int):
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{perm}|"), s)))
        )

    structs = []
    for b in range(bands):
        sig = F.concat_ws(
            ",", F.array_sort(F.array(*[mh(b * rpb + r) for r in range(rpb)]))
        )
        structs.append(
            F.struct(F.lit(b).cast("long").alias("band"), sig.alias("band_sig"))
        )
    empty = F.array().cast("array<struct<band:bigint,band_sig:string>>")
    return F.when(F.size(sh) > 0, F.array(*structs)).otherwise(empty)


CLAIM_SCHEMA = "doc_id long, band long, band_sig string, owner long"


def lsh_dedup_stream(
    spark: SparkSession,
    pages_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "page_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming NEAR-dup dedup at the crawl edge: greedy LSH
    bucket-claiming. Each (band, band_sig) bucket is owned by its
    first-arriving doc (``applyInPandasWithState`` keyed on the bucket —
    ONE stateful op; the signatures are stateless row exprs); every
    arrival emits a claim row (doc_id, band, band_sig, owner) to
    ``out_dir``. :func:`claims_to_verdicts` collapses claims to the
    per-doc verdict, which equals ``operators/dedup.lsh_arrival_dedup``
    exactly when arrival order is monotone in the key (crawl page ids
    are).

    State is one long per DISTINCT bucket seen — bounded by content
    diversity, not corpus size (duplicates don't grow it), sharded by
    the state-store partitioning; a production deployment adds an
    event-time TTL to bound it by horizon like the exact variant above.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ex = (
        read_stream(spark, pages_dir, schema, max_files_per_trigger)
        .select(
            F.col(key).alias("doc_id"),
            F.explode(band_structs_expr(F.col(text), n, num_perm, bands)).alias("b"),
        )
        .select("doc_id", "b.band", "b.band_sig")
    )

    def kernel(bucket_key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        if state.exists:
            owner = int(state.get[0])
        else:
            # within a micro-batch, arrival order = the deterministic
            # doc_id sort (ids are monotone with arrival)
            owner = int(rows["doc_id"].iloc[0])
            state.update((owner,))
        out = rows[["doc_id"]].copy()
        out["band"] = bucket_key[0]
        out["band_sig"] = bucket_key[1]
        out["owner"] = owner
        yield out[["doc_id", "band", "band_sig", "owner"]]

    claims = ex.groupBy("band", "band_sig").applyInPandasWithState(
        kernel,
        outputStructType=CLAIM_SCHEMA,
        stateStructType="owner long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    (
        claims.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def claims_to_verdicts(docs, claims, key: str = "doc_id"):
    """Collapse streamed bucket claims to the per-doc verdict (doc_id,
    dup_of, is_duplicate) with the rollup of
    ``operators/dedup.lsh_arrival_dedup``."""
    return bucket_claim_verdicts(docs.select(F.col(key).alias("doc_id")), claims)


def index_probe_stream(
    spark: SparkSession,
    batch_dir: str,
    schema,
    corpus,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming twin of ``operators/dedup.lsh_index_probe``: a cached
    index (``lsh_index``, the settled corpus's bucket rows) +
    ``foreachBatch`` over the probe half ``lsh_probe`` (:mod:`.per_batch`).
    Verdicts (key, is_known_dup, matched_id) carry a ``batch_id``
    partition column.
    """
    ci = lsh_index(corpus, key, text, n, num_perm, bands)
    run_per_batch(
        read_stream(spark, batch_dir, schema, max_files_per_trigger),
        lambda b: lsh_probe(ci, b, key, text, n, num_perm, bands),
        out_dir,
        checkpoint_dir,
        index=[ci],
    )
