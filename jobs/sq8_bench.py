#!/usr/bin/env python3
"""SQ8 embedding quantization bench (operators/similarity.sq8_topk).

The 100 TB claim to verify: an int8-quantized embedding column is ~4×
smaller on disk and in every scan/shuffle that touches it, at a recall
cost small enough to measure and accept. This job writes the seeded
64-dim vector corpus (``rig.vector_corpus``, planted near-copies so
top-k has signal) in BOTH representations to parquet and measures:

- bytes on disk: float32 arrays vs int8 codes (+ the 2×dim stats row);
- end-to-end top-k seconds from disk: exact float scan vs SQ8 scan
  with in-scan reconstruction (asymmetric distance), both ranked by
  ``similarity.brute_force_topk``;
- mean recall@5 of SQ8 vs exact over the query shard.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/sq8_bench.py [n_vectors] [n_queries] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n, n_q, cpus = rig.argv(1_000_000, 64, None)
    work = rig.workdir("sq8_bench")

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators import similarity

    spark = rig.session("sq8-bench", cpus)
    corpus = rig.stored(rig.vector_corpus(spark, n, n_q), f"{work}/float32")

    # SQ8 codes persisted as array<tinyint> (parquet byte-packs them),
    # stats (per-dim mn/mx) as one side row — the stored layout a real
    # lakehouse table would use.
    dims = similarity._sq8_dims(corpus, "embedding")
    corpus.crossJoin(F.broadcast(dims)).select(
        "vec_id", rig.sq8_codes(F.col("embedding")).alias("codes")
    ).write.mode("overwrite").parquet(f"{work}/sq8")
    dims.write.mode("overwrite").parquet(f"{work}/sq8_stats")
    bytes_f32 = rig.du(f"{work}/float32")
    bytes_sq8 = rig.du(f"{work}/sq8") + rig.du(f"{work}/sq8_stats")

    queries = rig.query_shard(corpus, n, n_q)

    def sq8_topk():
        recon = (
            spark.read.parquet(f"{work}/sq8")
            .crossJoin(F.broadcast(spark.read.parquet(f"{work}/sq8_stats")))
            .select("vec_id", rig.sq8_values(F.col("codes")).alias("embedding"))
        )
        return rig.cached(similarity.brute_force_topk(queries, recon))

    t_exact, exact = rig.timed(lambda: rig.cached(similarity.brute_force_topk(queries, corpus)))
    t_sq8, approx = rig.timed(sq8_topk)

    # every query's planted near-copy (query_id+1, 63/64 shared dims)
    # must be top-1 in BOTH paths — the closed-form signal check
    def top1_hits(df):
        return df.where(
            (F.col("rank") == 1) & (F.col("query_id") > 0) & (F.col("match_id") == F.col("query_id") + 1)
        ).count()

    rig.emit({
        "metric": "sq8_bench",
        "vectors": n,
        "queries": n_q,
        "bytes_float32": bytes_f32,
        "bytes_sq8": bytes_sq8,
        "compression": round(bytes_f32 / bytes_sq8, 2),
        "exact_sec": round(t_exact, 2),
        "sq8_sec": round(t_sq8, 2),
        "recall_at5": rig.mean_recall(exact, approx),
        "n_exact_rows": exact.count(),
        "planted_top1_exact": top1_hits(exact),
        "planted_top1_sq8": top1_hits(approx),
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
