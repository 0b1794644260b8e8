#!/usr/bin/env python3
"""IVF × SQ8 composed-index bench (operators/similarity.ivf_sq8_topk).

VERDICT r3 ask #2: the production ANN path should prune (inverted
lists, only nprobe/√N of the corpus scanned per query) AND compress
(int8 codes, 4× smaller payload) in one operator. This job measures the
composition against its two parents at 1 M vectors / 64 dims:

- STORAGE: the stored inverted-list table (centroid_id, vec_id, codes)
  range-partitioned + sorted by centroid_id (``rig.write_lists``) vs
  the same layout with float32 payloads.
- LATENCY: end-to-end top-5 from disk for a 64-query shard — exact
  brute-force float scan, IVF float (prune only), IVF×SQ8 (prune +
  compress), all at the same nprobe. Each probe is the engine's
  ``similarity._probe`` over the stored lists: the queries are routed
  on the driver, and one kernel pass reads each row's ``centroid_id``
  and scores it against the queries that probe its list.
- RECALL@5 vs exact for both approximate paths (the IVF assignment is
  shared, so the recall delta isolates the quantization cost).

Lists are assigned by the engine's nearest-centroid kernel
(``similarity._assign_to_centroids``) over the ~√N modulo-seeded
centroids. Corpus is ``rig.vector_corpus``. Prints ONE JSON line;
paste into BENCH.md.

Usage: python3 jobs/ivf_sq8_bench.py [n_vectors] [n_queries] [cpus] [nprobe]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n, n_q, cpus, nprobe = rig.argv(1_000_000, 64, None, 2)
    dim = 64
    centroid_mod = max(2, round(n ** 0.5))  # ~√N lists
    work = rig.workdir("ivf_sq8_bench")

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators import similarity

    spark = rig.session("ivf-sq8-bench", cpus)
    corpus = rig.stored(rig.vector_corpus(spark, n, n_q, dim), f"{work}/float32")
    cents = rig.cached(similarity._seed_cents(corpus, "vec_id", "embedding", centroid_mod))

    def build():
        # one full-precision assignment, persisted: both list layouts
        # serialize it
        assigned = rig.cached(
            similarity._assign_to_centroids(corpus, cents, "vec_id", "embedding").select(
                F.col("vid").alias("vec_id"), F.col("v").alias("embedding"), "centroid_id"
            )
        )
        dims = rig.cached(similarity._sq8_dims(corpus, "embedding"))
        rig.write_lists(assigned, f"{work}/ivf_float", cpus * 2)
        rig.write_lists(
            assigned.crossJoin(F.broadcast(dims)).select(
                "vec_id", "centroid_id", rig.sq8_codes(F.col("embedding")).alias("codes")
            ),
            f"{work}/ivf_sq8",
            cpus * 2,
        )
        dims.write.mode("overwrite").parquet(f"{work}/sq8_stats")

    t_build, _ = rig.timed(build)
    bytes_float = rig.du(f"{work}/ivf_float")
    bytes_sq8 = rig.du(f"{work}/ivf_sq8") + rig.du(f"{work}/sq8_stats")

    queries = rig.query_shard(corpus, n, n_q)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))

    def probe(lists, payload):
        return rig.cached(similarity._topk(similarity._probe(lists, q, cents, nprobe, payload, 5), 5))

    t_exact, exact = rig.timed(lambda: rig.cached(similarity.brute_force_topk(queries, corpus)))
    t_ivf, ivf_f = rig.timed(
        lambda: probe(
            spark.read.parquet(f"{work}/ivf_float").withColumnRenamed("vec_id", "match_id"),
            "embedding",
        )
    )
    # IVF×SQ8 probe (asymmetric: reconstruct inside the scan)
    t_ivf_sq8, ivf_q = rig.timed(
        lambda: probe(
            spark.read.parquet(f"{work}/ivf_sq8")
            .crossJoin(F.broadcast(spark.read.parquet(f"{work}/sq8_stats")))
            .select(
                F.col("vec_id").alias("match_id"),
                rig.sq8_values(F.col("codes")).alias("r_vec"),
                "centroid_id",
            ),
            "r_vec",
        )
    )

    rig.emit({
        "metric": "ann_ivf_sq8_composed",
        "value": round(t_ivf_sq8, 2),
        "unit": "sec",
        "n_vectors": n,
        "dim": dim,
        "n_centroids": cents.count(),
        "nprobe": nprobe,
        "n_queries": n_q,
        "build_sec": round(t_build, 2),
        "bytes_ivf_float": bytes_float,
        "bytes_ivf_sq8": bytes_sq8,
        "storage_ratio": round(bytes_float / bytes_sq8, 2),
        "sec_exact": round(t_exact, 2),
        "sec_ivf_float": round(t_ivf, 2),
        "sec_ivf_sq8": round(t_ivf_sq8, 2),
        "recall_ivf_float": rig.mean_recall(exact, ivf_f),
        "recall_ivf_sq8": rig.mean_recall(exact, ivf_q),
    })
    spark.stop()


if __name__ == "__main__":
    main()
