#!/usr/bin/env python3
"""IVF × PQ composed-index bench at 1 M vectors (round 5).

Completes the measured FAISS-triad story (exact / IVF float / IVF×SQ8
from jobs/ivf_sq8_bench.py): stores the inverted lists with an m-byte
PQ code payload, measures the stored bytes against the float32 layout,
probes end-to-end from disk, and reports recall with and without the
IndexRefineFlat re-rank (shortlist from the reconstruction, exact
re-rank of the top-R fetched full-precision rows by id).

Corpus and centroids as in ivf_sq8_bench (``rig.vector_corpus``, ~√N
modulo seeds). Coarse assignment is the engine's nearest-centroid
kernel (``similarity._assign_to_centroids``), probes are
``similarity._probe`` over the stored lists and ranking
``similarity._topk``; codebooks are
trained with the production pq_codebooks (L2 Lloyd, two rounds).

Usage: python3 jobs/ivf_pq_bench.py [n_vectors] [n_queries] [cpus] [nprobe]
                                    [train_mod]
``train_mod`` > 1 trains the codebooks on the deterministic
``vec_id % train_mod == 0`` subsample (FAISS practice — training cost
drops by ~train_mod; the full corpus is encoded exactly once) instead
of the full corpus. Prints ONE JSON line; paste into BENCH.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n, n_q, cpus, nprobe, train_mod = rig.argv(1_000_000, 64, None, 2, 1)
    dim = 64
    m = 8
    refine = 40
    centroid_mod = max(2, round(n ** 0.5))
    work = rig.workdir("ivf_pq_bench")

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from osm_poi_matchmaker_spark.operators import similarity

    spark = rig.session("ivf-pq-bench", cpus)
    corpus = rig.stored(rig.vector_corpus(spark, n, n_q, dim), f"{work}/float32")
    cents = rig.cached(similarity._seed_cents(corpus, "vec_id", "embedding", centroid_mod))

    # ---- coarse assignment (the engine's kernel) ----
    t_assign, assigned = rig.timed(
        lambda: rig.cached(
            similarity._assign_to_centroids(corpus, cents, "vec_id", "embedding").select(
                F.col("vid").alias("vec_id"), "centroid_id"
            )
        )
    )

    # ---- PQ codebooks (production trainer) + coded list table ----
    def build():
        # A prefix subsample, not a modulo class: a modulo-class
        # subsample can be residue-incompatible with the seed rule
        # (% sub_mod == 1 selects odd ids; % 10 == 0 selects even — an
        # empty intersection, a loud ValueError in pq_codebooks). The
        # corpus is hash-generated, so a prefix is as unbiased as any
        # slice. ~240 codewords per subspace: just under the FAISS PQ8
        # 256, so the dense rank always fits a signed byte after the
        # -128 shift.
        n_train = n // train_mod
        train = corpus.where(F.col("vec_id") < n_train) if train_mod > 1 else corpus
        books = similarity.pq_codebooks(train, dim=dim, m=m, sub_mod=max(2, n_train // 240), iters=2)
        coded = similarity.pq_encode(corpus, books, dim=dim, m=m)
        # Dense byte codes for storage: codeword ids are seed vec_ids
        # (stable names for the oracle); the STORED layout
        # dictionary-maps them to per-subspace ranks 0..k-1 so the
        # payload really is m bytes per vector. The rank map rides with
        # the stored codebook. Codeword ids are distinct within a
        # subspace, so the dense rank is the ordinal.
        ranked = books.withColumn(
            "rk", F.dense_rank().over(Window.partitionBy("subspace").orderBy("centroid_id")) - 1
        )
        rank_kv = (
            ranked.groupBy("subspace")
            .agg(F.map_from_arrays(F.collect_list("centroid_id"), F.collect_list("rk")).alias("rks"))
            .agg(F.map_from_arrays(F.collect_list("subspace"), F.collect_list("rks")).alias("_rkv"))
        )
        dense = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: (
                F.element_at(
                    F.element_at(F.col("_rkv"), s), F.element_at(F.col("codes"), s + 1).cast("long")
                )
                - 128
            ).cast("byte"),
        )
        rig.write_lists(
            assigned.join(coded.select("vec_id", "codes"), "vec_id")
            .crossJoin(F.broadcast(rank_kv))
            .select("vec_id", "centroid_id", dense.alias("codes")),
            f"{work}/ivf_pq",
            cpus * 2,
        )
        # stored codebook keyed by RANK (what the stored codes reference)
        ranked.select("subspace", F.col("rk").alias("centroid_id"), "cent_vec").write.mode(
            "overwrite"
        ).parquet(f"{work}/pq_books")
        return books.count() // m

    t_build, n_codewords = rig.timed(build)
    bytes_pq = rig.du(f"{work}/ivf_pq") + rig.du(f"{work}/pq_books")
    bytes_float = rig.du(f"{work}/float32")

    queries = rig.query_shard(corpus, n, n_q)
    t_exact, exact = rig.timed(lambda: rig.cached(similarity.brute_force_topk(queries, corpus)))

    # PQ probe from disk: reconstruct via broadcast codebook map
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(F.col("_bkv"), s),
                F.element_at(F.col("codes"), s + 1).cast("int") + 128,
            ),
        )
    )
    stored = (
        spark.read.parquet(f"{work}/ivf_pq")
        .crossJoin(F.broadcast(similarity._books_map(spark.read.parquet(f"{work}/pq_books"))))
        .select(F.col("vec_id").alias("match_id"), recon.alias("r_vec"), "centroid_id")
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))

    def short(keep):
        # the stored lists carry centroid_id: the kernel reads it
        return similarity._probe(stored, q, cents, nprobe, "r_vec", keep)

    t_pq, pq_only = rig.timed(lambda: rig.cached(similarity._topk(short(5), 5)))

    # + refine: fetch full rows for the shortlist, exact re-rank
    def refined():
        shortlist = similarity._topk(short(refine), refine).select("query_id", "match_id")
        fetched = (
            corpus.withColumnRenamed("vec_id", "match_id")
            .join(F.broadcast(shortlist), "match_id")
            .join(F.broadcast(q), "query_id")
            .withColumn("cosine_sim", similarity.cosine(F.col("q_vec"), F.col("embedding")))
        )
        return rig.cached(similarity._topk(fetched, 5))

    t_pq_ref, pq_ref = rig.timed(refined)

    rig.emit({
        "metric": "ann_ivf_pq_composed_1m",
        "n_vectors": n,
        "dim": dim,
        "m": m,
        "d0": dim // m,
        "n_centroids": cents.count(),
        "n_codewords_per_subspace": n_codewords,
        "nprobe": nprobe,
        "refine": refine,
        "train_mod": train_mod,
        "assign_sec": round(t_assign, 1),
        "build_sec": round(t_build, 1),
        "bytes_float32": bytes_float,
        "bytes_ivf_pq": bytes_pq,
        "storage_ratio": round(bytes_float / bytes_pq, 2),
        "sec_exact": round(t_exact, 2),
        "sec_pq": round(t_pq, 2),
        "sec_pq_refine": round(t_pq_ref, 2),
        "recall_pq": rig.mean_recall(exact, pq_only),
        "recall_pq_refine": rig.mean_recall(exact, pq_ref),
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
