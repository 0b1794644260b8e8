#!/usr/bin/env python3
"""IVF × PQ composed-index bench at 1 M vectors (round 5).

Completes the measured FAISS-triad story (exact / IVF float / IVF×SQ8
from jobs/ivf_sq8_bench.py): stores the inverted lists with an m-byte
PQ code payload, measures the stored bytes against the float32 and SQ8
layouts, probes end-to-end from disk, and reports recall with and
without the IndexRefineFlat re-rank (shortlist from the reconstruction,
exact re-rank of the top-R fetched full-precision rows by id).

Corpus/centroids/probes mirror ivf_sq8_bench (hash-mixed full-mantissa
floats with planted near-copies; ~√N modulo centroids; pre-normalized
assignment with map-side max_by). Codebooks are trained with the
production pq_codebooks (L2 Lloyd, two rounds).

Usage: python3 jobs/ivf_pq_bench.py [n_vectors] [n_queries] [cpus] [nprobe]
                                    [train_mod]
``train_mod`` > 1 trains the codebooks on the deterministic
``vec_id % train_mod == 0`` subsample (FAISS practice — training cost
drops by ~train_mod; the full corpus is encoded exactly once) instead
of the full corpus. Prints ONE JSON line; paste into BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    nprobe = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    train_mod = int(sys.argv[5]) if len(sys.argv) > 5 else 1
    dim = 64
    m = 8
    d0 = dim // m
    refine = 40
    centroid_mod = max(2, round(n ** 0.5))
    # ~240 codewords per subspace (just under the FAISS PQ8 256 so the
    # dense rank always fits a signed byte after the -128 shift)
    sub_mod = max(2, n // 240)
    work = "/tmp/ivf_pq_bench"
    shutil.rmtree(work, ignore_errors=True)

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from osm_poi_matchmaker_spark.operators import similarity
    from osm_poi_matchmaker_spark.session import get_spark

    spark = get_spark("ivf-pq-bench", cpus=cpus, shuffle_partitions=cpus * 2)

    step = n // n_q
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    elem = lambda vid, i: (  # noqa: E731
        (F.xxhash64(vid * F.lit(dim) + F.lit(i)) % 2000003) / F.lit(1000001.0)
        - F.lit(1.0)
    ).cast("float")
    planted = (F.col("vec_id") % step == 1) & (F.col("vec_id") > 1)
    vec = F.array(
        elem(F.col("vec_id"), 0),
        *[
            F.when(planted, elem(F.col("vec_id") - 1, i)).otherwise(
                elem(F.col("vec_id"), i)
            )
            for i in range(1, dim)
        ],
    )
    base.select("vec_id", vec.alias("embedding")).write.mode("overwrite").parquet(
        f"{work}/float32"
    )
    corpus = spark.read.parquet(f"{work}/float32")

    # ---- coarse assignment (pre-normalized dot + max_by, shared) ----
    cnorm = (
        corpus.select(
            "vec_id", similarity.norm(F.col("embedding")).alias("_n"), "embedding"
        )
        .select(
            "vec_id",
            "embedding",
            F.transform("embedding", lambda x: x.cast("double") / F.col("_n")).alias(
                "u"
            ),
        )
        .persist()
    )
    cents = cnorm.where(F.col("vec_id") % centroid_mod == 1).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
        F.col("u").alias("cu"),
    ).persist()
    n_cents = cents.count()
    t0 = time.time()
    best = (
        cnorm.crossJoin(F.broadcast(cents.select("centroid_id", "cu")))
        .withColumn("cent_sim", similarity.dot(F.col("u"), F.col("cu")))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cent_sim"), (-F.col("centroid_id")).alias("negid"))
            ).alias("best")
        )
        .select("vec_id", (-F.col("best.negid")).alias("centroid_id"))
    )
    assigned = corpus.join(best, "vec_id").persist()
    assigned.count()
    t_assign = time.time() - t0

    # ---- PQ codebooks (production trainer) + coded list table ----
    t0 = time.time()
    if train_mod > 1:
        # Prefix subsample, not a modulo class: a modulo-class subsample
        # can be residue-incompatible with the seed rule (% sub_mod == 1
        # selects odd ids; % 10 == 0 selects even — empty intersection,
        # now a loud ValueError in pq_codebooks). The corpus is
        # hash-generated, so a prefix is as unbiased as any slice.
        train = corpus.where(F.col("vec_id") < n // train_mod)
        sub_mod_t = max(2, (n // train_mod) // 240)
    else:
        train, sub_mod_t = corpus, sub_mod
    books = similarity.pq_codebooks(
        train, dim=dim, m=m, sub_mod=sub_mod_t, iters=2
    )
    n_codewords = books.count() // m
    coded = similarity.pq_encode(corpus, books, dim=dim, m=m)
    # Dense byte codes for storage: codeword ids are seed vec_ids
    # (stable names for the oracle); the STORED layout dictionary-maps
    # them to per-subspace ranks 0..k-1 so the payload really is m
    # bytes per vector. The rank map rides with the stored codebook.
    w_rk = Window.partitionBy("subspace").orderBy("centroid_id")
    ranked_books = books.withColumn("rk", F.row_number().over(w_rk) - 1)
    rank_kv = (
        ranked_books.groupBy("subspace")
        .agg(
            F.map_from_arrays(
                F.collect_list("centroid_id"), F.collect_list("rk")
            ).alias("rks")
        )
        .agg(
            F.map_from_arrays(
                F.collect_list("subspace"), F.collect_list("rks")
            ).alias("_rkv")
        )
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: (
            F.element_at(
                F.element_at(F.col("_rkv"), s),
                F.element_at(F.col("codes"), s + 1).cast("long"),
            )
            - 128
        ).cast("byte"),
    )
    parts = cpus * 2
    (
        assigned.join(coded.select("vec_id", "codes"), "vec_id")
        .crossJoin(F.broadcast(rank_kv))
        .select("vec_id", "centroid_id", dense.alias("codes"))
        .repartitionByRange(parts, "centroid_id")
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.mode("overwrite")
        .parquet(f"{work}/ivf_pq")
    )
    # stored codebook keyed by RANK (what the stored codes reference)
    (
        ranked_books.select(
            "subspace", F.col("rk").alias("centroid_id"), "cent_vec"
        ).write.mode("overwrite").parquet(f"{work}/pq_books")
    )
    t_build = time.time() - t0
    bytes_pq = _du(f"{work}/ivf_pq") + _du(f"{work}/pq_books")
    bytes_float = _du(f"{work}/float32")

    # ---- queries + probes ----
    queries = corpus.where(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    probes = similarity._nearest_centroids(
        queries, cents.select("centroid_id", "cent_vec"), "q_vec", nprobe
    ).select("query_id", "q_vec", "centroid_id").persist()
    probes.count()

    # exact baseline
    t0 = time.time()
    exact = similarity._topk(
        corpus.select(
            F.col("vec_id").alias("match_id"), F.col("embedding").alias("c_vec")
        )
        .crossJoin(F.broadcast(queries))
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn(
            "cosine_sim", similarity.cosine(F.col("q_vec"), F.col("c_vec"))
        ),
        5,
    ).persist()
    exact.count()
    t_exact = time.time() - t0

    # PQ probe from disk: reconstruct via broadcast codebook map
    stored_books = spark.read.parquet(f"{work}/pq_books")
    bkv = similarity._books_map(stored_books)
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(F.col("_bkv"), s),
                F.element_at(F.col("codes"), s + 1).cast("int") + 128,
            ),
        )
    )
    t0 = time.time()
    short = (
        spark.read.parquet(f"{work}/ivf_pq")
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .crossJoin(F.broadcast(bkv))
        .withColumn("cosine_sim", similarity.cosine(F.col("q_vec"), recon))
        .withColumnRenamed("vec_id", "match_id")
    )
    pq_only = similarity._topk(short, 5).persist()
    pq_only.count()
    t_pq = time.time() - t0

    # + refine: fetch full rows for the shortlist, exact re-rank
    t0 = time.time()
    shortlist = similarity._topk(short, refine).select("query_id", "match_id")
    fetched = (
        corpus.withColumnRenamed("vec_id", "match_id")
        .join(F.broadcast(shortlist), "match_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn(
            "cosine_sim", similarity.cosine(F.col("q_vec"), F.col("embedding"))
        )
    )
    pq_ref = similarity._topk(fetched, 5).persist()
    pq_ref.count()
    t_pq_ref = time.time() - t0

    r_pq = similarity.ann_recall(exact, pq_only, "pq").agg(
        F.avg("recall").alias("r")
    ).collect()[0]["r"]
    r_ref = similarity.ann_recall(exact, pq_ref, "pq_ref").agg(
        F.avg("recall").alias("r")
    ).collect()[0]["r"]

    print(
        json.dumps(
            {
                "metric": "ann_ivf_pq_composed_1m",
                "n_vectors": n,
                "dim": dim,
                "m": m,
                "d0": d0,
                "n_centroids": n_cents,
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
                "recall_pq": round(float(r_pq), 4),
                "recall_pq_refine": round(float(r_ref), 4),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
