#!/usr/bin/env python3
"""Recall@5 before/after Lloyd centroid training at 1 M vectors
(VERDICT r4 ask #1's bench point).

Corpus: the ivf_sq8_bench generator (hash-mixed full-mantissa floats
with planted near-copies so top-k has signal). Index build is the
PRODUCTION path both times — flat nearest-centroid assignment
(``_assign_to_centroids``, the NumPy kernel) over K=√N lists — once
with the modulo-seeded centroids, once with centroids refined by 2
distributed Lloyd rounds. 64 queries probe their nprobe=2 nearest
lists (``_nearest_centroids``); recall is against the exact
brute-force top-5.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/kmeans_recall_bench.py [n_vectors] [cpus] [nprobe]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    nprobe = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    dim = 64
    n_q = 64
    centroid_mod = max(2, round(n ** 0.5))

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from osm_poi_matchmaker_spark.operators import similarity
    from osm_poi_matchmaker_spark.session import get_spark

    spark = get_spark("kmeans-recall-bench", cpus=cpus, shuffle_partitions=cpus * 2)

    # ivf_sq8_bench generator: planted near-copies every `step` ids.
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
    work = "/tmp/kmeans_recall_bench"
    base.select("vec_id", vec.alias("embedding")).write.mode("overwrite").parquet(
        work
    )
    corpus = spark.read.parquet(work)
    cnorm = (
        corpus.select(
            "vec_id", similarity.norm(F.col("embedding")).alias("_n"), "embedding"
        )
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double") / F.col("_n")).alias(
                "u"
            ),
        )
        .persist()
    )
    cnorm.count()
    queries = cnorm.where(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("q")
    ).persist()
    queries.count()

    # exact ground truth (64 × N dots, map-side max via window on the
    # top-k cut only)
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("match_id")
    )
    t0 = time.time()
    exact = (
        cnorm.crossJoin(F.broadcast(queries))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            similarity.dot(F.col("u"), F.col("q")).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 5)
        .select("query_id", "match_id")
        .persist()
    )
    exact.count()
    t_exact = round(time.time() - t0, 1)

    def ivf_recall(cents) -> tuple[float, float]:
        t0 = time.time()
        cents = cents.persist()
        cents.count()
        assigned = similarity._assign_to_centroids(cnorm, cents, "vec_id", "u").persist()
        assigned.count()
        probes = similarity._nearest_centroids(queries, cents, "q", nprobe).select(
            "query_id", "q", "centroid_id"
        )
        approx = (
            assigned.join(F.broadcast(probes), "centroid_id")
            .where(F.col("query_id") != F.col("vid"))
            .select(
                "query_id",
                F.col("vid").alias("match_id"),
                similarity.dot(F.col("v"), F.col("q")).alias("sim"),
            )
            .withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= 5)
            .select("query_id", "match_id", F.lit(1).alias("_h"))
        )
        rec = (
            exact.join(approx, ["query_id", "match_id"], "left")
            .agg(
                (F.sum(F.coalesce(F.col("_h"), F.lit(0)))
                 / F.count(F.lit(1))).alias("r")
            )
            .collect()[0]["r"]
        )
        sec = round(time.time() - t0, 1)
        assigned.unpersist()
        return round(rec, 4), sec

    mod_cents = cnorm.where(F.col("vec_id") % centroid_mod == 1).select(
        F.col("vec_id").alias("centroid_id"), F.col("u").alias("cent_vec")
    )
    r_mod, t_mod = ivf_recall(mod_cents)

    t0 = time.time()
    trained = similarity.kmeans_centroids(
        cnorm, dim=dim, centroid_mod=centroid_mod, iters=2,
        key="vec_id", vec="u",
    )
    trained.count()
    t_train = round(time.time() - t0, 1)
    r_km, t_km = ivf_recall(trained)

    print(
        json.dumps(
            {
                "metric": "ivf_recall_kmeans_1m",
                "n_vectors": n,
                "n_centroids_mod": centroid_mod,
                "nprobe": nprobe,
                "exact_sec": t_exact,
                "recall_modulo": r_mod,
                "recall_kmeans": r_km,
                "train_sec_2iters": t_train,
                "probe_sec_modulo": t_mod,
                "probe_sec_kmeans": t_km,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
