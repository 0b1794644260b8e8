#!/usr/bin/env python3
"""Recall@5 before/after Lloyd centroid training at 1 M vectors
(VERDICT r4 ask #1's bench point).

Corpus: ``rig.vector_corpus`` (hash-mixed full-mantissa floats with
planted near-copies so top-k has signal). The index is the PRODUCTION
``similarity.ivf_topk`` both times — flat nearest-centroid assignment
over K=√N lists, 64 queries probing their nprobe=2 nearest lists —
once with the modulo-seeded centroids, once with centroids refined by
2 distributed Lloyd rounds (``similarity.kmeans_centroids``); recall
is against the exact ``similarity.brute_force_topk``.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/kmeans_recall_bench.py [n_vectors] [cpus] [nprobe]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n, cpus, nprobe = rig.argv(1_000_000, None, 2)
    dim = 64
    n_q = 64
    centroid_mod = max(2, round(n ** 0.5))

    from osm_poi_matchmaker_spark.operators import similarity

    spark = rig.session("kmeans-recall-bench", cpus)
    corpus = rig.cached(
        rig.stored(rig.vector_corpus(spark, n, n_q, dim), rig.workdir("kmeans_recall_bench"))
    )
    queries = rig.cached(rig.query_shard(corpus, n, n_q))
    t_exact, exact = rig.timed(lambda: rig.cached(similarity.brute_force_topk(queries, corpus)))

    def ivf_recall(cents) -> tuple[float, float]:
        sec, approx = rig.timed(
            lambda: rig.cached(similarity.ivf_topk(queries, corpus, nprobe=nprobe, cents=rig.cached(cents)))
        )
        return rig.mean_recall(exact, approx), round(sec, 1)

    r_mod, t_mod = ivf_recall(similarity._seed_cents(corpus, "vec_id", "embedding", centroid_mod))
    t_train, trained = rig.timed(
        lambda: rig.cached(similarity.kmeans_centroids(corpus, dim=dim, centroid_mod=centroid_mod, iters=2))
    )
    r_km, t_km = ivf_recall(trained)

    rig.emit({
        "metric": "ivf_recall_kmeans_1m",
        "n_vectors": n,
        "n_centroids_mod": centroid_mod,
        "nprobe": nprobe,
        "exact_sec": round(t_exact, 1),
        "recall_modulo": r_mod,
        "recall_kmeans": r_km,
        "train_sec_2iters": round(t_train, 1),
        "probe_sec_modulo": t_mod,
        "probe_sec_kmeans": t_km,
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
