#!/usr/bin/env python3
"""lsh_arrival_dedup at 1M docs with a 100k-doc duplicate family.

The point being measured: greedy bucket-claim dedup is LINEAR in docs
even when a near-dup family is huge — the banner docs (every 10th doc,
shared 8-token prefix + 4 organic tail tokens) collapse into a handful
of band buckets with ~100k members each, which the claimer absorbs as
one partial-agg min per bucket. The pair-join formulation
(minhash_lsh_pairs) would emit ~|family|^2/2 ≈ 5×10^9 candidate pairs
from the same buckets — the quadratic blowup this operator exists to
avoid at crawl scale.

In-run checks: banner flag rate (expected ≈ 1: every banner doc after
doc 0 shares banner-dominated buckets) and the organic false-claim rate
(expected ≈ 0: organic trigrams are crc32-mixed, band signatures rarely
collide).

Usage: python3 jobs/arrival_bench.py [n_docs] [cpus]
Prints ONE JSON line; paste into BENCH.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n_docs, cpus = rig.argv(1_000_000, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.dedup import lsh_arrival_dedup

    spark = rig.session("arrival-bench", cpus)
    # banner docs are byte-identical here (no organic tail): the whole
    # 100k-doc family lands in literally the same buckets, the worst
    # mega-bucket a crawl can produce, and the flag rate is closed-form
    # ((family-1)/family). corpus_bench.py keeps the tailed variant for
    # the boilerplate-detection checks.
    docs = rig.cached(rig.vocab_corpus(spark, n_docs, cpus * 2, banner_tail=False))

    # 4-row bands (bands=2): the synthetic 30-word vocab gives only ~27k
    # distinct trigrams, so 2-row bands collide spuriously (43% organic
    # flag rate measured) in a way real web text's shingle space never
    # would; 4-row bands restore a realistic operating point while the
    # banner family still collapses into shared buckets.
    sec, verdicts = rig.timed(lambda: rig.cached(lsh_arrival_dedup(docs, num_perm=8, bands=2)))
    sec = round(sec, 3)
    n_out = verdicts.count()

    banner = verdicts.where(F.col("doc_id") % 10 == 0)
    banner_total = banner.count()
    banner_flagged = banner.where("is_duplicate").count()
    organic_flagged = verdicts.where(F.col("doc_id") % 10 != 0).where("is_duplicate").count()

    rig.emit({
        "metric": "lsh_arrival_dedup_1M",
        "value": sec,
        "unit": "sec",
        "docs": n_out,
        "docs_per_sec": round(n_out / sec, 1),
        "banner_family": banner_total,
        "banner_flag_rate": round(banner_flagged / banner_total, 6),
        "organic_flag_rate": round(organic_flagged / (n_out - banner_total), 6),
        "pairs_avoided_lower_bound": banner_flagged * (banner_flagged - 1) // 2,
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
