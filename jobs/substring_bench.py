#!/usr/bin/env python3
"""ExactSubstr dedup scale bench (operators/dedup.substring_spans /
substring_rewrite).

The substring family's scale shape is one positional window explode
(linear in corpus tokens) + a groupBy on the window key + an equi-join
back — the window KEY WIDTH is the knob that matters at 100 TB (a ~50-byte
8-gram string vs an 8-byte xxhash64 through two shuffles), so this job
times the string-key plan against the hashed-key plan on the same corpus.

Corpus construction (``rig.hash_corpus``, all column exprs, no driver
data):
- organic tokens are "t<xxhash64(id-pos)>" — an organic 8-gram repeating
  anywhere in the corpus needs 8 consecutive 64-bit collisions
  (~impossible), so organic windows are unique, giving closed-form
  expectations (not crc32: at 1M docs its linearity manufactured ~7k
  colliding organic token RUNS, measured, silently breaking the closed
  form);
- every 10th doc is a constant 15-token banner prefix + a 10-token
  organic tail: its k=8 duplicated windows sit at positions 0..7
  (straddling windows contain unique tail tokens), so per banner doc
  n_dup_windows == 8 and lag-clamped coverage == 8 + 7*1 == 15, and
  dup_frac == 15/25 == 0.6 >= 0.5 -> flagged;
- organic doc length cycles 20..119 tokens so the explode is not
  uniform.

In-run correctness (closed form, no oracle at this scale):
- flagged set == banner docs exactly;
- sum(dup_span_tokens) == 15 * n_banner; sum(n_dup_windows) == 8 * n_banner;
- rewrite removes exactly the 15 banner-prefix tokens per banner doc;
- hashed-key plan returns identical aggregate totals.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/substring_bench.py [n_docs] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402

BANNER = (
    "accept all cookies to continue browsing this site and view fully"
    " personalized content faster today"
)  # 15 tokens


def main() -> None:
    n_docs, cpus = rig.argv(1_000_000, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.dedup import (
        substring_rewrite,
        substring_spans,
    )

    assert len(BANNER.split()) == 15
    spark = rig.session("substring-bench", cpus)
    banner = F.concat(F.lit(BANNER + " "), rig.hash_tokens(F.col("id"), F.lit(10)))
    docs = rig.cached(rig.hash_corpus(spark, n_docs, cpus * 2, 10, banner))
    n_total = docs.count()
    n_banner = (n_docs + 9) // 10

    stages = {
        "spans_string_key": rig.noop_sec(substring_spans(docs, k=8)),
        "spans_hashed_key": rig.noop_sec(substring_spans(docs, k=8, hashed=True)),
        "rewrite": rig.noop_sec(substring_rewrite(docs, k=8)),
    }

    # closed-form checks (one extra evaluation, untimed)
    sp = substring_spans(docs, k=8).persist()
    agg = sp.agg(
        F.sum(F.col("is_substring_dup").cast("long")).alias("flagged"),
        F.sum("dup_span_tokens").alias("covered"),
        F.sum("n_dup_windows").alias("wins"),
    ).collect()[0]
    flag_err = sp.where(
        F.col("is_substring_dup") != (F.col("doc_id") % 10 == 0)
    ).count()
    sp.unpersist()
    hashed_agg = substring_spans(docs, k=8, hashed=True).agg(
        F.sum(F.col("is_substring_dup").cast("long")),
        F.sum("dup_span_tokens"),
        F.sum("n_dup_windows"),
    ).collect()[0]
    removed = substring_rewrite(docs, k=8).agg(F.sum("n_removed")).collect()[0][0]

    wall = sum(stages.values())
    rig.emit({
        "metric": "substring_dedup_bench",
        "value": wall,
        "unit": "sec",
        "stages": stages,
        "docs": n_total,
        "docs_per_sec_spans": round(n_total / stages["spans_string_key"], 1),
        "hashed_speedup": round(stages["spans_string_key"] / stages["spans_hashed_key"], 3),
        "flagged_exact": bool(flag_err == 0 and int(agg["flagged"]) == n_banner),
        "coverage_exact": bool(int(agg["covered"]) == 15 * n_banner),
        "windows_exact": bool(int(agg["wins"]) == 8 * n_banner),
        "rewrite_exact": bool(int(removed) == 15 * n_banner),
        "hashed_identical": bool(tuple(map(int, hashed_agg)) == tuple(map(int, agg))),
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
