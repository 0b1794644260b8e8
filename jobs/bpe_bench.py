#!/usr/bin/env python3
"""BPE induction scale bench (operators/bpe.learn_bpe / apply_bpe).

The scale shape to verify: learning cost is ONE corpus scan (word
counts) plus rounds over the DISTINCT-word vocabulary — corpus size
buys you nothing after the first aggregate — and tokenization cost is
one broadcast join, with the Python merge loop paid once per DISTINCT
word, not per token.

Corpus: deterministic two-band word distribution (90 hot + 1000 tail
distinct base-26 words — the h%10 branch and h%10000 draw share the
hash, so the tail lands on the 1000 ids ≡ 9 mod 10; deterministic and
fine: the point is vocab ≪ corpus), so the exact word counts are
Spark-aggregable and the learned merges can be verified EXACTLY against
the independent pure-Python reference (same one tests/test_bpe.py pins)
running on the aggregated counts driver-side.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/bpe_bench.py [n_docs] [n_merges] [cpus]
"""

from __future__ import annotations

import collections
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def _ref_learn(word_counts, n_merges):
    END = "</w>"
    vocab = {tuple(list(w) + [END]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        stats = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += c
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], stats[best]))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def main() -> None:
    n_docs, n_merges, cpus = rig.argv(1_000_000, 16, None)
    words_per_doc = 40
    vocab_n = 10_000

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.bpe import apply_bpe, learn_bpe

    spark = rig.session("bpe-bench", cpus)

    # word id per slot: Zipf-ish two bands — 90% of slots draw from the
    # 100 hot words, 10% from the full 10^4 tail. Words render as
    # base-26 letter strings ("kqax"), so char-level merges have signal.
    slots = spark.range(n_docs * words_per_doc).select(
        (F.col("id") / words_per_doc).cast("long").alias("doc_id"),
        F.col("id").alias("slot"),
    )
    h = F.abs(F.xxhash64("slot"))
    wid = F.when(h % 10 < 9, h % 100).otherwise(h % vocab_n)
    letters = [F.lit(chr(ord("a") + i)) for i in range(26)]

    def b26(col, digits=4):
        parts = []
        for d in range(digits):
            parts.append(
                F.element_at(F.array(*letters), ((col / (26 ** d)).cast("long") % 26 + 1).cast("int"))
            )
        return F.concat(*reversed(parts))

    docs = rig.cached(
        slots.withColumn("w", b26(wid))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
        .repartition(cpus * 2)
    )
    n = docs.count()

    t_learn, (merges, _) = rig.timed(lambda: learn_bpe(docs, n_merges=n_merges))

    # exact reference check on the Spark-aggregated word counts
    wc_rows = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    want = _ref_learn({r["w"]: r["c"] for r in wc_rows}, n_merges)
    exact = merges == want

    t_apply, total_tokens = rig.timed(
        lambda: apply_bpe(docs, merges).agg(F.sum("n_tokens")).collect()[0][0]
    )

    rig.emit({
        "metric": "bpe_bench",
        "docs": n,
        "distinct_words": len(wc_rows),
        "merges": len(merges),
        "learn_sec": round(t_learn, 2),
        "apply_sec": round(t_apply, 2),
        "tokens_out": int(total_tokens),
        "docs_per_sec_apply": round(n / t_apply, 1),
        "merges_exact_vs_reference": exact,
        "cpus": cpus,
    })
    spark.stop()
    if not exact:
        sys.exit(1)


if __name__ == "__main__":
    main()
