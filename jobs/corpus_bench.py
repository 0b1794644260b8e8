#!/usr/bin/env python3
"""Corpus-hygiene pipeline scale bench (operators/quality + packing).

The round-2 quality operators are cheap per-row but their scale shapes
differ: repetition_stats is an explode + partial-agg over every token,
boilerplate_ngrams is a global top-k plus a broadcast probe,
pack_sequences is a two-phase exact prefix sum, pii_redact is pure
regex codegen. This job synthesizes a deterministic corpus large enough
that those shapes dominate (default 1M docs, ~60M tokens) and times
each stage to a noop sink (full materialization — count() would let
column pruning skip the actual work).

Corpus construction (``rig.vocab_corpus``, all column exprs, no driver
data):
- organic doc text = length-varying word sequence from a 30-word vocab,
  token chosen by crc32(id-position) so trigrams are pseudo-random
  (stride-mixed tokens would collapse to ~30 distinct trigrams and the
  top-k would be all organic);
- every 10th doc is the constant cookie-banner phrase plus a 4-token
  organic tail: banner trigrams dominate its shingle set (6 of ~10), so
  the flag at 0.5 must fire on exactly those docs — banner shingle
  document-frequency (n/10) towers over any organic trigram's (~n/300);
- organic doc length cycles 20..119 tokens by id, so packing offsets
  are non-trivial.

Correctness checks are in-run and closed-form (boilerplate flag set ==
the banner docs exactly; total token count vs an exact Python-side
sum) — no oracle run needed at this scale.

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/corpus_bench.py [n_docs] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n_docs, cpus = rig.argv(1_000_000, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.packing import pack_sequences
    from osm_poi_matchmaker_spark.operators.quality import (
        bigram_lm_score,
        boilerplate_ngrams,
        pii_redact,
        repetition_stats,
    )
    from osm_poi_matchmaker_spark.operators.retrieval import bm25_topk

    spark = rig.session("corpus-bench", cpus)
    docs = rig.cached(rig.vocab_corpus(spark, n_docs, cpus * 2))
    n_total = docs.count()

    bm25_queries = [(1, "cookies"), (2, "spark join"), (3, "fast table scan")]
    stages = {
        "repetition_stats": rig.noop_sec(repetition_stats(docs)),
        "boilerplate_ngrams": rig.noop_sec(boilerplate_ngrams(docs, top_k=20)),
        "pack_sequences": rig.noop_sec(pack_sequences(docs, ctx=2048)),
        "pii_redact": rig.noop_sec(pii_redact(docs)),
        "bigram_lm_score": rig.noop_sec(bigram_lm_score(docs)),
        "bm25_topk": rig.noop_sec(bm25_topk(docs, bm25_queries)),
    }

    # correctness 1: the boilerplate flag recovers EXACTLY the banner
    # docs (banner shingle df is n/10, organic trigram df ~n/300)
    boil = boilerplate_ngrams(docs, top_k=20)
    flag_err = boil.where(
        F.col("is_boilerplate") != (F.col("doc_id") % 10 == 0)
    ).count()
    expected_banner_docs = (n_docs + 9) // 10
    flagged = boil.where(F.col("is_boilerplate")).count()
    # correctness 2: exact total token count vs a Python-side sum
    banner_len = len(rig.BANNER.split()) + 4
    expected_tokens = sum(
        banner_len if i % 10 == 0 else 20 + i % 100 for i in range(n_docs)
    )
    total_tokens = pack_sequences(docs, ctx=2048).agg(
        F.sum("n_tokens")
    ).collect()[0][0]

    # correctness 3: BM25 closed-form — 'cookies' appears exactly once in
    # every banner doc and nowhere else; all banner docs have dl=12, so
    # scores tie and the doc_id tie-break makes top-5 = docs 0..40
    b = bm25_topk(docs, bm25_queries, k=5)
    top_cookies = [
        r["doc_id"]
        for r in b.where(F.col("query_id") == 1).orderBy("rank").collect()
    ]
    bm25_exact = top_cookies == [0, 10, 20, 30, 40]
    # correctness 4: banner docs are built from corpus-frequent bigrams
    # (each banner bigram repeats n/10 times) -> their LM perplexity must
    # sit strictly below the organic mean
    lm = bigram_lm_score(docs).withColumn("banner", F.col("doc_id") % 10 == 0)
    ppl = {
        r["banner"]: r["p"]
        for r in lm.groupBy("banner").agg(F.avg("perplexity").alias("p")).collect()
    }
    lm_ordered = bool(ppl[True] < ppl[False])

    wall = sum(stages.values())
    rig.emit({
        "metric": "corpus_hygiene_pipeline",
        "value": wall,
        "unit": "sec",
        "stages": stages,
        "docs": n_total,
        "docs_per_sec_pipeline": round(n_total / wall, 1),
        "tokens": int(total_tokens),
        "tokens_expected": int(expected_tokens),
        "tokens_exact": bool(int(total_tokens) == int(expected_tokens)),
        "boiler_flagged": flagged,
        "boiler_expected": expected_banner_docs,
        "boiler_exact": bool(flag_err == 0),
        "bm25_exact": bool(bm25_exact),
        "lm_banner_ppl": round(ppl[True], 3),
        "lm_organic_ppl": round(ppl[False], 3),
        "lm_ordered": lm_ordered,
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
