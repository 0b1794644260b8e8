#!/usr/bin/env python3
"""Ingest-path scale bench: chunk_documents, quality_weighted_sample,
lsh_index_probe at corpus scale (default 1M docs).

These three are the per-snapshot ingest stages a 100 TB crawl pays on
every release: chunk long docs for training, reweight domains by
quality, and probe the new batch against the settled corpus's LSH
index. Their scale shapes differ — chunking is row-local (zero
shuffle), reweighting is one tiny per-source agg broadcast onto a
narrow filter, the probe is shingle explode + one bucket equi-join —
so per-stage timing shows where an ingest budget actually goes.

Corpus (``rig.hash_corpus``): organic tokens "t<xxhash64(id-pos)>"
(corpus-unique shingles — see ``rig.hash_tokens`` for why NOT crc32),
length cycling 20..119;
every 7th doc is a punctuation-bomb (quality 0/3) while organic docs
score 2/3 (length+punct ok, stopword ratio 0 fails), so sources (id %
10, cutting across the spam cycle) get distinct closed-form rates. The
probe batch is the last tenth of ids: every 5th batch doc is an exact
copy of corpus doc (id % n_corpus)'s organic text (a known dup unless
that corpus id is itself a spam doc), and spam batch docs match the
corpus's identical spam text — the flagged set is fully closed-form
(identical text => identical band signatures; disjoint organic shingle
sets can only collide through an md5 collision).

Prints ONE JSON line; paste into BENCH.md.

Usage: python3 jobs/ingest_bench.py [n_docs] [cpus]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    n_docs, cpus = rig.argv(1_000_000, None)

    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.dedup import lsh_index_probe
    from osm_poi_matchmaker_spark.operators.packing import chunk_documents
    from osm_poi_matchmaker_spark.operators.sampling import (
        quality_weighted_sample,
    )

    spark = rig.session("ingest-bench", cpus)

    n_corpus = (n_docs * 9) // 10  # ids [0, n_corpus) settled, rest batch
    docs = rig.cached(
        rig.hash_corpus(spark, n_docs, cpus * 2, 7, F.lit("!!! ??? ;;; !!! ???")).withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 10).cast("string"))
        )
    )

    corpus = docs.where(F.col("doc_id") < n_corpus).select("doc_id", "text")
    # batch: every 5th is an exact copy of a corpus doc's organic text
    bid = F.col("doc_id")
    copy_src = bid % n_corpus
    batch = rig.cached(
        docs.where(bid >= n_corpus).select(
            "doc_id",
            F.when(bid % 5 == 0, rig.hash_tokens(copy_src, rig.organic_len(copy_src)))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )

    stages = {
        "chunk_documents": rig.noop_sec(chunk_documents(docs, ctx=32, stride=24)),
        "quality_weighted_sample": rig.noop_sec(quality_weighted_sample(docs)),
        "lsh_index_probe": rig.noop_sec(lsh_index_probe(corpus, batch)),
    }

    # closed-form checks: spam text (5 tokens, punct-heavy, no
    # stopwords) scores ok3=0; organic (20..119 tokens, no punct, no
    # stopwords) scores ok3=2 — per-source rates follow exactly
    qws = quality_weighted_sample(docs)
    rates = {
        r["source"]: r["rate_ppm"]
        for r in qws.select("source", "rate_ppm").distinct().collect()
    }
    n_spam_by_src = [0] * 10
    n_by_src = [0] * 10
    for i in range(n_docs):
        s = i % 10
        n_by_src[s] += 1
        if i % 7 == 0:
            n_spam_by_src[s] += 1
    expected = {
        f"src{s}": (2 * (n_by_src[s] - n_spam_by_src[s]) * 1_000_000)
        // (3 * n_by_src[s])
        for s in range(10)
    }
    rates_exact = rates == expected

    # flagged iff: an organic copy of a NON-spam corpus doc, or a spam
    # text (identical to every corpus spam doc's text)
    probe = lsh_index_probe(corpus, batch).persist()
    flagged = probe.where("is_known_dup").count()
    expected_flagged = sum(
        1
        for i in range(n_corpus, n_docs)
        if (i % 5 == 0 and (i % n_corpus) % 7 != 0)
        or (i % 5 != 0 and i % 7 == 0)
    )
    d = F.col("doc_id")
    pred = ((d % 5 == 0) & ((d % n_corpus) % 7 != 0)) | (
        (d % 5 != 0) & (d % 7 == 0)
    )
    mism = probe.where(F.col("is_known_dup") != pred).count()
    probe.unpersist()

    n_chunks = chunk_documents(docs, ctx=32, stride=24).count()
    expected_chunks = sum(
        1 + max(0, (5 if i % 7 == 0 else 20 + i % 100) - 32 + 23) // 24
        for i in range(n_docs)
    )

    wall = sum(stages.values())
    rig.emit({
        "metric": "ingest_pipeline_bench",
        "value": wall,
        "unit": "sec",
        "stages": stages,
        "docs": n_docs,
        "docs_per_sec_ingest": round(n_docs / wall, 1),
        "rates_exact": bool(rates_exact),
        "probe_flagged": flagged,
        "probe_expected": expected_flagged,
        "probe_exact": bool(mism == 0 and flagged == expected_flagged),
        "chunks": int(n_chunks),
        "chunks_expected": int(expected_chunks),
        "chunks_exact": bool(int(n_chunks) == int(expected_chunks)),
        "cpus": cpus,
    })
    spark.stop()


if __name__ == "__main__":
    main()
