"""Replay and index lifetime of the shared ``foreachBatch`` body.

``foreachBatch`` is at-least-once: a micro-batch whose output was
written before its commit-log entry runs again on restart. Deleting the
last commit file reproduces that crash window; the rerun must replace
the replayed batch's output, not add a second copy. No stream, failed
ones included, may leave a cached RDD of its own behind.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from osm_poi_matchmaker_spark import synth
from osm_poi_matchmaker_spark.streaming.crawl import match_crawl_stream
from osm_poi_matchmaker_spark.streaming.knn import nearest_poi_stream
from osm_poi_matchmaker_spark.streaming.per_batch import read_stream, run_per_batch
from tests.conftest import SF_SMALL as SF


def _persistent_rdds(spark) -> set:
    """Ids of the session's persisted RDDs. The JVM holds them weakly, so
    ids of unreachable RDDs may vanish at any time: compare by what a
    run leaves behind, not by count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rows(spark, out_dir) -> Counter:
    """The output rows as a multiset, batch_id aside."""
    return Counter(map(repr, spark.read.parquet(out_dir).drop("batch_id").collect()))


def _arrivals(tmp_path, df, key):
    """Two arrival files split by ``key`` parity → two micro-batches."""
    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    for name, part in (
        ("a", df.where(F.col(key) % 2 == 0)),
        ("b", df.where(F.col(key) % 2 != 0)),
    ):
        out = tmp_path / f"part_{name}"
        part.coalesce(1).write.parquet(str(out))
        shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], stream_dir / f"{name}.parquet")
    return str(stream_dir)


def _crawl(spark, tmp_path):
    pages = synth.pages(spark, SF)
    pois, common = synth.osm_pois(spark, SF), synth.poi_common_df(spark)
    stream_dir = _arrivals(tmp_path, pages, "page_id")
    return lambda out_dir, ckpt: match_crawl_stream(
        spark, stream_dir, pages.schema, pois, common, out_dir, ckpt,
        brand_rows=synth.BRAND_ROWS, max_files_per_trigger=1,
    )


def _knn(spark, tmp_path):
    pois = synth.osm_pois(spark, SF).select("osm_id", "lat", "lon")
    pages = (
        entry_mod._pages_geo(spark, SF)
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("page_id", "lat", "lon")
    )
    stream_dir = _arrivals(tmp_path, pages, "page_id")
    return lambda out_dir, ckpt: nearest_poi_stream(
        spark, stream_dir, pages.schema, pois, out_dir, ckpt,
        radius_m=250.0, max_files_per_trigger=1,
    )


@pytest.mark.parametrize("make_run", [_crawl, _knn], ids=["crawl", "knn"])
def test_replayed_batch_is_not_duplicated(spark, tmp_path, make_run):
    run = make_run(spark, tmp_path)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    before = _persistent_rdds(spark)
    run(out_dir, ckpt)
    assert not _persistent_rdds(spark) - before
    first = _rows(spark, out_dir)
    assert first

    # crash window: the last batch's output landed, its commit did not
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last >= 1, "need at least two micro-batches"
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    run(out_dir, ckpt)

    assert _rows(spark, out_dir) == first
    assert not _persistent_rdds(spark) - before


def test_index_released_when_batch_fails(spark, tmp_path):
    stream_dir = _arrivals(tmp_path, spark.range(10).withColumnRenamed("id", "k"), "k")
    idx = spark.range(100).select((F.col("id") * 2).alias("v"))
    callers = spark.range(7).persist()  # a cache the caller owns stays cached
    callers.count()
    before = _persistent_rdds(spark)
    live = []

    def fail(batch):
        live.append(_persistent_rdds(spark))
        raise RuntimeError("probe failed")

    with pytest.raises(Exception, match="probe failed"):
        run_per_batch(
            read_stream(spark, stream_dir, "k long"),
            fail,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            index=[idx, callers],
        )
    assert live and len(live[0] - before) == 1  # the index was cached while probing
    assert not _persistent_rdds(spark) - before
    assert callers.storageLevel.useMemory
    callers.unpersist()
