"""The ``foreachBatch`` body reads each micro-batch once.

A batch operator that reads its input in two branches (the knn twin's
``nearest_poi`` probe plus its left join back onto the batch) would
re-read the micro-batch's source once per branch. ``run_per_batch``
persists the batch while the operator runs, so both branches read one
cache, and releases it after the write.
"""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from osm_poi_matchmaker_spark import synth
from osm_poi_matchmaker_spark.streaming import knn as knn_stream
from osm_poi_matchmaker_spark.streaming.per_batch import run_per_batch
from tests.conftest import SF_SMALL as SF


def _children(p) -> list:
    ch = p.children()
    return [ch.apply(i) for i in range(ch.size())]


def _batch_reads(spark, df) -> tuple[int, int, set]:
    """(uncached micro-batch scans, cached reads of it, distinct caches
    holding it) in ``df``'s physical plan. A micro-batch is a
    ``Scan ExistingRDD`` leaf; a cache is counted by its builder."""
    jvm = spark.sparkContext._jvm
    scans, reads, caches = 0, 0, set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
        elif name == "InMemoryTableScan":
            if "Scan ExistingRDD" in p.relation().cachedPlan().toString():
                reads += 1
                caches.add(jvm.java.lang.System.identityHashCode(p.relation().cacheBuilder()))
        elif name.startswith("Scan ExistingRDD"):
            scans += 1
        else:
            todo.extend(_children(p))
    return scans, reads, caches


def test_knn_twin_scans_each_micro_batch_once(spark, tmp_path, monkeypatch):
    pois = synth.osm_pois(spark, SF).select("osm_id", "lat", "lon")
    pages = (
        entry_mod._pages_geo(spark, SF)
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("page_id", "lat", "lon")
    )
    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    out = tmp_path / "part"
    pages.coalesce(1).write.parquet(str(out))
    shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], stream_dir / "a.parquet")

    seen = []

    def spy(stream, fn, *args, **kwargs):
        def probe(batch):
            result = fn(batch)
            seen.append(_batch_reads(spark, result))
            return result

        return run_per_batch(stream, probe, *args, **kwargs)

    monkeypatch.setattr(knn_stream, "run_per_batch", spy)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    knn_stream.nearest_poi_stream(
        spark, str(stream_dir), pages.schema, pois,
        str(tmp_path / "out"), str(tmp_path / "ckpt"), radius_m=250.0,
    )
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    assert len(seen) == 1
    scans, reads, caches = seen[0]
    assert scans == 0, "a branch re-reads the micro-batch's source"
    assert reads == 2 and len(caches) == 1, (reads, caches)  # probe + join back, one cache
    assert after == before
    assert spark.read.parquet(str(tmp_path / "out")).count() == pages.count()
