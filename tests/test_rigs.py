"""The bench rigs and their shared harness (jobs/rig.py): every rig
imports and exposes ``main``, the seeded inputs are what the rigs' checks
assume, and the smallest ANN rig prints its one JSON record."""

from __future__ import annotations

import glob
import importlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jobs import rig  # noqa: E402

RIGS = sorted(
    f"jobs.{os.path.basename(p)[:-3]}"
    for p in glob.glob(os.path.join(REPO, "jobs", "*.py"))
    if not p.endswith("rig.py")
) + ["bench", "scaling_bench"]


@pytest.mark.parametrize("name", RIGS)
def test_rig_imports_and_exposes_main(name):
    assert callable(importlib.import_module(name).main)


def test_argv_casts_to_default_type_and_host_cpus(monkeypatch):
    monkeypatch.setattr(sys, "argv", ["rig", "/sf", "7", "2.5"])
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert rig.argv("/x", 1, 0.0, None, "all") == ["/sf", 7, 2.5, 3, "all"]
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert rig.host_cpus() == len(os.sched_getaffinity(0))


def test_amplify_unique_ids_replica_zero_ids_and_bounded_jitter(spark):
    src = spark.createDataFrame(
        [(1, 47.5, 19.0), (2, 47.6, 19.1), (3, 46.0, 18.0)], "osm_id long, lat double, lon double"
    )
    times = 25  # past the 21-replica jitter cycle
    amp = rig.amplify(src, times, "osm_id").toPandas()
    assert len(amp) == 3 * times
    assert amp["osm_id"].is_unique
    base = src.toPandas().set_index("osm_id")
    rep = amp["osm_id"] // 10_000_000
    orig = amp["osm_id"] % 10_000_000
    assert sorted(amp.loc[rep == 0, "osm_id"]) == [1, 2, 3]
    dlat = amp["lat"].to_numpy() - base.loc[orig, "lat"].to_numpy()
    dlon = amp["lon"].to_numpy() - base.loc[orig, "lon"].to_numpy()
    assert np.abs(dlat).max() <= 0.01 + 1e-9
    assert np.allclose(dlat, -dlon)
    mega = rig.amplify(src, times, "osm_id", mega=(47.4979, 19.0402)).toPandas()
    moved = mega["osm_id"] // 10_000_000
    in_cell = (mega["lat"] - 47.4979).abs() <= 0.002 + 1e-9
    assert in_cell[(moved % 10 == 0) & (moved > 0)].all()
    assert not in_cell[moved == 0].any()


def test_vector_corpus_is_deterministic_and_plants_near_copies(spark):
    n, n_q = 400, 8
    step = n // n_q

    def vectors():
        rows = rig.vector_corpus(spark, n, n_q).orderBy("vec_id").collect()
        return np.array([r["embedding"] for r in rows], dtype=np.float32)

    a, b = vectors(), vectors()
    assert a.shape == (n, 64)
    assert a.tobytes() == b.tobytes()
    assert a.min() > -3.0 and a.max() < 1.0
    for q in range(step, n, step):
        assert np.array_equal(a[q + 1, 1:], a[q, 1:]) and a[q + 1, 0] != a[q, 0]
        assert not np.any(a[q + 2, 1:] == a[q, 1:])
    assert not np.array_equal(a[1, 1:], a[0, 1:])  # query 0 has no planted copy
    assert rig.query_shard(rig.vector_corpus(spark, n, n_q), n, n_q).count() == n_q


def test_smallest_ann_rig_prints_one_json_record(tmp_path):
    # the rig's work directory lives under TMPDIR
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, os.path.join("jobs", "kmeans_recall_bench.py"), "2000", "2", "2"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    records = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert len(records) == 1 and len(out.stdout.strip().splitlines()) == 1
    rec = records[0]
    assert set(rec) == {
        "metric", "n_vectors", "n_centroids_mod", "nprobe", "exact_sec", "recall_modulo",
        "recall_kmeans", "train_sec_2iters", "probe_sec_modulo", "probe_sec_kmeans", "cpus",
    }
    assert (rec["n_vectors"], rec["n_centroids_mod"], rec["nprobe"], rec["cpus"]) == (2000, 45, 2, 2)
    assert 0.0 < rec["recall_modulo"] <= 1.0 and 0.0 < rec["recall_kmeans"] <= 1.0
