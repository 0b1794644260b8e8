"""The nearest-centroid kernel outside Spark: a bounded score block at
any centroid count, block boundaries invisible in the output under
either metric and in the probe's scoring and top-k cuts, no rows
without centroids, and a worker-side import of numpy and pyarrow
only."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa

from osm_poi_matchmaker_spark.operators import centroid_kernel as K

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(n: int, dim: int, seed: int = 5) -> pa.RecordBatch:
    rng = np.random.default_rng(seed)
    v = rng.uniform(-1.0, 1.0, (n, dim))
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * dim)
    return pa.RecordBatch.from_arrays(
        [pa.array(np.arange(n)), pa.ListArray.from_arrays(offsets, pa.array(v.ravel()))],
        names=["vid", "v"],
    )


def _top(batch, ids, cmat, n, metric=K.COSINE) -> list[pa.RecordBatch]:
    return list(K.top_centroids(iter([batch]), "v", "vid", ids, cmat, n, metric, ansi=True))


def test_score_block_stays_small_at_any_k():
    for k in (1, 50, 3_162, 100_000, 10**6):
        step = next(K._blocks(10**7, k)).stop
        assert step == 1 or step * k * 8 <= 4 << 20, (k, step)


def test_block_boundaries_do_not_change_rows(monkeypatch):
    """Under both metrics; the loop keeps the test id stable."""
    batch = _batch(50, 8)
    ids = np.array([-3, 1, 2, 8, 9, 40, 41], dtype=np.int64)
    cmat = np.random.default_rng(9).uniform(-1.0, 1.0, (len(ids), 8))
    full = K._BLOCK_CELLS
    for metric in (K.COSINE, K.L2):
        monkeypatch.setattr(K, "_BLOCK_CELLS", full)
        whole = pa.Table.from_batches(_top(batch, ids, cmat, 3, metric))
        monkeypatch.setattr(K, "_BLOCK_CELLS", 8)  # one row per block
        split = pa.Table.from_batches(_top(batch, ids, cmat, 3, metric))
        assert whole.num_rows == 150, metric
        assert split.equals(whole), metric


def test_probe_block_and_cut_boundaries_do_not_change_rows(monkeypatch):
    """One-row blocks, and a pool cut after every block, return the same
    top-keep rows as one block per list; the rows of a second batch
    merge into the first's."""
    ids = np.array([-3, 1, 2, 8], dtype=np.int64)
    cmat = np.random.default_rng(9).uniform(-1.0, 1.0, (len(ids), 8))
    queries = pa.Table.from_batches([_batch(12, 8, seed=3)]).rename_columns(
        ["query_id", "q_vec"]
    )
    lists = [
        b.rename_columns(["match_id", "c_vec"]) for b in (_batch(40, 8), _batch(30, 8, seed=6))
    ]
    index = K.probe_index(queries, ids, cmat, 2, (), ansi=True)

    def probe():
        return pa.Table.from_batches(
            K.probe_lists(iter(lists), index, "c_vec", "c_vec", keep=4)
        )

    whole = probe()
    monkeypatch.setattr(K, "_BLOCK_CELLS", 1)
    split = probe()
    assert whole.num_rows == 12 * 4
    assert split.equals(whole)


def test_no_centroids_no_rows():
    assert _top(_batch(4, 8), np.array([], dtype=np.int64), np.zeros((0, 8)), 2) == []


def test_worker_imports_only_numpy_and_pyarrow():
    code = (
        "import sys, osm_poi_matchmaker_spark.operators.centroid_kernel; "
        "print(sorted(m for m in ('pandas', 'pyspark', 'py4j') if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
