"""Seeded benchmark inputs.

The POI tables come from the program's own generator (``synth``): a base
``customer``/``part`` key table at the sf0.1 row counts is written once per
checkout, ``synth.pages_df``/``synth.osm_pois_df`` derive the pages and the
OSM candidates from it, and that base is cached (it does not depend on the
seed). The seed then sets:

* replica jitter: every base page is copied ``REPLICAS`` times; replica 0 is
  the base page unchanged, replicas >= 1 move the embedded ``geo:LAT,LON``
  pair by a seeded offset of at most 2e-5 degrees that keeps the point in
  its grid cell, so every cell-keyed count is the same for every seed;
* id remapping: ``page_id = perm[k] * replicas + r`` for a seeded
  permutation ``perm`` of the base keys;
* the ANN query sample.

The ANN corpus is a seeded clustered Gaussian mixture with remapped ids.
The program only ever sees the parquet tables written here.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
GEO_RX = re.compile(r"geo:([0-9]+),([0-9]+)")


REPLICAS = 2  # copies of every base page
FILES = 8  # parquet files per seeded table
DIM = 64  # ANN vector width
CLUSTERS = 32  # Gaussian clusters of the ANN corpus
SPREAD = 1.3  # per-axis standard deviation around a cluster centre
CENTROID_MOD = 20  # kmeans seeds: vec_id % CENTROID_MOD == 1 (50 lists)
NPROBE = 5  # IVF lists probed per query


@dataclass(frozen=True)
class Sizes:
    customers: int = 3_000  # a fifth of the sf0.1 customer rows -> pages (80% lang=hu)
    parts: int = 10_000  # half the sf0.1 part rows -> osm_pois
    oracle_pages: int = 1_500  # base pages the DuckDB oracle cross-checks
    corpus: int = 1_000
    queries: int = 200


@dataclass
class Inputs:
    pages: str
    pois: str
    corpus: str
    queries: str
    pages_rows: int
    hu_pages: int
    twin_osm_id: dict  # hu page_id -> osm_id of the POI planted at its anchor
    replica0_ids: dict  # replica-0 page_id -> base key
    query_ids: np.ndarray
    exact_top5: np.ndarray  # (queries, 5) corpus ids, built with numpy
    bytes: dict  # input name -> parquet bytes


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _source_tag(sizes: Sizes) -> str:
    h = hashlib.sha256(repr((sizes.customers, sizes.parts)).encode())
    for rel in ("osm_poi_matchmaker_spark/synth.py",):
        with open(os.path.join(REPO, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def base_dir(work: str, sizes: Sizes) -> str:
    return os.path.join(work, f"base-{_source_tag(sizes)}")


def ensure_base(spark, work: str, sizes: Sizes) -> str:
    """Write the seed-independent base tables once per checkout."""
    from osm_poi_matchmaker_spark import synth

    base = base_dir(work, sizes)
    if os.path.exists(os.path.join(base, "_DONE")):
        return base
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        pa.table({"c_custkey": np.arange(sizes.customers, dtype=np.int64)}),
        os.path.join(tmp, "customer.parquet"),
    )
    pq.write_table(
        pa.table({"p_partkey": np.arange(sizes.parts, dtype=np.int64)}),
        os.path.join(tmp, "part.parquet"),
    )
    synth.pages_df(spark, tmp).coalesce(1).write.parquet(os.path.join(tmp, "pages"))
    synth.osm_pois_df(spark, tmp).repartition(FILES).write.parquet(
        os.path.join(tmp, "osm_pois")
    )
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    open(os.path.join(base, "_DONE"), "w").close()
    return base


def _write_split(table: pa.Table, path: str, files: int) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(
                part,
                os.path.join(path, f"part-{i:03d}.parquet"),
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )


def _jitter_text(text: str, dlat: int, dlon: int) -> str:
    return GEO_RX.sub(
        lambda m: f"geo:{int(m.group(1)) + dlat},{int(m.group(2)) + dlon}", text, count=1
    )


def _in_cell_jitter(rng, v: np.ndarray, offset_e5: int) -> np.ndarray:
    """Seeded offsets in [-2, 2] (1e-5 degree units) that keep each value,
    with one unit of margin, in its 1/640-degree cell (``tiling.GRID_MULT``;
    ``offset_e5`` is the 90 or 180 degrees the cell formula adds)."""

    def cell(x):
        return (x + offset_e5) * 640 // 100_000

    d = np.arange(-2, 3)
    cand = v[:, None] + d[None, :]
    home = cell(v)[:, None]
    ok = (cell(cand - 1) == home) & (cell(cand + 1) == home)
    pick = d[np.argmax(np.where(ok, rng.random(ok.shape), -1.0), axis=1)]
    return np.where(ok.any(axis=1), pick, 0)


def _planted_twin(k: int) -> int:
    """osm_id of the POI synth places at page k's anchor (same key)."""
    return -k if k % 3 == 2 else k


def make_inputs(spark, work: str, seed: int, sizes: Sizes) -> Inputs:
    """Generate the seeded tables under ``work/seed-<seed>-<tag>`` (cached)."""
    base = ensure_base(spark, work, sizes)
    # a change of the base tables or of this generator must not reuse old tables
    with open(__file__, "rb") as f:
        key = os.path.basename(base).encode() + repr(sizes).encode() + f.read()
    root = os.path.join(work, f"seed-{seed}-{hashlib.sha256(key).hexdigest()[:8]}")
    rng = np.random.default_rng(seed)
    R = REPLICAS

    # --- pages: replicas, jitter, id remap --------------------------------
    bp = pq.read_table(os.path.join(base, "pages")).to_pandas()
    keys = bp["page_id"].to_numpy()
    perm = rng.permutation(len(keys))
    geo = [GEO_RX.search(t) for t in bp["text"]]
    lat_e5 = np.array([int(m.group(1)) for m in geo], dtype=np.int64)
    lon_e5 = np.array([int(m.group(2)) for m in geo], dtype=np.int64)
    frames = []
    for r in range(R):
        rep = bp.copy()
        rep["page_id"] = perm[keys].astype(np.int64) * R + r
        if r:
            dlat = _in_cell_jitter(rng, lat_e5, 9_000_000)
            dlon = _in_cell_jitter(rng, lon_e5, 18_000_000)
            rep["text"] = [
                _jitter_text(t, int(a), int(b)) for t, a, b in zip(rep["text"], dlat, dlon)
            ]
            rep["html"] = [
                ("<html><body><p>" + t + "</p></body></html>").encode() for t in rep["text"]
            ]
        frames.append(rep)
    pages_pd = pd.concat(frames, ignore_index=True)
    order = rng.permutation(len(pages_pd))  # spread replicas over the files
    pages_pd = pages_pd.iloc[order].reset_index(drop=True)
    hu = (pages_pd["lang"] == "hu").to_numpy()
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(perm))  # base keys are 0..n-1, so key == index
    twin = {
        int(p): _planted_twin(int(inv[int(p) // R])) for p in pages_pd["page_id"].to_numpy()[hu]
    }
    replica0 = {int(perm[k]) * R: int(k) for k in keys}

    # --- ANN corpus --------------------------------------------------------
    centers = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, sizes.corpus)
    X = (centers[label] + SPREAD * rng.normal(size=(sizes.corpus, DIM))).astype(
        np.float32
    )
    vec_ids = rng.permutation(sizes.corpus).astype(np.int64)
    qpos = np.sort(rng.choice(sizes.corpus, sizes.queries, replace=False))
    Xn = X.astype(np.float64)
    Xn /= np.linalg.norm(Xn, axis=1, keepdims=True)
    sims = Xn[qpos] @ Xn.T
    sims[np.arange(len(qpos)), qpos] = -np.inf  # ivf_topk excludes self-matches
    # exact top-5 by (desc cosine, asc id) — the tie rule every ANN path uses
    exact = np.stack(
        [vec_ids[np.lexsort((vec_ids, -row))[:5]] for row in sims]
    )

    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        _write_split(
            pa.Table.from_pandas(pages_pd, preserve_index=False),
            os.path.join(root, "pages"),
            FILES,
        )
        emb = pa.array(list(X), type=pa.list_(pa.float32()))
        corpus = pa.table({"vec_id": vec_ids, "embedding": emb})
        _write_split(corpus, os.path.join(root, "corpus"), FILES)
        _write_split(corpus.take(qpos), os.path.join(root, "queries"), 1)
        open(os.path.join(root, "_DONE"), "w").close()

    paths = {
        "pages": os.path.join(root, "pages"),
        "pois": os.path.join(base, "osm_pois"),
        "corpus": os.path.join(root, "corpus"),
        "queries": os.path.join(root, "queries"),
    }
    return Inputs(
        pages_rows=len(pages_pd),
        hu_pages=int(hu.sum()),
        twin_osm_id=twin,
        replica0_ids=replica0,
        query_ids=vec_ids[qpos],
        exact_top5=exact,
        bytes={k: dir_bytes(v)[0] for k, v in paths.items()},
        **paths,
    )

