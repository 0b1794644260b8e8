"""Independent answers the benchmark checks the program against.

* POI workloads: the registry's DuckDB oracle (``__spark_entry__.oracle_sql``)
  for ``match_cascade`` and ``knn_nearest``, run
  over the un-amplified base pages with a key below ``oracle_pages`` (a
  page's answer depends only on that page and the full POI table, so a
  key range is an exact slice). Replica 0 of every seed is the base page
  with a remapped id, so its rows in that slice must equal the oracle's
  rows after mapping the id back. The oracle answers do not depend on the
  seed and are cached next to the base tables.
* Replica 0 of every seed is also digested call by call (ids mapped back
  to base keys) and compared with ``expected.json``, so a deterministic
  change of any layer's output fails. The file was filled from the
  ``checks.digests`` of a run record (``perfbench/.work/records``) of a
  commit whose output the checks above accepted; a run without an entry
  for its base sizes fails and records the digests to commit.
* ``tile_pyramid`` and ``match_lineage`` are aggregates over every
  replica: pandas recomputes them from the extract and match outputs.
* ``ann_ivf``: a NumPy re-implementation of the fixed-iteration Lloyd
  training (integer micro-unit means, empty clusters keep their centroid)
  and of the IVF probe, with the same tie rules (desc cosine, asc id).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

from .inputs import HERE, REPLICAS, REPO

ORACLE_QUERIES = ("match_cascade", "knn_nearest")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
# the program's grid and lineage constants, restated so that a change of
# them shows as a failed check (tiling.X_SPAN, lineage.BUCKET_SHIFT)
X_SPAN = 1 << 18
BUCKET_SHIFT = 8
PYRAMID_LEVELS = 4


def _oracle_tag(oracle_pages: int) -> str:
    h = hashlib.sha256(str(oracle_pages).encode())
    for rel in ("__spark_entry__.py", "osm_poi_matchmaker_spark/synth_sql.py"):
        with open(os.path.join(REPO, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def oracle_answers(base: str, oracle_pages: int, threads: int) -> dict[str, pd.DataFrame]:
    """DuckDB oracle rows for base pages ``0..oracle_pages-1``, cached per checkout."""
    tag = _oracle_tag(oracle_pages)
    paths = {q: os.path.join(base, f"oracle-{q}-{tag}.parquet") for q in ORACLE_QUERIES}
    if all(os.path.exists(p) for p in paths.values()):
        return {q: pd.read_parquet(p) for q, p in paths.items()}
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect(config={"threads": threads, "memory_limit": "2GB"})
    try:
        con.execute(
            f"CREATE VIEW customer AS SELECT * FROM read_parquet('{base}/customer.parquet') "
            f"WHERE c_custkey < {int(oracle_pages)}"
        )
        con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{base}/part.parquet')")
        out = {}
        for q, p in paths.items():
            df = con.execute(sql[q]).df()
            df.to_parquet(p + ".tmp")
            os.replace(p + ".tmp", p)
            out[q] = df
    finally:
        con.close()
    return out


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return str(int(v)) if float(v).is_integer() else repr(round(float(v), 6))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def canon_rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(
        tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False)
    )


def diff_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of canonical rows, else a short reason."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    a, b = canon_rows(got, cols), canon_rows(want, cols)
    if a == b:
        return None
    bad = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    return f"{len(a)} vs {len(b)} rows; first diff at {bad}: {a[bad:bad+1]} vs {b[bad:bad+1]}"


def replica0_digest(df: pd.DataFrame, replica0_ids: dict) -> list:
    """[rows, sha256] of the replica-0 rows of ``df`` with ``page_id`` mapped
    back to the base key: the same for every seed."""
    r0 = df[df["page_id"] % REPLICAS == 0].copy()
    r0["page_id"] = r0["page_id"].map(replica0_ids)
    rows = canon_rows(r0, sorted(r0.columns))
    h = hashlib.sha256("\n".join("\x1f".join(r) for r in rows).encode())
    return [len(rows), h.hexdigest()]


def _expected_key(customers: int, parts: int) -> str:
    return f"customers={customers},parts={parts}"


def load_expected(customers: int, parts: int) -> dict | None:
    """Committed replica-0 digests for these base sizes, if any."""
    try:
        with open(EXPECTED_PATH) as f:
            return json.load(f).get(_expected_key(customers, parts))
    except FileNotFoundError:
        return None


def tile_pyramid_reference(points: pd.DataFrame) -> pd.DataFrame:
    """(level, cell_id, n_pages): level 0 counts points per cell, level L
    halves both grid axes L times."""
    base = points.groupby("cell_id").size()
    cells = base.index.to_numpy(dtype=np.int64)
    frames = []
    for lvl in range(PYRAMID_LEVELS):
        parent = ((cells // X_SPAN) >> lvl) * X_SPAN + ((cells % X_SPAN) >> lvl)
        agg = pd.Series(base.to_numpy(), index=parent).groupby(level=0).sum()
        frames.append(pd.DataFrame({"level": lvl, "cell_id": agg.index, "n_pages": agg.to_numpy()}))
    return pd.concat(frames, ignore_index=True)


def lineage_reference(matched: pd.DataFrame) -> pd.DataFrame:
    """One row per cell bucket: cell range, input, matched and new rows."""
    m = matched.assign(
        cell_bucket=matched["cell_id"].to_numpy(dtype=np.int64) >> BUCKET_SHIFT,
        matched=matched["osm_id"].notna(),
    )
    g = m.groupby("cell_bucket")
    out = pd.DataFrame(
        {
            "cell_min": g["cell_id"].min(),
            "cell_max": g["cell_id"].max(),
            "input_rows": g.size(),
            "matched_rows": g["matched"].sum(),
        }
    )
    out["new_rows"] = out["input_rows"] - out["matched_rows"]
    return out.reset_index()


def _cosine_rows(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    vn = np.sqrt((V * V).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    return (V @ C.T) / np.outer(vn, cn)


def _argmax_ties_low_id(sims: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Per row, the id with the highest sim; equal sims go to the lowest id."""
    order = np.argsort(ids, kind="stable")
    s = sims[:, order]
    return ids[order][np.argmax(s, axis=1)]


def kmeans_reference(vec_ids, X, centroid_mod: int, iters: int):
    """(centroid ids, centroid vectors) exactly as ``kmeans_centroids`` defines them."""
    V = X.astype(np.float64)
    seed = vec_ids % centroid_mod == 1
    cid = vec_ids[seed]
    cents = V[seed].copy()
    for _ in range(iters):
        assign = _argmax_ties_low_id(_cosine_rows(V, cents), cid)
        micro = np.floor(V * 1_000_000.0).astype(np.int64)
        for j, c in enumerate(cid):
            members = assign == c
            n = int(members.sum())
            if n:
                cents[j] = micro[members].sum(axis=0).astype(np.float64) / (1_000_000.0 * n)
    return cid, cents


def ivf_reference(vec_ids, X, query_ids, cid, cents, nprobe: int, k: int = 5):
    """{query id: [match ids]} of ``ivf_topk`` with trained centroids."""
    V = X.astype(np.float64)
    lists = _argmax_ties_low_id(_cosine_rows(V, cents), cid)
    pos = {int(v): i for i, v in enumerate(vec_ids)}
    out = {}
    for q in query_ids:
        qv = V[pos[int(q)]][None, :]
        cs = _cosine_rows(qv, cents)[0]
        probe = cid[np.lexsort((cid, -cs))[:nprobe]]
        cand = np.flatnonzero(np.isin(lists, probe) & (vec_ids != q))
        sims = _cosine_rows(qv, V[cand])[0]
        top = cand[np.lexsort((vec_ids[cand], -sims))[:k]]
        out[int(q)] = [int(v) for v in vec_ids[top]]
    return out
