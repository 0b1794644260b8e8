"""The nearest-centroid kernel: scoring of vector rows against a small
centroid set, in NumPy over Arrow record batches. IVF routing and
k-means rank by cosine; product quantization ranks codewords by squared
L2 distance. The caller picks the metric (:data:`COSINE`, :data:`L2`).

This module runs inside Spark's Python workers (``mapInArrow``), so it
imports numpy and pyarrow only. The driver collects the centroids once
as an Arrow table (:func:`centroid_arrays` and :func:`codebook_arrays`
turn it into arrays) and binds them into :func:`top_centroids`,
:func:`centroid_sums` or :func:`pq_codes` with ``functools.partial``.

The arithmetic is the SQL form's, step for step, so every score is
bit-identical to ``aggregate(zip_with(...))`` in the JVM:

* every component is widened to double;
* ``dot``, the squared norms and the squared distance are sequential
  per-dimension folds from ``0.0``, ``acc = acc + v[d] * c[d]`` and
  ``acc = acc + (v[d] - c[d]) * (v[d] - c[d])`` (no BLAS, whose blocked
  summation changes the last bits);
* cosine: ``cent_sim = dot / (vn * cn)``; a zero divisor raises
  ``DIVIDE_BY_ZERO`` under ANSI and gives a NULL score otherwise;
  order: NaN first, then descending cosine, then NULL;
* L2: NaN first, then ascending distance (the order
  ``array_max(struct(-d, -id))`` gives);
* ties by ascending centroid id.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

# Rows per scoring block: the rows x K score block and its temporaries
# stay near 2 MB of float64 each at any centroid count K.
_BLOCK_CELLS = 1 << 18
MICRO = 1_000_000.0  # integer micro-units of the exact k-means mean
_LOW32 = (1 << 32) - 1
COSINE, L2 = "cosine", "l2"


def centroid_arrays(cents: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) of the collected (centroid_id, cent_vec) table,
    sorted by id so that a stable sort breaks score ties by ascending
    id. A NULL id, a NULL vector or component, or a length other than
    the first centroid's raises: the SQL form ranked such a centroid
    NULL for every vector."""
    ids = cents.column("centroid_id").combine_chunks()
    if ids.null_count:
        raise ValueError("a centroid has a NULL centroid_id")
    batch = pa.RecordBatch.from_arrays(
        [ids, cents.column("cent_vec").combine_chunks()], names=["centroid_id", "cent_vec"]
    ).take(pa.array(np.argsort(ids.to_numpy(), kind="stable")))
    dim = len(batch.column("cent_vec")[0].as_py() or []) if batch.num_rows else 0
    return batch.column("centroid_id").to_numpy(), _vectors(
        batch, "cent_vec", "centroid_id", dim, finite=False
    )


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sequential per-dimension dot products of the rows of ``a`` (m, d)
    with the rows of ``b`` (k, d): an (m, k) block."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc += np.multiply.outer(a[:, d], b[:, d])
    return acc


def _sqdist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sequential per-dimension squared distances between the rows of
    ``a`` (m, d) and the rows of ``b`` (k, d): an (m, k) block."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        diff = np.subtract.outer(a[:, d], b[:, d])
        acc += diff * diff
    return acc


def _norms(m: np.ndarray) -> np.ndarray:
    acc = np.zeros(m.shape[0])
    for d in range(m.shape[1]):
        acc += m[:, d] * m[:, d]
    return np.sqrt(acc)


def _row_name(batch: pa.RecordBatch, id_col: str | None, i: int) -> str:
    if id_col is None:
        return f"row {i}"
    return f"{id_col}={batch.column(id_col)[i].as_py()}"


def _vectors(
    batch: pa.RecordBatch, vec: str, id_col: str | None, dim: int, finite: bool
) -> np.ndarray:
    """The ``vec`` column as a float64 (rows, dim) matrix. A NULL vector, a
    NULL component or a length other than ``dim`` raises, naming the row
    (the SQL form scored such a row NULL against every centroid and put
    it with the smallest id); so does a NaN or infinite component when
    ``finite`` is set."""
    col = batch.column(vec)
    lengths = col.value_lengths().to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(np.isnan(lengths) | (lengths != dim)) if len(col) else []
    if len(bad):
        i = int(bad[0])
        what = "NULL" if col[i].as_py() is None else f"length {int(lengths[i])}"
        raise ValueError(
            f"vector {_row_name(batch, id_col, i)}: {what}, centroids have length {dim}"
        )
    flat = col.flatten()
    if flat.null_count:
        i = int(np.flatnonzero(flat.is_null().to_numpy(zero_copy_only=False))[0]) // max(dim, 1)
        raise ValueError(f"vector {_row_name(batch, id_col, i)}: NULL component")
    v = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(col), dim)
    bad = ~np.isfinite(v).all(axis=1) if finite else []
    if np.any(bad):
        i = int(np.flatnonzero(bad)[0])
        raise ValueError(f"vector {_row_name(batch, id_col, i)}: non-finite component")
    return v


def _ranked(
    v: np.ndarray, cmat: np.ndarray, cn: np.ndarray, ansi: bool, name
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cent_sim, null, order) of a block of vectors against every
    centroid: order[i] lists centroid columns best first."""
    vn = _norms(v)
    div = np.multiply.outer(vn, cn)
    null = div == 0
    if ansi and null.any():
        i = int(np.flatnonzero(null.any(axis=1))[0])
        raise ArithmeticError(
            f"[DIVIDE_BY_ZERO] Division by zero: vector {name(i)} or a centroid has zero norm"
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = _fold(v, cmat) / div
    nan = np.isnan(sim) & ~null
    cat = np.where(nan, 0, np.where(null, 2, 1)).astype(np.int8)
    neg = np.where(cat == 1, -sim, 0.0)
    # lexsort is stable, and columns are in ascending id order
    return sim, null, np.lexsort((neg, cat), axis=1)


def _scored(
    v: np.ndarray, cmat: np.ndarray, cn: np.ndarray, metric: str, ansi: bool, name
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`_ranked` under ``metric``: for :data:`L2` the score is the
    squared distance, never NULL."""
    if metric == COSINE:
        return _ranked(v, cmat, cn, ansi, name)
    d = _sqdist(v, cmat)
    nan = np.isnan(d)
    return d, np.zeros(d.shape, dtype=bool), np.lexsort((np.where(nan, 0.0, d), ~nan), axis=1)


def _blocks(n_rows: int, k: int) -> Iterator[slice]:
    step = max(1, _BLOCK_CELLS // max(k, 1))
    for lo in range(0, n_rows, step):
        yield slice(lo, min(lo + step, n_rows))


def top_centroids(
    batches: Iterator[pa.RecordBatch],
    vec: str,
    id_col: str | None,
    ids: np.ndarray,
    cmat: np.ndarray,
    n: int,
    metric: str,
    ansi: bool,
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: every input row, repeated once for each of its
    ``min(n, K)`` nearest centroids, with ``centroid_id``, ``cent_sim``
    (the score under ``metric``) and ``crank`` (1 = nearest) appended.
    No centroids, no rows."""
    k = len(ids)
    top = min(n, k)
    cn = _norms(cmat)
    for batch in batches:
        if not top or not batch.num_rows:
            continue
        v = _vectors(batch, vec, id_col, cmat.shape[1], finite=False)
        for blk in _blocks(batch.num_rows, k):
            sim, null, order = _scored(
                v[blk], cmat, cn, metric, ansi, lambda i: _row_name(batch, id_col, blk.start + i)
            )
            cols = order[:, :top]
            rows = np.repeat(np.arange(cols.shape[0]), top)
            flat = cols.ravel()
            out = batch.slice(blk.start, cols.shape[0]).take(pa.array(rows))
            yield pa.RecordBatch.from_arrays(
                out.columns
                + [
                    pa.array(ids[flat]),
                    pa.array(sim[rows, flat], mask=null[rows, flat]),
                    pa.array(np.tile(np.arange(1, top + 1, dtype=np.int32), cols.shape[0])),
                ],
                names=out.schema.names + ["centroid_id", "cent_sim", "crank"],
            )


def _nearest(
    batch: pa.RecordBatch, v: np.ndarray, books, metric: str, ansi: bool, id_col: str | None
) -> np.ndarray:
    """Column index of every row's nearest centroid in each codebook of
    ``books`` (matrices of one width d0; codebook s scores dimensions
    ``s*d0`` to ``(s+1)*d0`` of ``v``): a (rows, len(books)) array."""
    best = np.empty((len(v), len(books)), dtype=np.int64)
    for s, cmat in enumerate(books):
        sub = v[:, s * cmat.shape[1] : (s + 1) * cmat.shape[1]]
        cn = _norms(cmat)
        for blk in _blocks(len(v), len(cmat)):
            best[blk, s] = _scored(
                sub[blk], cmat, cn, metric, ansi, lambda i: _row_name(batch, id_col, blk.start + i)
            )[2][:, 0]
    return best


CENTROID_SUMS_DDL = "s int, c int, n bigint, hi array<bigint>, lo array<bigint>"


def centroid_sums(
    batches: Iterator[pa.RecordBatch],
    vec: str,
    id_col: str | None,
    books: np.ndarray,
    metric: str,
    ansi: bool,
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body of one Lloyd round over a partition. ``books``
    is an (m, k, d0) array of m codebooks over consecutive d0-wide
    slices of the vector (k-means: one codebook over every dimension;
    PQ: one per subspace). Assign every vector to its nearest centroid
    of each codebook and sum ``floor(x * 1e6)`` per (codebook,
    centroid, dimension). Emits one row per touched centroid: codebook
    ``s``, column index ``c``, count ``n`` and the sums split exactly
    into int64 high and low 32-bit halves (``hi``, ``lo``), which cannot
    overflow below 2^31 rows in a partition; :func:`lloyd_means`
    recombines them."""
    m, k, d0 = books.shape
    n = np.zeros((m, k), dtype=np.int64)
    hi = np.zeros(books.shape, dtype=np.int64)
    lo = np.zeros(books.shape, dtype=np.int64)
    for batch in batches:
        if not k or not batch.num_rows:
            continue
        v = _vectors(batch, vec, id_col, m * d0, finite=True)
        best = _nearest(batch, v, books, metric, ansi, id_col)
        q = np.floor(v * MICRO)
        big = (np.abs(q) >= 2.0**63).any(axis=1)
        if big.any():
            i = int(np.flatnonzero(big)[0])
            raise OverflowError(
                f"vector {_row_name(batch, id_col, i)}: a component times 1e6 exceeds BIGINT"
            )
        q = q.astype(np.int64).reshape(len(v), m, d0)
        for s in range(m):
            n[s] += np.bincount(best[:, s], minlength=k)
            np.add.at(hi[s], best[:, s], q[:, s] >> 32)
            np.add.at(lo[s], best[:, s], q[:, s] & _LOW32)
    s, c = np.nonzero(n)
    if len(s):
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(s.astype(np.int32)),
                pa.array(c.astype(np.int32)),
                pa.array(n[s, c]),
                _lists(hi[s, c]),
                _lists(lo[s, c]),
            ],
            names=["s", "c", "n", "hi", "lo"],
        )


def pq_codes(
    batches: Iterator[pa.RecordBatch],
    vec: str,
    id_col: str,
    ids: list[np.ndarray],
    books: list[np.ndarray],
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body of PQ encoding (see :func:`codebook_arrays`
    for ``ids`` and ``books``): every row as (``id_col``, ``_vd`` the
    vector in double, ``codes`` the id of its nearest L2 codeword in
    each subspace)."""
    dim = sum(b.shape[1] for b in books)
    for batch in batches:
        if not batch.num_rows:
            continue
        v = _vectors(batch, vec, id_col, dim, finite=False)
        best = _nearest(batch, v, books, L2, False, id_col)  # L2 divides nothing
        codes = np.stack([ids[s][best[:, s]] for s in range(len(books))], axis=1)
        yield pa.RecordBatch.from_arrays(
            [batch.column(id_col), _lists(v), _lists(codes.astype(np.int32))],
            names=[id_col, "_vd", "codes"],
        )


def _lists(m: np.ndarray) -> pa.ListArray:
    """The rows of a 2-d array as an Arrow list column."""
    offsets = pa.array(np.arange(m.shape[0] + 1, dtype=np.int32) * m.shape[1])
    return pa.ListArray.from_arrays(offsets, pa.array(m.ravel()))


def codebook_table(ids: np.ndarray, books: np.ndarray) -> pa.Table:
    """(subspace, centroid_id, cent_vec) of an (m, k, d0) codebook array
    whose every subspace has the codeword ids ``ids``."""
    m, k, d0 = books.shape
    return pa.table(
        {
            "subspace": pa.array(np.repeat(np.arange(m, dtype=np.int32), k)),
            "centroid_id": pa.array(np.tile(ids, m)),
            "cent_vec": _lists(books.reshape(m * k, d0)),
        }
    )


def codebook_arrays(
    books: pa.Table, m: int, d0: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per subspace 0..m-1 of a collected (subspace, centroid_id,
    cent_vec) codebook, the (ids, matrix) of :func:`centroid_arrays`.
    A subspace without codewords, a codeword of a length other than
    ``d0`` or an id outside INT (codes are int) raises."""
    sub = books.column("subspace").combine_chunks().to_numpy(zero_copy_only=False)
    ids, mats = [], []
    for s in range(m):
        i, c = centroid_arrays(books.filter(pa.array(sub == s)))
        if not len(i) or c.shape[1] != d0:
            raise ValueError(
                f"codebook subspace {s}: {len(i)} codewords of length {c.shape[1]}, "
                f"expected length {d0}"
            )
        if i.min() < -(1 << 31) or i.max() >= 1 << 31:
            raise ValueError(f"codebook subspace {s}: a codeword id is outside INT")
        ids.append(i)
        mats.append(c)
    return ids, mats


def lloyd_means(books: np.ndarray, parts: pa.Table) -> np.ndarray:
    """The next (m, k, d0) codebooks from the :func:`centroid_sums` rows
    of every partition: per centroid the exact integer sum ``s`` over
    all partitions, then the micro-unit mean ``s / (1e6 * n)``. A
    centroid no vector chose keeps its vector. Raises when a sum leaves
    BIGINT."""
    m, k, d0 = books.shape
    at = (parts.column("s").to_numpy(), parts.column("c").to_numpy())

    def halves(name: str) -> np.ndarray:
        flat = parts.column(name).combine_chunks().flatten().to_numpy()
        return flat.reshape(parts.num_rows, d0).astype(object)

    n = np.zeros((m, k), dtype=np.int64)
    np.add.at(n, at, parts.column("n").to_numpy())
    s = np.zeros(books.shape, dtype=object)  # Python ints: exact at any size
    np.add.at(s, at, halves("hi") * (1 << 32) + halves("lo"))
    if ((s < -(1 << 63)) | (s >= 1 << 63)).any():
        raise OverflowError("k-means: a cluster's micro-unit sum exceeds BIGINT")
    out = books.copy()
    t = n > 0
    out[t] = s[t].astype(np.float64) / (MICRO * n[t].astype(np.float64))[:, None]
    return out
