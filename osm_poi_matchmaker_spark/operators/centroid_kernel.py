"""The nearest-centroid and pair-scoring kernel: scoring of vector rows
against a small centroid set, and of IVF list members against the
queries that probe their list, in NumPy over Arrow record batches. IVF
routing, k-means and the IVF probe rank by cosine; product quantization
ranks codewords by squared L2 distance. The caller picks the metric
(:data:`COSINE`, :data:`L2`).

This module runs inside Spark's Python workers (``mapInArrow``), so it
imports numpy and pyarrow only. The driver collects the centroids once
as an Arrow table (:func:`centroid_arrays` and :func:`codebook_arrays`
turn it into arrays) and binds them into :func:`top_centroids`,
:func:`centroid_sums` or :func:`pq_codes` with ``functools.partial``.
An IVF probe also collects its queries: :func:`probe_index` routes them
on the driver, and :func:`probe_lists` assigns, scores and pre-ranks
the lists in one pass over the corpus.

The arithmetic is the SQL form's, step for step, so every score is
bit-identical to ``aggregate(zip_with(...))`` in the JVM:

* every component is widened to double;
* ``dot``, the squared norms and the squared distance are sequential
  per-dimension folds from ``0.0``, ``acc = acc + v[d] * c[d]`` and
  ``acc = acc + (v[d] - c[d]) * (v[d] - c[d])`` (no BLAS, whose blocked
  summation changes the last bits);
* cosine: ``dot / (norm(a) * norm(b))``; a zero divisor raises
  ``DIVIDE_BY_ZERO`` under ANSI and gives a NULL score otherwise;
  order: NaN first, then descending cosine, then NULL;
* L2: NaN first, then ascending distance (the order
  ``array_max(struct(-d, -id))`` gives);
* ties by ascending centroid id (by ascending ``match_id`` in a probe).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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
        raise ValueError(f"vector {_row_name(batch, id_col, i)}: {what}, expected length {dim}")
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


def _cosine(
    a: np.ndarray, b: np.ndarray, an: np.ndarray, bn: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(sim, null) of the rows of ``a`` against the rows of ``b``, whose
    norms are ``an`` and ``bn``: null marks a zero divisor, where sim is
    undefined."""
    div = np.multiply.outer(an, bn)
    null = div == 0
    with np.errstate(divide="ignore", invalid="ignore"):
        return _fold(a, b) / div, null


def _rank_keys(sim: np.ndarray, null: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cat, neg): ascending sort keys of the desc-cosine order, NaN
    first (cat 0), then descending value (cat 1), then NULL (cat 2)."""
    nan = np.isnan(sim) & ~null
    cat = np.where(nan, 0, np.where(null, 2, 1)).astype(np.int8)
    return cat, np.where(cat == 1, -sim, 0.0)


def _ranked(
    v: np.ndarray, cmat: np.ndarray, cn: np.ndarray, ansi: bool, name
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cent_sim, null, order) of a block of vectors against every
    centroid: order[i] lists centroid columns best first."""
    sim, null = _cosine(v, cmat, _norms(v), cn)
    if ansi and null.any():
        i = int(np.flatnonzero(null.any(axis=1))[0])
        raise ArithmeticError(
            f"[DIVIDE_BY_ZERO] Division by zero: vector {name(i)} or a centroid has zero norm"
        )
    # lexsort is stable, and columns are in ascending id order
    return sim, null, np.lexsort(_rank_keys(sim, null)[::-1], axis=1)


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


class ProbeIndex(NamedTuple):
    """What an IVF probe binds into its kernel closure (see
    :func:`probe_index`)."""

    cmat: np.ndarray  # centroids, in ascending id order
    col_list: np.ndarray  # centroid column -> index into ``lists``
    lists: np.ndarray  # distinct centroid ids, ascending
    starts: np.ndarray  # queries probing list u: qrows[starts[u]:starts[u+1]]
    qrows: np.ndarray
    qids: pa.Array
    qmat: np.ndarray
    on: tuple  # per extra key: (name, distinct non-NULL query values, query codes)
    ansi: bool


def probe_index(
    queries: pa.Table,
    ids: np.ndarray,
    cmat: np.ndarray,
    nprobe: int,
    on: tuple[str, ...],
    ansi: bool,
) -> ProbeIndex:
    """Route the collected (query_id, q_vec, *on) rows to their
    ``nprobe`` nearest lists, the order of :func:`top_centroids`. A
    NULL query_id raises, naming the row (the join form dropped the
    query); so does a malformed q_vec. No centroids, no probes."""
    batch = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in queries.columns], names=queries.column_names
    )
    qids = batch.column("query_id")
    if qids.null_count:
        i = int(np.flatnonzero(qids.is_null().to_numpy(zero_copy_only=False))[0])
        raise ValueError(f"query row {i}: NULL query_id")
    n, top = batch.num_rows, min(nprobe, len(ids))
    cn = _norms(cmat)
    qmat = np.zeros((n, cmat.shape[1]))
    cols = np.zeros((n, top), dtype=np.int64)
    if top and n:
        qmat = _vectors(batch, "q_vec", "query_id", cmat.shape[1], finite=False)
        for blk in _blocks(n, len(ids)):
            name = lambda i: _row_name(batch, "query_id", blk.start + i)  # noqa: E731
            cols[blk] = _ranked(qmat[blk], cmat, cn, ansi, name)[2][:, :top]
    # duplicate centroid ids name one list, as in the equi-join
    lists, col_list = np.unique(ids, return_inverse=True)
    pair_list = col_list[cols].ravel()
    order = np.argsort(pair_list, kind="stable")
    keys = []
    for key in on:
        col = batch.column(key)
        values = pc.unique(col.drop_null())
        keys.append((key, values, _codes(col, values, -1)))
    return ProbeIndex(
        cmat=cmat,
        col_list=col_list,
        lists=lists,
        starts=np.searchsorted(pair_list[order], np.arange(len(lists) + 1)),
        qrows=np.repeat(np.arange(n), top)[order],
        qids=qids,
        qmat=qmat,
        on=tuple(keys),
        ansi=ansi,
    )


def _codes(col: pa.Array, values: pa.Array, null: int) -> np.ndarray:
    """Position of every entry of ``col`` in ``values``; ``null`` where
    it is NULL or absent."""
    at = pc.index_in(col.cast(values.type), value_set=values)
    return pc.fill_null(at, null).to_numpy(zero_copy_only=False)


def probe_lists(
    batches: Iterator[pa.RecordBatch],
    index: ProbeIndex,
    payload: str,
    route: str | None,
    keep: int,
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body of an IVF probe over list rows (match_id,
    ``payload``, ``route`` or centroid_id, and the index's ``on`` keys):
    assign every row to the nearest centroid of its ``route`` vector, or
    read the centroid_id it carries; score each list's members against
    the queries that probe that list, one (queries x members) block at a
    time; keep each query's ``keep`` best (match_id, query_id,
    cosine_sim) over the partition. Self-matches by id, and pairs whose ``on`` keys differ or
    are NULL, are never scored. Order: NaN first, then descending
    cosine, then NULL, then ascending match_id. A NULL match_id, or a
    NULL or malformed payload or route vector raises, naming the row."""
    ix = index
    dim = ix.cmat.shape[1]
    cn, qn = _norms(ix.cmat), _norms(ix.qmat)
    qkeys = ix.qids.to_numpy(zero_copy_only=False)
    pool = _Pool(keep)
    id_type = None
    for batch in batches:
        if not batch.num_rows or not len(ix.qrows):
            continue
        mids = batch.column("match_id")
        if mids.null_count:
            i = int(np.flatnonzero(mids.is_null().to_numpy(zero_copy_only=False))[0])
            raise ValueError(f"list row {i} of a batch: NULL match_id")
        id_type = mids.type
        if route is None:
            lst = _codes(batch.column("centroid_id"), pa.array(ix.lists), -1)
        else:
            v = _vectors(batch, route, "match_id", dim, finite=False)
            best = np.empty(len(v), dtype=np.int64)
            for blk in _blocks(len(v), len(ix.cmat)):
                name = lambda i: _row_name(batch, "match_id", blk.start + i)  # noqa: E731
                best[blk] = _ranked(v[blk], ix.cmat, cn, ix.ansi, name)[2][:, 0]
            lst = ix.col_list[best]
        p = v if payload == route else _vectors(batch, payload, "match_id", dim, finite=False)
        pn = _norms(p)
        mkeys = mids.to_numpy(zero_copy_only=False)
        mon = [_codes(batch.column(key), values, -2) for key, values, _ in ix.on]
        order = np.argsort(lst, kind="stable")
        bounds = np.searchsorted(lst[order], np.arange(len(ix.lists) + 1))
        for u in np.flatnonzero((np.diff(bounds) > 0) & (np.diff(ix.starts) > 0)):
            q = ix.qrows[ix.starts[u] : ix.starts[u + 1]]
            members = order[bounds[u] : bounds[u + 1]]
            for blk in _blocks(len(members), len(q)):
                m = members[blk]
                valid = np.not_equal.outer(qkeys[q], mkeys[m])
                for (_, _, qcodes), mcodes in zip(ix.on, mon):
                    valid &= np.equal.outer(qcodes[q], mcodes[m])
                sim, null = _cosine(ix.qmat[q], p[m], qn[q], pn[m])
                if ix.ansi and (null & valid).any():
                    i, j = (int(x[0]) for x in np.nonzero(null & valid))
                    raise ArithmeticError(
                        f"[DIVIDE_BY_ZERO] Division by zero: query_id={qkeys[q[i]]} "
                        f"or vector match_id={mkeys[m[j]]} has zero norm"
                    )
                qi, mj = np.nonzero(valid)
                pool.add(q[qi], mkeys[m[mj]], sim[qi, mj], null[qi, mj])
    q, m, sim, null = pool.cut()
    if len(q):
        # match_id first: rows sorted by query_id then compress ~1%
        # smaller in the top-k window's shuffle
        yield pa.RecordBatch.from_arrays(
            [pa.array(m, type=id_type), ix.qids.take(pa.array(q)), pa.array(sim, mask=null)],
            names=["match_id", "query_id", "cosine_sim"],
        )


class _Pool:
    """Scored pairs of a partition, cut to each query row's ``keep``
    best whenever the uncut rows pass a block, so it stays within a
    block plus the rows kept."""

    def __init__(self, keep: int):
        self.keep = keep
        self.parts: list[tuple] = []
        self.kept = self.rows = 0

    def add(self, q, m, sim, null) -> None:
        self.parts.append((q, m, sim, null))
        self.rows += len(q)
        if self.rows > max(_BLOCK_CELLS, 2 * self.kept):
            self.parts = [self.cut()]
            self.kept = self.rows = len(self.parts[0][0])

    def cut(self) -> tuple[np.ndarray, ...]:
        if not self.parts:
            return np.zeros(0, dtype=np.int64), np.zeros(0), np.zeros(0), np.zeros(0, bool)
        q, m, sim, null = (np.concatenate(c) for c in zip(*self.parts))
        cat, neg = _rank_keys(sim, null)
        # ascending match_id: the ids themselves, or their sorted codes
        mk = m if m.dtype.kind in "biuf" else np.unique(m, return_inverse=True)[1]
        order = np.lexsort((mk, neg, cat, q))
        qs = q[order]
        first = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        rank = np.arange(len(qs)) - np.repeat(first, np.diff(np.r_[first, len(qs)]))
        take = order[rank < self.keep]
        return q[take], m[take], sim[take], null[take]


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
