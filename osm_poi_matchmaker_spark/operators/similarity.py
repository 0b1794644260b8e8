"""Embedding similarity search (ANN) over ``array<float>`` columns.

Baseline: brute-force cosine top-k via built-in array expressions
(``zip_with`` dot product, JVM-side). Scale paths: LSH-style bucketing on
sign-random-projections, so candidate generation is a bucket join
instead of all-pairs (the tiling layer's cell join with bucket key =
quantized signature); and the IVF family, whose nearest-centroid routing,
k-means and PQ rounds, PQ encoding and list probe are the NumPy kernel
of :mod:`.centroid_kernel` over Arrow batches (``mapInArrow``),
bit-identical to the SQL fold.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import centroid_kernel

# The kernel ships to the Python workers by value: they need numpy and
# pyarrow, not this package on their path.
cloudpickle.register_pickle_by_value(centroid_kernel)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side, score the whole
    corpus, per-query window. At 100 TB the corpus side stays partitioned;
    only queries broadcast. Self-matches (same key) are excluded.

    Returns (query_id, match_id, cosine_sim, rank).
    """
    q = queries.select(
        F.col(query_key).alias("query_id"), F.col(vec).alias("q_vec")
    )
    c = corpus.select(F.col(corpus_key).alias("match_id"), F.col(vec).alias("c_vec"))
    return _topk(
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec"))),
        k,
    )


def _ranked(scored: DataFrame) -> DataFrame:
    """Per-query rank of scored (query_id, match_id, cosine_sim) pairs:
    desc cosine, asc match_id — the one final ordering every ANN path
    shares."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("match_id"))
    return scored.withColumn("rank", F.row_number().over(w))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, match_id, cosine_sim rounded to 6 places, rank) for the
    ``k`` best pairs of each query."""
    return (
        _ranked(scored)
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


# SRP plane-weight hash constants: Knuth's multiplicative constant +
# a quadratic plane term, mod 2^32. The previous family
# (((i+1)*(b+3)) % 7 < 4) had PERIOD 7 IN THE PLANE INDEX — only seven
# distinct hyperplanes existed, so adding bits or bands beyond 7 added
# pure repetition (measured recall@5 froze at 0.08 regardless of
# settings). This family gives distinct pseudo-random planes for every
# (plane, dim) in range; all arithmetic stays in int64 (max operand
# ~1.6e13) and is reproduced verbatim by the DuckDB oracle
# (oracles_docs._srp_sig).
_SRP_MULT = 2654435761
_SRP_QUAD = 40503
_SRP_MOD = 1 << 32
_SRP_HALF = 1 << 31


def srp_signature(vec: Column, dim: int, bits: int = 8, plane_offset: int = 0) -> Column:
    """Sign-random-projection signature without external randomness:
    plane p (globally indexed ``plane_offset + b``) uses deterministic
    ±1 weights ``w(p, i) = +1 iff ((i+1)*_SRP_MULT*(p+1) +
    _SRP_QUAD*(p+1)²) mod 2^32 < 2^31`` — fixed, engine-portable
    arithmetic. ``plane_offset`` gives multi-band callers (lsh_topk's
    OR-construction) disjoint plane sets per band. Returns a
    ``bits``-char '0'/'1' string bucket key."""
    def bit(b: int) -> Column:
        p1 = plane_offset + b + 1
        s = F.aggregate(
            F.transform(
                vec,
                lambda x, i: x.cast("double")
                * F.when(
                    ((i + 1) * F.lit(_SRP_MULT * p1) + F.lit(_SRP_QUAD * p1 * p1))
                    % F.lit(_SRP_MOD)
                    < F.lit(_SRP_HALF),
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[bit(b) for b in range(bits)])


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _seed_cents(corpus: DataFrame, key: str, vec: str, centroid_mod: int) -> DataFrame:
    """The deterministic ``key % centroid_mod == 1`` centroids every IVF
    path starts from: (centroid_id, cent_vec)."""
    return corpus.where(F.col(key) % centroid_mod == 1).select(
        F.col(key).alias("centroid_id"), F.col(vec).alias("cent_vec")
    )


def _centroid_arrays(cents: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """The centroids collected to the driver: (ids, matrix)."""
    return centroid_kernel.centroid_arrays(cents.select("centroid_id", "cent_vec").toArrow())


def _ansi(df: DataFrame) -> bool:
    return df.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"


def _nearest_centroids(
    vectors: DataFrame, cents: DataFrame, vec: str, n: int = 1
) -> DataFrame:
    """Top-``n`` centroids of every row of ``vectors``. Returns the input
    columns plus ``centroid_id``, ``cent_sim`` and ``crank`` (1 =
    nearest): one row per vector when ``n`` == 1, ``min(n, K)``
    otherwise; no centroids, no rows.

    Scale shape: the ~√N centroids are collected to the driver once per
    call and travel inside the task closure; every partition scores its
    rows in NumPy over Arrow batches
    (:func:`.centroid_kernel.top_centroids`, the double arithmetic of
    :func:`cosine` and the order of a ``desc`` sort), so the vectors are
    routed where they lie: no join, no shuffle, and the rows x K score block
    stays a few MB at any K. A NULL vector, a NULL component or a
    length other than the centroids' raises, naming the row by the
    first column other than ``vec``."""
    ids, cmat = _centroid_arrays(cents)
    schema = T.StructType(
        vectors.schema.fields
        + [
            T.StructField("centroid_id", cents.schema["centroid_id"].dataType),
            T.StructField("cent_sim", T.DoubleType()),
            T.StructField("crank", T.IntegerType()),
        ]
    )
    kernel = partial(
        centroid_kernel.top_centroids,
        vec=vec,
        id_col=next((c for c in vectors.columns if c != vec), None),
        ids=ids,
        cmat=cmat,
        n=n,
        metric=centroid_kernel.COSINE,
        ansi=_ansi(vectors),
    )
    return vectors.mapInArrow(kernel, schema)


def _assign_to_centroids(
    vectors: DataFrame, cents: DataFrame, key: str, vec: str
) -> DataFrame:
    """Nearest-centroid assignment (desc cosine, asc centroid_id ties):
    (vid, v, centroid_id). ``cents`` must be (centroid_id, cent_vec)."""
    return _nearest_centroids(
        vectors.select(F.col(key).alias("vid"), F.col(vec).alias("v")), cents, "v"
    ).select("vid", "v", "centroid_id")


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    centroid_mod: int = 100,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Fixed-iteration distributed Lloyd refinement of the modulo-seeded
    centroids (VERDICT r4 "Next round" #1): start from the deterministic
    ``key % centroid_mod == 1`` seeds every IVF path already uses, then run
    ``iters`` rounds of (assign to nearest centroid → per-cluster mean).
    Trained centroids buy recall at equal ``nprobe`` — the FAISS training
    step re-expressed as pure DataFrame work.

    Oracle-reproducible by construction, which is the whole trick:

    * fixed iteration count (no convergence test — no data-dependent
      control flow for an engine to diverge on);
    * assignment ties break (desc cosine, asc centroid_id) like every
      other ANN path, and the cosine fold is element-ordered double
      arithmetic both engines execute identically;
    * the MEAN is the one step where naive float summation would be
      aggregation-order-dependent (Spark partial aggregates sum in
      shuffle order; DuckDB in scan order), so each component is
      quantized to ``floor(x · 1e6)`` BIGINT, summed exactly and divided
      once, ``s / (1e6 · n)`` — bit-identical on any engine, any
      partitioning, any core count; the 1e-6 quantization is far below
      any recall-relevant resolution.
    * empty clusters keep their previous centroid.

    Scale shape: the ~√N seeds are collected to the driver once, and
    each round is ONE job with no shuffle, the MLlib Lloyd shape
    (:func:`_lloyd`). A call runs ``iters`` + 1 jobs and returns the K
    rows as a local relation. Training refuses what it cannot place: a
    NULL vector, a NULL, NaN or infinite component, a length other than
    the centroids', or a sum that leaves BIGINT raises, naming the
    vector where there is one. ``dim`` does not shape the work; it
    stays for call compatibility.

    Returns (centroid_id, cent_vec array<double>) — centroid ids remain
    the seed vec_ids, so downstream list/bucket naming is stable across
    retraining.
    """
    cents = _seed_cents(corpus, key, vec, centroid_mod).select(
        "centroid_id", _to_double(F.col("cent_vec")).alias("cent_vec")
    )
    ids, cmat = _centroid_arrays(cents)
    books = _lloyd(corpus.select(key, vec), cmat[None], iters, key, vec, centroid_kernel.COSINE)
    # from Arrow the K rows are a LocalRelation, which later collects
    # read without a job
    return corpus.sparkSession.createDataFrame(
        centroid_kernel.codebook_table(ids, books).drop_columns(["subspace"]), cents.schema
    )


def _lloyd(
    vectors: DataFrame, books: np.ndarray, iters: int, key: str, vec: str, metric: str
) -> np.ndarray:
    """``iters`` Lloyd rounds of the (m, k, d0) codebooks ``books`` over
    ``vectors`` under ``metric``, each ONE job with no shuffle: every
    partition assigns its vectors with the NumPy kernel and emits one
    row of exact BIGINT micro-unit sums per touched centroid
    (:func:`.centroid_kernel.centroid_sums`); the driver adds the
    partials and divides once (:func:`.centroid_kernel.lloyd_means`)."""
    kernel = partial(
        centroid_kernel.centroid_sums, vec=vec, id_col=key, metric=metric, ansi=_ansi(vectors)
    )
    for _ in range(iters):
        parts = vectors.mapInArrow(
            partial(kernel, books=books), centroid_kernel.CENTROID_SUMS_DDL
        ).toArrow()
        books = centroid_kernel.lloyd_means(books, parts)
    return books


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into inverted
    lists keyed by nearest centroid; a query probes only its ``nprobe``
    closest lists and ranks exactly inside them.

    Centroids are picked deterministically (``vec_id % centroid_mod == 1``)
    instead of k-means so the oracle can reproduce the exact lists — the
    scale structure (assign once, bucket the corpus by ``centroid_id``,
    probe few lists per query) is identical to a trained-centroid IVF.

    Scale shape: see :func:`_probe`. The queries are routed on the
    driver and the corpus is assigned, scored and pre-ranked where it
    lies, in one kernel pass; nothing shuffles but the final per-query
    top-k window, which sees at most ``k`` rows per query from each
    partition. At 100 TB the corpus is written bucketed by
    ``centroid_id`` so probing is a partition-pruned scan.

    ``cents`` overrides the modulo-seeded centroids with a trained set
    (:func:`kmeans_centroids`) — schema (centroid_id, cent_vec); the
    probe structure is identical either way.

    Returns (query_id, match_id, cosine_sim, rank).
    """
    if cents is None:
        cents = _seed_cents(corpus, corpus_key, vec, centroid_mod)
    lists = corpus.select(F.col(corpus_key).alias("match_id"), F.col(vec).alias("c_vec"))
    q = queries.select(F.col(query_key).alias("query_id"), F.col(vec).alias("q_vec"))
    return _topk(_probe(lists, q, cents, nprobe, "c_vec", k, route="c_vec"), k)


def _probe(
    lists: DataFrame,
    q: DataFrame,
    cents: DataFrame,
    nprobe: int,
    payload: str,
    keep: int,
    route: str | None = None,
    on: tuple[str, ...] = (),
) -> DataFrame:
    """Pre-ranked pairs of an IVF probe, (match_id, query_id,
    cosine_sim): every query row of ``q`` (query_id, q_vec, *on) takes
    its ``nprobe`` nearest lists and meets their members among the rows
    of ``lists`` (match_id, ``payload``, *on, and either a ``route``
    vector or the ``centroid_id`` of a stored list); ``cosine_sim`` =
    cosine(q_vec, payload). Self-matches by id are excluded, and a pair
    must agree on every ``on`` key (a NULL matches nothing). Each
    partition returns each query row's ``keep`` best pairs in the
    :func:`_ranked` order, so a window over the result ranks the same
    top ``keep`` as over every pair.

    Scale shape: the query side is collected to the driver and routed
    there (the same bound as the broadcast it replaces), then travels
    with the centroids in the closure of ONE ``mapInArrow`` over the
    list rows (:func:`.centroid_kernel.probe_lists`): a row is assigned
    to its list, scored against only the queries that probe that list
    and pre-ranked where it lies: no join, no shuffle. Stored lists are
    filtered to the probed ``centroid_id`` values first, so a scan of
    a table sorted or bucketed by list skips the rest. A NULL id, or a
    NULL or malformed vector, raises, naming the row."""
    ids, cmat = _centroid_arrays(cents)
    index = centroid_kernel.probe_index(
        q.select("query_id", "q_vec", *on).toArrow(), ids, cmat, nprobe, on, _ansi(q)
    )
    schema = T.StructType(
        [
            lists.schema["match_id"],
            q.schema["query_id"],
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    kernel = partial(
        centroid_kernel.probe_lists, index=index, payload=payload, route=route, keep=keep
    )
    if route is None:
        # a stored list's rows are read only when a query probes it
        probed = index.lists[np.diff(index.starts) > 0].tolist()
        lists = lists.where(F.col("centroid_id").isin(probed))
    cols = dict.fromkeys(["match_id", payload, route or "centroid_id", *on])
    return lists.select(*cols).mapInArrow(kernel, schema)


def embedding_cosine_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.9,
    bits: int = 4,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, candidates
    restricted to the same SRP bucket (high-cosine pairs land in the same
    bucket with high probability; few sign bits keeps recall high). The
    bucket self-join replaces all-pairs — at 100 TB, bucket the vector
    table by ``sig`` and the join is co-located.

    Returns (vec_a, vec_b, cosine_sim) with vec_a < vec_b.
    """
    base = vectors.select(
        F.col(key), F.col(vec).alias("v"), srp_signature(F.col(vec), dim, bits).alias("sig")
    )
    a = base.select(F.col(key).alias("vec_a"), F.col("v").alias("va"), "sig")
    b = base.select(F.col(key).alias("vec_b"), F.col("v").alias("vb"), "sig")
    return (
        a.join(b, "sig")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_sim", cosine(F.col("va"), F.col("vb")))
        .where(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine_sim", 6).alias("cosine_sim"))
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 6,
    bands: int = 16,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k via banded SRP-LSH (the AND-OR construction):
    ``bands`` independent ``bits``-plane signatures per vector; a corpus
    vector is a candidate iff it shares ANY band bucket with the query,
    then exact cosine ranks the candidates. One band (bands=1) is the
    single-bucket form; more bands raise recall (OR over bands), more
    bits sharpen each bucket (AND within a band) — exactly MinHash-LSH's
    banding knobs (operators/dedup.py), tuned with :func:`ann_recall`.
    Defaults (6 bits × 16 bands) measure recall@5 = 0.54 on the synth
    embeddings (vs 0.08 for the old single 8-bit bucket) while scoring
    ~22% of the corpus per query — see BENCH.md; IVF/SQ8 remain the
    recommended paths at higher recall.

    Scale shape: the corpus side explodes to ``bands`` rows, joins the
    (broadcast) query bands on (band, sig), and candidate pairs dedupe
    BEFORE scoring — each surviving pair is scored once. At 100 TB the
    corpus is written bucketed by (band, sig) so the probe is a pruned
    scan, not a shuffle.

    Returns (query_id, match_id, cosine_sim, rank) — approximate: vectors
    sharing no band bucket with the query are not considered.
    """
    def band_structs(v: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(g).alias("band"),
                    srp_signature(v, dim, bits, plane_offset=g * bits).alias("sig"),
                )
                for g in range(bands)
            ]
        )

    q = queries.select(
        F.col(query_key).alias("query_id"),
        F.col(vec).alias("q_vec"),
        F.explode(band_structs(F.col(vec))).alias("qb"),
    ).select("query_id", "q_vec", F.col("qb.band").alias("band"), F.col("qb.sig").alias("sig"))
    c = corpus.select(
        F.col(corpus_key).alias("match_id"),
        F.col(vec).alias("c_vec"),
        F.explode(band_structs(F.col(vec))).alias("cb"),
    ).select("match_id", "c_vec", F.col("cb.band").alias("band"), F.col("cb.sig").alias("sig"))
    cand = (
        c.join(F.broadcast(q), ["band", "sig"])
        .where(F.col("query_id") != F.col("match_id"))
        # a pair can collide in several bands — score it once
        .dropDuplicates(["query_id", "match_id"])
    )
    return _topk(cand.withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec"))), k)


def _sq8_dims(corpus: DataFrame, vec: str) -> DataFrame:
    """Per-dimension global [min, max] of the corpus as one broadcastable
    row of two arrays (mn, mx): posexplode + groupBy(pos) — partial
    aggregation ships dim rows per map partition."""
    return (
        corpus.select(F.posexplode(F.col(vec)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_mns"),
            F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_mxs"),
        )
        .select(
            F.transform("_mns", lambda s: s.mn).alias("mn"),
            F.transform("_mxs", lambda s: s.mx).alias("mx"),
        )
    )


def _sq8_recon(v: Column) -> Column:
    """``v`` through its SQ8 code and back, against the (mn, mx) columns of
    :func:`_sq8_dims`: code ``floor((x-mn)/(mx-mn)*255+0.5)``, value
    ``mn + code*(mx-mn)/255``; constant dimensions (mx==mn) reconstruct
    to mn exactly."""
    mn_i = lambda i: F.element_at(F.col("mn"), i + 1)  # noqa: E731
    mx_i = lambda i: F.element_at(F.col("mx"), i + 1)  # noqa: E731
    code = lambda x, i: F.floor(  # noqa: E731
        (x.cast("double") - mn_i(i)) / (mx_i(i) - mn_i(i)) * F.lit(255.0)
        + F.lit(0.5)
    )
    return F.transform(
        v,
        lambda x, i: F.when(
            mx_i(i) > mn_i(i),
            mn_i(i) + (code(x, i) * (mx_i(i) - mn_i(i))) / F.lit(255.0),
        ).otherwise(mn_i(i)),
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k over an int8 scalar-quantized corpus (SQ8 + asymmetric
    distance, the FAISS ``SQ8`` layout re-expressed relationally).

    At 100 TB the embedding column IS the table: float32×dim per row.
    SQ8 stores one byte per dimension (4× smaller scans, shuffles and
    cache) at a small recall cost that :func:`ann_recall` makes
    measurable. Codes: per-DIMENSION global [min,max] over the corpus
    (one aggregate pass, broadcast back as two arrays), then
    ``floor((x-mn)/(mx-mn)*255+0.5)``. Scoring is asymmetric: the query
    stays full-precision, the corpus vector is reconstructed
    (``mn + code*(mx-mn)/255``) inside the scan — JVM-side array
    expressions end to end, no Python. Constant dimensions (mx==mn)
    reconstruct to mn exactly.

    Deterministic by construction (floor, not round-half-even), so the
    DuckDB oracle reproduces codes bit-exactly. Returns
    (query_id, match_id, cosine_sim, rank) like the other ANN paths.
    """
    c = (
        corpus.select(F.col(corpus_key).alias("match_id"), F.col(vec).alias("c_vec"))
        .crossJoin(F.broadcast(_sq8_dims(corpus, vec)))
        .select("match_id", _sq8_recon(F.col("c_vec")).alias("r_vec"))
    )
    q = queries.select(F.col(query_key).alias("query_id"), F.col(vec).alias("q_vec"))
    return _topk(
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("r_vec"))),
        k,
    )


def ivf_sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF × SQ8 composed (FAISS ``IVF,SQ8`` re-expressed relationally):
    inverted lists PRUNE (only ``nprobe`` lists per query are scanned)
    and the list payload is COMPRESSED (one int8 code per dimension, 4×
    smaller than float32) — the production ANN recommendation, replacing
    the either/or of :func:`ivf_topk` (prunes, full-precision payload)
    and :func:`sq8_topk` (compresses, scans everything). VERDICT r3
    "Next round" #2.

    Composition order matches FAISS: list ASSIGNMENT uses the
    full-precision vector against full-precision centroids (assignment
    happens at add time, before quantization); list STORAGE is the SQ8
    code; probe-time scoring is asymmetric — the query stays
    full-precision, the stored vector is reconstructed
    (``mn + code*(mx-mn)/255``) inside the scan. Codes use the same
    floor-exact per-dimension global [min,max] as :func:`sq8_topk`, so
    the DuckDB oracle reproduces them bit-identically.

    Scale shape: centroids (~√N rows) and the per-dim [mn,mx] arrays
    (2×dim doubles) broadcast; the corpus shuffles ONCE at write time
    (bucketed by ``centroid_id``, int8 payload); a probe reads
    nprobe/√N of a 4×-smaller table — both the scan-bytes and the
    candidate count shrink, multiplicatively.

    Returns (query_id, match_id, cosine_sim, rank); cosine is against
    the reconstruction, as in any asymmetric-distance index.
    """
    if cents is None:
        cents = _seed_cents(corpus, corpus_key, vec, centroid_mod)
    # Inverted-list assignment at full precision; payload reconstructed
    # through the SQ8 code (what a stored int8 list yields at probe time).
    lists = (
        corpus.select(F.col(corpus_key).alias("match_id"), F.col(vec).alias("c_vec"))
        .crossJoin(F.broadcast(_sq8_dims(corpus, vec)))
        .select("match_id", "c_vec", _sq8_recon(F.col("c_vec")).alias("r_vec"))
    )
    q = queries.select(F.col(query_key).alias("query_id"), F.col(vec).alias("q_vec"))
    return _topk(_probe(lists, q, cents, nprobe, "r_vec", k, route="c_vec"), k)


def ivf_topk_filtered(
    queries: DataFrame,
    corpus: DataFrame,
    filter_col: str = "label",
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """FILTERED vector search (round 5): :func:`ivf_topk` with a
    metadata equality predicate — each query only matches corpus rows
    sharing its ``filter_col`` value (the tenant/language/category
    filter every production vector store bolts onto ANN). The filter
    is a probe key next to the list (a NULL matches nothing), so
    non-matching candidates are never scored, rather than being
    post-filtered out of an already-scored top-k (post-filtering
    under-fills k whenever the filter is selective).

    Centroids stay global (the standard single-index design); at
    100 TB the corpus is written bucketed by (filter_col, centroid_id)
    and a filtered probe is a partition-pruned scan of one tenant's
    lists. Returns (query_id, match_id, cosine_sim, rank) — per-query
    rows can be fewer than k when the filtered list slice is small,
    which is the correct semantics.
    """
    if cents is None:
        cents = _seed_cents(corpus, corpus_key, vec, centroid_mod)
    lists = corpus.select(
        F.col(corpus_key).alias("match_id"),
        F.col(vec).alias("c_vec"),
        F.col(filter_col).alias("_fv"),
    )
    q = queries.select(
        F.col(query_key).alias("query_id"),
        F.col(vec).alias("q_vec"),
        F.col(filter_col).alias("_fv"),
    )
    return _topk(_probe(lists, q, cents, nprobe, "c_vec", k, route="c_vec", on=("_fv",)), k)


def ivf_knn_join(
    vectors: DataFrame,
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Approximate kNN SELF-JOIN: top-k neighbors for EVERY vector, with
    candidate generation through the IVF lists instead of all-pairs —
    the batch shape semantic-dedup/recommendation backfills need (N×k
    output from ~N·nprobe·(N/K) scored pairs instead of N²).

    Both sides share ONE ranking expression; the probe side takes each
    vector's ``nprobe`` nearest lists, its first list is the
    assignment, and the join is a bucketed equi-join on
    ``centroid_id``. At 100 TB both sides read the same
    (centroid_id)-bucketed table — co-located, no shuffle beyond the
    ranking. Returns (query_id, match_id, cosine_sim, rank).
    """
    if cents is None:
        cents = _seed_cents(vectors, key, vec, centroid_mod)
    ranked = _nearest_centroids(
        vectors.select(F.col(key).alias("vid"), F.col(vec).alias("v")), cents, "v", nprobe
    )
    assigned = ranked.where(F.col("crank") == 1).select(
        F.col("vid").alias("match_id"), F.col("v").alias("c_vec"), "centroid_id"
    )
    probes = ranked.select(
        F.col("vid").alias("query_id"), F.col("v").alias("q_vec"), "centroid_id"
    )
    return _topk(
        assigned.join(probes, "centroid_id")
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec"))),
        k,
    )


def ivf_index_stats(
    corpus: DataFrame,
    centroid_mod: int = 100,
    key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Index-health read-off: per-list occupancy of the IVF layout plus
    the imbalance factor FAISS reports (Σ size² · K / N² — 1.0 is
    perfectly balanced; probe cost scales with it, since a query pays
    the sizes of the lists it probes). Mega-lists are the embedding-
    space twin of the tiling layer's mega-cells: this is the read-off
    that says whether the salting/split treatment is needed BEFORE a
    probe-latency regression does. One groupBy over the assignment —
    partial-aggregated, K rows out.

    Returns one row per centroid (centroid_id, list_size, pct_of_corpus,
    imbalance_factor — the factor repeated per row so the frame stays a
    plain per-list table).
    """
    if cents is None:
        cents = _seed_cents(corpus, key, vec, centroid_mod)
    assigned = _assign_to_centroids(corpus, cents, key, vec)
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("list_size")
    )
    totals = sizes.agg(
        F.sum("list_size").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("list_size") * F.col("list_size")).alias("_ss"),
    )
    # N² in double: BIGINT squares overflow past ~3e9 corpus rows.
    n = F.col("_n").cast("double")
    return sizes.crossJoin(F.broadcast(totals)).select(
        "centroid_id",
        "list_size",
        F.round(F.col("list_size") / F.col("_n"), 6).alias("pct_of_corpus"),
        F.round(F.col("_ss").cast("double") * F.col("_k") / (n * n), 6).alias(
            "imbalance_factor"
        ),
    )


def ivf_index_append(
    corpus: DataFrame,
    batch: DataFrame,
    centroid_mod: int = 100,
    key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Incremental IVF ingest: assign an arriving batch to the SETTLED
    index's lists — centroids come from the corpus snapshot, cost is
    proportional to the BATCH (|batch| × K cosines against the
    collected centroids), the corpus is never re-scanned or re-shuffled. The
    ANN-family member of the ``lsh_index_probe`` /
    ``semantic_index_probe`` ingest shape; at 100 TB the returned
    assignments append straight into the (centroid_id)-bucketed list
    table (a partition-local append — FAISS ``add`` semantics).

    Returns (vec_id, centroid_id, cent_sim) — the list each new vector
    joins and its similarity to that list's centroid (the routing
    confidence; a batch full of low cent_sim rows is the drift signal
    that says the centroids need retraining).
    """
    if cents is None:
        cents = _seed_cents(corpus, key, vec, centroid_mod)
    return _nearest_centroids(batch.select(key, vec), cents, vec).select(
        key, "centroid_id", F.round("cent_sim", 6).alias("cent_sim")
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    sub_mod: int = 31,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (FAISS ``PQ`` training re-expressed
    relationally): the vector splits into ``m`` contiguous subspaces of
    ``dim/m`` dimensions; each subspace gets its own codebook, seeded
    from the ``key % sub_mod == 1`` corpus rows' sub-vectors and refined
    by ``iters`` rounds of L2 Lloyd (assign each sub-vector to its
    nearest sub-centroid, then per-cluster mean). Same determinism
    contract as :func:`kmeans_centroids` — fixed iteration count,
    (asc distance, asc centroid_id) ties, integer micro-unit mean
    quantization — so the DuckDB oracle reproduces every codebook
    component bit-for-bit.

    Scale shape: codebooks are m×k rows of dim/m doubles (KB); the
    seeds are collected to the driver once and each round is one job
    with no shuffle (:func:`_lloyd`, every subspace in the same pass),
    so a call runs ``iters`` + 1 jobs and returns the codebooks as a
    local relation. Training refuses the same malformed vectors as
    :func:`kmeans_centroids`, naming the vector.

    Returns (subspace, centroid_id, cent_vec array<double>) —
    centroid ids remain the seed vec_ids.
    """
    d0 = dim // m
    if d0 * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    seeds = corpus.where(F.col(key) % sub_mod == 1).select(
        F.col(key).alias("centroid_id"), F.col(vec).alias("cent_vec")
    )
    ids, smat = _centroid_arrays(seeds)
    if not len(ids):
        # An empty seed set would leave every code undefined (seen when
        # a training subsample's id residues don't intersect
        # `% sub_mod == 1`). Fail loudly — same contract as the
        # streaming twins' empty-corpus refusal.
        raise ValueError(
            f"pq_codebooks: no seed rows ({key} % {sub_mod} == 1 selects "
            "none of the training corpus) — check the subsample scheme"
        )
    if smat.shape[1] != dim:
        raise ValueError(f"vector {key}={ids[0]}: length {smat.shape[1]}, dim is {dim}")
    books = _lloyd(
        corpus.select(key, vec),
        smat.reshape(len(ids), m, d0).transpose(1, 0, 2).copy(),
        iters,
        key,
        vec,
        centroid_kernel.L2,
    )
    schema = T.StructType(
        [
            T.StructField("subspace", T.IntegerType()),
            T.StructField("centroid_id", seeds.schema["centroid_id"].dataType),
            T.StructField("cent_vec", T.ArrayType(T.DoubleType())),
        ]
    )
    return corpus.sparkSession.createDataFrame(
        centroid_kernel.codebook_table(ids, books), schema
    )


def _books_map(books: DataFrame) -> DataFrame:
    """A codebook as one broadcastable row ``_bkv`` (subspace →
    (centroid_id → cent_vec)) for reconstruction. Nested maps, so no
    composite key can collide at any codeword id."""
    return books.groupBy("subspace").agg(
        F.map_from_entries(F.collect_list(F.struct("centroid_id", "cent_vec"))).alias("kv")
    ).agg(F.map_from_arrays(F.collect_list("subspace"), F.collect_list("kv")).alias("_bkv"))


def pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    dim: int,
    m: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` sub-centroid ids (the PQ code —
    m bytes at k≤256 where float32 storage is 4·dim). The codebook is
    collected to the driver once and the per-subspace argmin (asc L2,
    asc centroid_id ties) is the NumPy kernel
    (:func:`.centroid_kernel.pq_codes`), so encoding is one
    ``mapInArrow`` projection — no join, no shuffle. A NULL vector, a
    NULL component or a length other than ``dim`` raises, naming the
    vector.

    Returns (key, _vd array<double>, codes array<int>)."""
    ids, mats = centroid_kernel.codebook_arrays(
        books.select("subspace", "centroid_id", "cent_vec").toArrow(), m, dim // m
    )
    schema = T.StructType(
        [
            corpus.schema[key],
            T.StructField("_vd", T.ArrayType(T.DoubleType())),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )
    kernel = partial(centroid_kernel.pq_codes, vec=vec, id_col=key, ids=ids, books=mats)
    return corpus.select(key, vec).mapInArrow(kernel, schema)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    centroid_mod: int = 100,
    nprobe: int = 2,
    m: int = 8,
    sub_mod: int = 31,
    pq_iters: int = 2,
    query_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec: str = "embedding",
    cents: DataFrame | None = None,
    books: DataFrame | None = None,
    refine: int = 0,
) -> DataFrame:
    """IVF × PQ composed (FAISS ``IVF,PQ``): inverted lists PRUNE
    (nprobe lists per query) and the list payload is the m-byte PQ code
    — 4·dim/m × smaller than float32 (32× at dim=64, m=8), the deepest
    compression point of the ANN family (exact > SQ8 4× > PQ 32×), its
    recall cost made measurable by :func:`ann_recall`.

    Composition order matches FAISS: coarse ASSIGNMENT at full
    precision (pass trained ``cents`` from :func:`kmeans_centroids`
    for the full production composition); the stored payload is the PQ
    code; probe-time scoring is asymmetric — full-precision query
    against the code's reconstruction (concatenated sub-centroids).
    Everything deterministic, so the DuckDB oracle composes the
    trained-centroid chain and the codebook chain bit-identically.

    Scale shape: the codebooks broadcast and the probe is
    :func:`_probe` (coarse centroids and queries on the driver, one
    kernel pass over the coded corpus); the corpus shuffles once at
    write (bucketed by ``centroid_id``, m-byte payload); a probe reads
    nprobe/√N of a 32×-smaller table.

    ``refine`` > 0 adds the FAISS ``IndexRefineFlat`` step: the PQ
    reconstruction only SHORTLISTS the top-``refine`` candidates per
    query; those rows' full-precision vectors are fetched (an id join —
    queries×refine rows, broadcast-sized) and re-ranked with exact
    cosine. Recovers the quantization's recall loss while the scan
    stays 32×-compressed — measured 0.40 → 0.62 recall@5 at refine=40
    on the synth embeddings (= the float-IVF number at equal nprobe:
    with refine the composed index loses nothing vs its prune-only
    parent).

    Returns (query_id, match_id, cosine_sim, rank); cosine is against
    the reconstruction when ``refine`` == 0, exact otherwise.
    """
    if cents is None:
        cents = _seed_cents(corpus, corpus_key, vec, centroid_mod)
    if books is None:
        books = pq_codebooks(
            corpus, dim=dim, m=m, sub_mod=sub_mod, iters=pq_iters,
            key=corpus_key, vec=vec,
        )
    coded = pq_encode(corpus, books, dim=dim, m=m, key=corpus_key, vec=vec)
    # reconstruction: concat of each code's sub-centroid (row-local map
    # lookups on the broadcast codebook)
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(F.col("_bkv"), s),
                F.element_at(F.col("codes"), s + 1).cast("long"),
            ),
        )
    )
    lists = coded.crossJoin(F.broadcast(_books_map(books))).select(
        F.col(corpus_key).alias("match_id"), "_vd", recon.alias("r_vec")
    )
    q = queries.select(F.col(query_key).alias("query_id"), F.col(vec).alias("q_vec"))
    scored = _probe(lists, q, cents, nprobe, "r_vec", refine or k, route="_vd")
    if not refine:
        return _topk(scored, k)
    shortlist = _ranked(scored).where(F.col("rank") <= refine).select("query_id", "match_id")
    full = corpus.select(
        F.col(corpus_key).alias("match_id"), F.col(vec).alias("f_vec")
    )
    return _topk(
        full.join(F.broadcast(shortlist), "match_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("f_vec"))),
        k,
    )


def ann_recall(exact: DataFrame, approx: DataFrame, method: str) -> DataFrame:
    """Evaluation harness: per-query recall@k of an approximate top-k
    (LSH / IVF) against the exact brute-force top-k — the measured error
    profile that turns (bits, nprobe, centroids) tuning from guesswork
    into a read-off, same role :func:`~.dedup.lsh_agreement` plays for
    MinHash banding. At 100 TB this runs on a sampled query shard; both
    inputs are already top-k-sized (k rows per query), so the join is
    trivial.

    Returns (query_id, method, n_exact, n_hits, recall).
    """
    e = exact.select("query_id", "match_id")
    a = approx.select("query_id", "match_id", F.lit(1).alias("_h"))
    return (
        e.join(a, ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_h"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            F.lit(method).alias("method"),
            "n_exact",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact"), 6).alias("recall"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    centroid_mod: int = 100,
    threshold: float = 0.92,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    literature): cluster the embedding space, then drop items whose
    cosine to an earlier item IN THE SAME CLUSTER clears ``threshold``.
    The cluster assignment turns all-pairs cosine into per-cluster
    self-joins — the same contraction the cell grid gives the spatial
    eps-joins.

    Determinism contract (oracle-reproducible, no trained k-means):
    centroids are the ``vec_id % centroid_mod == 1`` vectors (the
    ivf_topk scheme); assignment ties break on ascending centroid id;
    the keep rule is "dominated by the MINIMUM earlier same-cluster id
    with cosine >= threshold" — greedy-by-id, the arrival-ordered
    LSH-dedup rule transplanted to embedding space.

    At 100 TB: centroid count scales ~sqrt(N) (broadcast dim), the
    corpus is written bucketed by ``centroid_id``, and the within-
    cluster self-join is co-located with bounded cluster cardinality —
    never all-pairs across clusters.

    Returns (vec_id, centroid_id, dup_of, is_duplicate); dup_of NULL for
    keepers.
    """
    cents = _seed_cents(vectors, key, vec, centroid_mod)
    assigned = _assign_to_centroids(vectors, cents, key, vec)
    a = assigned.select(
        F.col("vid").alias("vid_a"), F.col("v").alias("va"), "centroid_id"
    )
    b = assigned.select(
        F.col("vid").alias("vid_b"), F.col("v").alias("vb"), "centroid_id"
    )
    dominators = (
        a.join(b, "centroid_id")
        .where(F.col("vid_a") < F.col("vid_b"))
        .withColumn("pair_sim", cosine(F.col("va"), F.col("vb")))
        .where(F.col("pair_sim") >= threshold)
        .groupBy("vid_b")
        .agg(F.min("vid_a").alias("dup_of"))
    )
    return (
        assigned.select("vid", "centroid_id")
        .join(dominators, assigned["vid"] == dominators["vid_b"], "left")
        .select(
            F.col("vid").alias(key),
            "centroid_id",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_duplicate"),
        )
    )


def semantic_index_probe(
    corpus: DataFrame,
    batch: DataFrame,
    centroid_mod: int = 100,
    threshold: float = 0.3,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Probe a SETTLED semantically-clustered corpus with a new embedding
    batch: the incremental-ingest form of :func:`semantic_dedup`, shaped
    like ``dedup.lsh_index_probe`` — ingest cost is proportional to the
    BATCH, never the corpus.

    Centroids come from the corpus (the ``vec_id % centroid_mod == 1``
    scheme); a batch vector is a known near-dup iff ANY settled member
    of its cluster clears ``threshold`` cosine, and ``matched_id`` is
    the minimum such corpus id. At 100 TB the corpus side is written
    bucketed by ``centroid_id`` so the probe join is a partition-pruned
    lookup.

    Returns (vec_id, centroid_id, is_known_dup, matched_id).
    """
    cents, settled = semantic_index(corpus, centroid_mod, key, vec)
    return semantic_probe(cents, settled, batch, threshold, key, vec)


def semantic_index(
    corpus: DataFrame, centroid_mod: int = 100, key: str = "vec_id", vec: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """The index half of :func:`semantic_index_probe`: the corpus's
    centroids (centroid_id, cent_vec) and its members assigned to them
    (corpus_id, cv, centroid_id)."""
    cents = _seed_cents(corpus, key, vec, centroid_mod)
    settled = _assign_to_centroids(corpus, cents, key, vec).select(
        F.col("vid").alias("corpus_id"), F.col("v").alias("cv"), "centroid_id"
    )
    return cents, settled


def semantic_probe(
    cents: DataFrame,
    settled: DataFrame,
    batch: DataFrame,
    threshold: float = 0.3,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """The probe half of :func:`semantic_index_probe`: route ``batch``
    to its nearest centroid and look for a settled member of that
    cluster at ``threshold`` cosine or more."""
    probes = _assign_to_centroids(batch, cents, key, vec)
    hits = (
        probes.join(settled, "centroid_id")
        .where(cosine(F.col("v"), F.col("cv")) >= threshold)
        .groupBy("vid")
        .agg(F.min("corpus_id").alias("matched_id"))
    )
    return (
        probes.select("vid", "centroid_id")
        .join(hits, "vid", "left")
        .select(
            F.col("vid").alias(key),
            "centroid_id",
            F.col("matched_id").isNotNull().alias("is_known_dup"),
            "matched_id",
        )
    )
