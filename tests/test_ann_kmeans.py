"""Lloyd-trained IVF centroids and PQ codebooks: training buys recall at
equal nprobe, empty clusters keep their previous centroid, and the
NumPy kernel under both is the SQL fold's ranking bit for bit."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_poi_matchmaker_spark.operators import centroid_kernel as K
from osm_poi_matchmaker_spark.operators import similarity as S
from tests.conftest import SF_SMALL as SF


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_kmeans_recall_beats_modulo_seeds(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") % 50 == 0)
    exact = S.brute_force_topk(q, emb).persist()
    base = S.ann_recall(exact, S.ivf_topk(q, emb, nprobe=2), "ivf")
    cents = S.kmeans_centroids(emb, dim=64, centroid_mod=100, iters=3)
    trained = S.ann_recall(
        exact, S.ivf_topk(q, emb, nprobe=2, cents=cents), "ivf_kmeans"
    )
    r_base = base.agg(F.avg("recall")).collect()[0][0]
    r_trained = trained.agg(F.avg("recall")).collect()[0][0]
    assert r_trained > r_base, (r_trained, r_base)
    exact.unpersist()


def test_kmeans_empty_cluster_keeps_seed(spark):
    """A centroid that attracts no vectors must survive unchanged (left
    join + coalesce), not vanish or go NULL. Corpus: two tight clusters
    on orthogonal directions (seeds 1 and 101) plus seed 201 pointing
    the opposite way from everything — every vector has strictly
    negative cosine to it, so its cluster is empty in every round."""
    a = [1.0] * 16 + [0.0] * 48
    b = [0.0] * 48 + [1.0] * 16
    c = [-1.0] * 64
    rows = (
        [(1, a), (101, b), (201, c)]
        + [(10 + i, [v * (1.0 + 0.1 * (i + 1)) for v in a]) for i in range(3)]
        + [(110 + i, [v * (1.0 + 0.1 * (i + 1)) for v in b]) for i in range(3)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = S.kmeans_centroids(df, dim=64, centroid_mod=100, iters=3)
    got = {r["centroid_id"]: r["cent_vec"] for r in cents.collect()}
    assert set(got) == {1, 101, 201}
    assert got[201] == c  # empty cluster: seed carried through
    assert got[1] != a  # non-empty cluster: mean moved


def test_pq_roundtrip_properties(spark):
    """PQ structural properties: one codebook per subspace, codes are
    valid codeword ids, empty codewords survive training, and the
    refine step strictly improves (or matches) shortlist-only recall."""
    emb = _emb(spark)
    books = S.pq_codebooks(emb, dim=64, m=8, sub_mod=5, iters=2)
    rows = books.collect()
    subs = {r["subspace"] for r in rows}
    assert subs == set(range(8))
    per_sub = {s: {r["centroid_id"] for r in rows if r["subspace"] == s} for s in subs}
    # every subspace keeps the full seed id set (empty codes survive)
    seed_ids = {r["vec_id"] for r in emb.where("vec_id % 5 = 1").collect()}
    for s in subs:
        assert per_sub[s] == seed_ids
    assert all(len(r["cent_vec"]) == 8 for r in rows)

    coded = S.pq_encode(emb, books, dim=64, m=8)
    crows = coded.select("vec_id", "codes").collect()
    assert all(len(r["codes"]) == 8 for r in crows)
    for r in crows[:50]:
        assert all(c in seed_ids for c in r["codes"])


def test_pq_refine_recovers_float_recall(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") % 50 == 0)
    exact = S.brute_force_topk(q, emb).persist()
    cents = S.kmeans_centroids(emb, dim=64, centroid_mod=100, iters=3)
    books = S.pq_codebooks(emb, dim=64, m=8, sub_mod=5, iters=2)

    def recall(df):
        return (
            S.ann_recall(exact, df, "x").agg(F.avg("recall")).collect()[0][0]
        )

    r_short = recall(
        S.ivf_pq_topk(q, emb, dim=64, nprobe=2, cents=cents, books=books)
    )
    r_refined = recall(
        S.ivf_pq_topk(
            q, emb, dim=64, nprobe=2, cents=cents, books=books, refine=40
        )
    )
    r_float = recall(S.ivf_topk(q, emb, nprobe=2, cents=cents))
    assert r_refined > r_short
    # refine recovers the float-IVF ceiling at equal nprobe
    assert abs(r_refined - r_float) < 1e-9, (r_refined, r_float)
    exact.unpersist()


def test_filtered_search_and_knn_join_semantics(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    q = emb.where(F.col("vec_id") % 50 == 0)
    got = S.ivf_topk_filtered(q, emb, filter_col="label").collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    assert got, "filtered search returned nothing"
    for r in got:
        assert labels[r["query_id"]] == labels[r["match_id"]]
    # the filter must actually cut candidates vs the unfiltered probe
    unfiltered = S.ivf_topk(
        q.select("vec_id", "embedding"), emb.select("vec_id", "embedding")
    ).collect()
    assert {(r["query_id"], r["match_id"]) for r in got} != {
        (r["query_id"], r["match_id"]) for r in unfiltered
    }

    # knn self-join: every vector appears as a query with <= k rows,
    # and its rows agree with ivf_topk run with that vector as query
    join_rows = S.ivf_knn_join(
        emb.select("vec_id", "embedding"), k=3, nprobe=2
    ).collect()
    per_q = {}
    for r in join_rows:
        per_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["match_id"])
        )
    n_vec = emb.count()
    assert len(per_q) == n_vec
    assert all(len(v) <= 3 for v in per_q.values())
    probe_one = S.ivf_topk(
        emb.where(F.col("vec_id") == 0).select("vec_id", "embedding"),
        emb.select("vec_id", "embedding"),
        k=3,
        nprobe=2,
    ).collect()
    want = sorted((r["rank"], r["match_id"]) for r in probe_one)
    assert sorted(per_q[0]) == want


def test_index_stats_and_append_semantics(spark):
    emb = _emb(spark)
    stats = S.ivf_index_stats(emb).collect()
    n = emb.count()
    assert sum(r["list_size"] for r in stats) == n
    fac = {r["imbalance_factor"] for r in stats}
    assert len(fac) == 1 and fac.pop() >= 1.0  # Cauchy-Schwarz floor

    corpus = emb.where(F.col("vec_id") % 7 != 0)
    batch = emb.where(F.col("vec_id") % 7 == 0)
    out = S.ivf_index_append(corpus, batch).collect()
    assert {r["vec_id"] for r in out} == {
        r["vec_id"] for r in batch.collect()
    }
    # routing agrees with the settled index's own assignment rule
    cents = corpus.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
    )
    want = {
        r["vid"]: r["centroid_id"]
        for r in S._assign_to_centroids(
            batch, cents, "vec_id", "embedding"
        ).collect()
    }
    assert {r["vec_id"]: r["centroid_id"] for r in out} == want


def _window_top_n(vectors, cents, n, *extra):
    """The crossJoin + row_number assigner the row-local primitive
    replaced: (vid, crank, centroid_id, *extra) for the n nearest
    centroids; ``extra`` may name ``cent_sim``."""
    w = Window.partitionBy("vid").orderBy(F.desc("cent_sim"), F.asc("centroid_id"))
    return (
        vectors.crossJoin(F.broadcast(cents))
        .withColumn("cent_sim", S.cosine(F.col("v"), F.col("cent_vec")))
        .withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n)
        .select("vid", "crank", "centroid_id", *extra)
    )


def _tie_corpus(spark, extra):
    """Seeded 8-d vectors and centroids; centroids 2 and 5 duplicate 1
    and 4 (exact cosine ties, so asc centroid_id must decide)."""
    rng = random.Random(7)
    vec = lambda: [rng.uniform(-1.0, 1.0) for _ in range(8)]  # noqa: E731
    base = {cid: vec() for cid in (1, 3, 4, 6, 7)}
    base[2], base[5] = list(base[1]), list(base[4])
    cents = spark.createDataFrame(
        sorted(base.items()), "centroid_id long, cent_vec array<double>"
    )
    rows = [(i, vec()) for i in range(40)] + [(40, list(base[1]))] + extra
    vectors = spark.createDataFrame(rows, "vid long, v array<double>")
    return vectors, cents


def _primitive_top_n(vectors, cents, n):
    return S._nearest_centroids(vectors, cents, "v", n).select(
        "vid", "crank", "centroid_id"
    )


def test_nearest_centroids_match_window_form(spark):
    """The row-local top-n primitive returns exactly the ids and order of
    the crossJoin + row_number form, for n = 1 and n = nprobe, through
    exact ties and NaN cosines (vector 41 holds a NaN component)."""
    nan_row = [(41, [float("nan")] + [0.5] * 7)]
    vectors, cents = _tie_corpus(spark, nan_row)
    for n in (1, 3):
        want = sorted(tuple(r) for r in _window_top_n(vectors, cents, n).collect())
        got = sorted(tuple(r) for r in _primitive_top_n(vectors, cents, n).collect())
        assert got == want, n
        assert len(got) == 42 * n
    # a NaN centroid outranks everything in both forms
    nan_cent = spark.createDataFrame(
        [(9, [float("nan")] * 8)], "centroid_id long, cent_vec array<double>"
    )
    with_nan = cents.unionByName(nan_cent)
    for n in (1, 3):
        want = sorted(tuple(r) for r in _window_top_n(vectors, with_nan, n).collect())
        got = sorted(tuple(r) for r in _primitive_top_n(vectors, with_nan, n).collect())
        assert got == want, n


def test_nearest_centroids_zero_vector_matches_window_form(spark):
    """An all-zero vector has zero norm: under ANSI both forms fail the
    division; without ANSI its cosines are NULL and both forms rank the
    centroids by ascending id."""
    vectors, cents = _tie_corpus(spark, [(42, [0.0] * 8)])
    for form in (_window_top_n, _primitive_top_n):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            form(vectors, cents, 3).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for n in (1, 3):
            want = sorted(tuple(r) for r in _window_top_n(vectors, cents, n).collect())
            got = sorted(tuple(r) for r in _primitive_top_n(vectors, cents, n).collect())
            assert got == want, n
            zero = sorted(r[2] for r in got if r[0] == 42)
            assert zero == [1, 2, 3][:n]
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")


def _bits(x):
    return None if x is None else "nan" if math.isnan(x) else x.hex()


@pytest.mark.parametrize("elem", ["float", "double"])
def test_kernel_matches_sql_reference(spark, elem):
    """The NumPy kernel returns the crossJoin + row_number form's rows,
    ranks, ids and bit-identical cosines: random float32 and double
    vectors, an exact tie (centroid 4 duplicates -2, so -2 ranks first),
    a NaN vector, negative ids, and n = 1, 3, K and K + 2 (K rows per
    vector)."""
    rng = random.Random(13)
    vec = lambda: [rng.uniform(-1.0, 1.0) for _ in range(8)]  # noqa: E731
    base = {cid: vec() for cid in (-7, -2, 0, 3, 11)}
    base[4] = list(base[-2])
    k = len(base)
    cents = spark.createDataFrame(
        sorted(base.items()), f"centroid_id long, cent_vec array<{elem}>"
    )
    rows = [(i, vec()) for i in range(60)] + [
        (60, list(base[3])),
        (61, [float("nan")] + [0.25] * 7),
        (-62, vec()),
    ]
    vectors = spark.createDataFrame(rows, f"vid long, v array<{elem}>")
    for n in (1, 3, k, k + 2):
        want = sorted(
            (r[0], r[1], r[2], _bits(r[3]))
            for r in _window_top_n(vectors, cents, n, "cent_sim").collect()
        )
        kernel = S._nearest_centroids(vectors, cents, "v", n)
        assert "MapInArrow" in kernel._jdf.queryExecution().executedPlan().toString()
        got = sorted(
            (r[0], r[1], r[2], _bits(r[3]))
            for r in kernel.select("vid", "crank", "centroid_id", "cent_sim").collect()
        )
        assert got == want, n
        assert len(got) == len(rows) * min(n, k)


def test_pq_encode_matches_sql_l2_fold(spark):
    """pq_encode's per-subspace argmin is the ``aggregate(zip_with)``
    squared-distance fold ranked like ``array_max(struct(-d, -id))``:
    a NaN distance first, ties to the ascending id. Subspace 0:
    codeword 4 duplicates 2 and vector 40 equals it (exact tie, 2
    wins); vector 41 holds a NaN there (every distance NaN, 1 wins).
    Subspace 1: codeword 9 holds a NaN, so it wins for every vector.
    Every kernel distance is bit-identical to the fold."""
    rng = random.Random(17)
    vec = lambda: [rng.uniform(-1.0, 1.0) for _ in range(4)]  # noqa: E731
    words = {(s, cid): vec() for s in (0, 1) for cid in (1, 2, 7)}
    words[0, 4] = list(words[0, 2])
    words[1, 9] = [0.5, float("nan"), 0.5, 0.5]
    books = spark.createDataFrame(
        [(s, cid, v) for (s, cid), v in sorted(words.items())],
        "subspace int, centroid_id long, cent_vec array<double>",
    )
    rows = [(i, vec() + vec()) for i in range(40)]
    rows += [(40, words[0, 2] + vec()), (41, [0.1, float("nan"), 0.1, 0.1] + vec())]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sub = F.slice("embedding", F.col("subspace") * 4 + 1, 4)
    dist = F.aggregate(
        F.zip_with(sub, "cent_vec", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = vectors.crossJoin(books).select("vec_id", "subspace", "centroid_id", dist.alias("d"))
    want = {
        (r[0], r[1]): -r[2]["negid"]
        for r in scored.groupBy("vec_id", "subspace")
        .agg(F.max(F.struct((-F.col("d")).alias("negd"), (-F.col("centroid_id")).alias("negid"))))
        .collect()
    }
    got = {
        (r["vec_id"], s): code
        for r in S.pq_encode(vectors, books, dim=8, m=2).collect()
        for s, code in enumerate(r["codes"])
    }
    assert got == want
    assert want[40, 0] == 2 and want[41, 0] == 1
    assert {c for (_, s), c in want.items() if s == 1} == {9}
    ids, mats = K.codebook_arrays(books.toArrow(), 2, 4)
    emb = {r[0]: np.array(r[1], dtype=np.float32).astype(np.float64) for r in rows}
    for vid, s, cid, d in scored.collect():
        j = int(np.flatnonzero(ids[s] == cid)[0])
        kd = K._sqdist(emb[vid][None, s * 4 : (s + 1) * 4], mats[s][j : j + 1])[0, 0]
        assert _bits(float(kd)) == _bits(d), (vid, s, cid)


def _kmeans_corpus(spark, extra):
    """Centroid seeds 1 and 21 (centroid_mod=20) with two members each,
    plus ``extra`` rows."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (21, [0.0, 1.0, 5.0, 0.0]),
        (22, [0.0, 1.1, 4.9, 0.1]),
    ] + extra
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize(
    "bad, match",
    [
        (None, "vec_id=7: NULL"),
        ([0.0, None, 5.0, 0.0], "vec_id=7: NULL component"),
        ([0.0, 1.0, 5.0], "vec_id=7: length 3"),
        ([0.0, float("nan"), 5.0, 0.0], "vec_id=7: non-finite"),
        ([0.0, float("inf"), 5.0, 0.0], "vec_id=7: non-finite"),
    ],
)
def test_kmeans_rejects_malformed_vectors(spark, bad, match):
    """k-means and PQ training fail loud, naming the vector, on one they
    cannot place. The SQL k-means scored a NULL, NULL-holding or short
    vector NULL against every centroid (NaN for a non-finite one), put
    it in the smallest-id cluster and trained on it: [0, 1, 5], next to
    centroid 21, made centroid 1 the 3-element [0.475, 0.525, 5.0]. The
    SQL PQ raised on none of the first four: it trained through the
    NULL row, and a NULL-holding or NaN row moved codeword 1 of
    subspace 0 from [0.95, 0.05] to [0.633, 0.033]; inf failed with an
    ARITHMETIC_OVERFLOW that named no vector."""
    df = _kmeans_corpus(spark, [(7, bad)])
    with pytest.raises(Exception, match=match):
        S.kmeans_centroids(df, dim=4, centroid_mod=20, iters=2)
    with pytest.raises(Exception, match=match):
        S.pq_codebooks(df, dim=4, m=2, sub_mod=20, iters=2)


def test_kmeans_sum_overflow_raises(spark):
    """A cluster whose micro-unit sum leaves BIGINT raises; the int64
    partials never wrap (three 4e12 components sum to 1.2e19 > 2^63)."""
    big = [(i, [4e12, 0.0, 0.0, 0.0]) for i in (3, 4, 5)]
    with pytest.raises(OverflowError, match="exceeds BIGINT"):
        S.kmeans_centroids(_kmeans_corpus(spark, big), dim=4, centroid_mod=20, iters=1)


def _jobs_and_shuffle(spark, group, run) -> tuple[list[int], int]:
    """The Spark jobs ``run()`` starts and the bytes their stages write
    to shuffle."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    shuffled = 0
    for sid in {s for j in jobs for s in tracker.getJobInfo(j).stageIds}:
        try:
            shuffled += store.lastStageAttempt(sid).shuffleWriteBytes()
        except Py4JJavaError:  # skipped: its shuffle output was reused
            shuffled += 1
    return sorted(jobs), shuffled


def test_kmeans_round_is_one_job_without_shuffle(spark):
    """A Lloyd round of kmeans_centroids or pq_codebooks is one job: each
    partition assigns its vectors and sums them, and the driver adds the
    partials. A call runs iters + 1 jobs (the seed collect, then one per
    round) and shuffles nothing; the SQL k-means ran 24 jobs and
    shuffled 744,005 B on the perfbench corpus."""
    emb = _emb(spark)  # outside the group: reading the footer is a job
    for group, run in (
        ("kmeans-rounds", lambda: S.kmeans_centroids(emb, dim=64, centroid_mod=100, iters=3)),
        ("pq-rounds", lambda: S.pq_codebooks(emb, dim=64, m=8, sub_mod=5, iters=3)),
    ):
        jobs, shuffled = _jobs_and_shuffle(spark, group, run)
        assert len(jobs) == 4, (group, jobs)
        assert shuffled == 0, group


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_training_rounds_are_released(spark):
    """kmeans_centroids and pq_codebooks leave at most one cached frame
    per call (the result), not one per round."""
    emb = _emb(spark)
    before = _persistent_rdds(spark)
    cents = S.kmeans_centroids(emb, dim=64, centroid_mod=100, iters=3)
    cents.count()
    assert _persistent_rdds(spark) - before <= 1
    before = _persistent_rdds(spark)
    books = S.pq_codebooks(emb, dim=64, m=8, sub_mod=5, iters=3)
    books.count()
    assert _persistent_rdds(spark) - before <= 1
    cents.unpersist(blocking=True)
    books.unpersist(blocking=True)


def test_pq_codeword_ids_past_a_million(spark):
    """Codeword ids are seed vec_ids; ids past 10^6 must not collide with
    another subspace's codewords in the reconstruction lookup. Every
    returned score must equal the cosine against the reconstruction
    rebuilt here from the codebook and the codes."""
    rng = random.Random(11)
    ids = [1, 6, 11, 16, 1_000_001, 1_000_006, 1_000_011] + [
        1_000_000 + i for i in range(20, 60)
    ] + list(range(20, 60))
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    books = S.pq_codebooks(df, dim=8, m=2, sub_mod=5, iters=1)
    q = df.where(F.col("vec_id") % 10 == 0)
    got = S.ivf_pq_topk(
        q, df, dim=8, k=3, centroid_mod=5, nprobe=2, m=2, books=books
    ).collect()
    assert got
    book = {(r["subspace"], r["centroid_id"]): r["cent_vec"] for r in books.collect()}
    codes = {
        r["vec_id"]: r["codes"]
        for r in S.pq_encode(df, books, dim=8, m=2).select("vec_id", "codes").collect()
    }
    vecs = {r["vec_id"]: r["embedding"] for r in df.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for r in got:
        recon = book[(0, codes[r["match_id"]][0])] + book[(1, codes[r["match_id"]][1])]
        assert abs(r["cosine_sim"] - cos(vecs[r["query_id"]], recon)) < 2e-6, r


def _join_probe(lists, q, cents, nprobe, payload, on=()):
    """The broadcast-join probe the kernel pass replaced, routing with the
    crossJoin + row_number form: every (query_id, match_id, cosine_sim)
    pair of the ``nprobe`` nearest lists, scored by the SQL fold.
    ``lists`` carries its centroid_id."""
    probes = _window_top_n(
        q.select(F.col("query_id").alias("vid"), F.col("q_vec").alias("v"), *on),
        cents,
        nprobe,
        "v",
        *on,
    ).select(F.col("vid").alias("query_id"), F.col("v").alias("q_vec"), "centroid_id", *on)
    return (
        lists.join(F.broadcast(probes), ["centroid_id", *on])
        .where(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine_sim", S.cosine(F.col("q_vec"), F.col(payload)))
        .select("query_id", "match_id", "cosine_sim")
    )


def _cut_rows(scored, keep):
    return sorted(
        (r[0], r[1], r[2], _bits(r[3]))
        for r in S._ranked(scored)
        .where(F.col("rank") <= keep)
        .select("query_id", "rank", "match_id", "cosine_sim")
        .collect()
    )


def _probe_corpus(spark, elem):
    """Seeded 8-d centroids (centroid 4 duplicates -2), their stored
    lists (c_vec, centroid_id, _fv) over 3 partitions with list -7
    emptied, and queries: members under their own ids (self-matches),
    the centroid -7 vector (its nearest list is empty), a NaN vector and
    a negative id. Members 100, 101 and -35 share one vector (exact
    cosine ties), member 61 holds a NaN; ``_fv`` is 0, 1 or NULL on
    both sides."""
    rng = random.Random(21)
    vec = lambda: [rng.uniform(-1.0, 1.0) for _ in range(8)]  # noqa: E731
    base = {cid: vec() for cid in (-7, -2, 0, 3, 11)}
    base[4] = list(base[-2])
    cents = spark.createDataFrame(
        sorted(base.items()), f"centroid_id long, cent_vec array<{elem}>"
    )
    tie = vec()
    fv = lambda i: None if i % 5 == 0 else i % 2  # noqa: E731
    rows = [(i, vec()) for i in range(-30, 60)]
    rows += [(100, tie), (101, tie), (-35, tie), (61, [float("nan")] + [0.25] * 7)]
    members = spark.createDataFrame(
        [(i, v, fv(i)) for i, v in rows], f"match_id long, c_vec array<{elem}>, _fv int"
    )
    stored = members.join(
        _window_top_n(members.select(F.col("match_id").alias("vid"), F.col("c_vec").alias("v")),
                      cents, 1).select(F.col("vid").alias("match_id"), "centroid_id"),
        "match_id",
    ).where(F.col("centroid_id") != -7).repartition(3, "match_id")
    queries = [(i, v, fv(i)) for i, v in rows if i % 9 == 0 or i in (100, -35)]
    queries += [(200, base[-7], 1), (201, [float("nan")] * 8, 0), (-202, vec(), None)]
    q = spark.createDataFrame(queries, f"query_id long, q_vec array<{elem}>, _fv int")
    return cents, stored, q


@pytest.mark.parametrize("elem", ["float", "double"])
def test_probe_kernel_matches_join_reference(spark, elem):
    """The one-pass kernel probe (assigning by its route vector or
    reading the stored centroid_id) keeps, per query, the rows, ranks,
    ids and bit-identical cosines of the broadcast join + SQL cosine +
    row_number form: float and double elements, exact ties, a NaN
    member and query, negative ids, self-matches, a filter key with
    NULLs, a query whose one probed list is empty, keep larger than
    any list, and the top-keep merge of 3 partitions."""
    cents, stored, q = _probe_corpus(spark, elem)
    assert stored.rdd.getNumPartitions() == 3
    routed = stored.drop("centroid_id")
    for on in ((), ("_fv",)):
        qs = q if on else q.drop("_fv")
        for nprobe, keep in ((1, 50), (3, 2)):
            want = _cut_rows(_join_probe(stored, qs, cents, nprobe, "c_vec", on), keep)
            assert want and len(want) < 50 * len(q.collect()), (on, nprobe)
            if nprobe == 1:
                assert 200 not in {r[0] for r in want}  # its one list is empty
            for lists, route in ((stored, None), (routed, "c_vec")):
                got = S._probe(lists, qs, cents, nprobe, "c_vec", keep, route=route, on=on)
                assert _cut_rows(got, keep) == want, (on, nprobe, route)


def test_probe_zero_norm_pair(spark):
    """A zero-norm member met by a query raises DIVIDE_BY_ZERO under ANSI,
    as the SQL fold does; without ANSI its score is NULL and ranks last
    in both forms."""
    cents, stored, q = _probe_corpus(spark, "double")
    stored = stored.unionByName(spark.createDataFrame([(70, [0.0] * 8, 1, 0)], stored.schema))
    for form in (_join_probe, lambda *a: S._probe(*a[:5], 50)):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            form(stored, q.drop("_fv"), cents, 6, "c_vec").collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = _cut_rows(_join_probe(stored, q.drop("_fv"), cents, 6, "c_vec"), 200)
        assert any(r[2] == 70 and r[3] is None for r in want)
        got = S._probe(stored, q.drop("_fv"), cents, 6, "c_vec", 200)
        assert _cut_rows(got, 200) == want
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")


@pytest.mark.parametrize(
    "bad, match",
    [
        ((70, None), "vector match_id=70: NULL"),
        ((70, [0.5] * 7), "vector match_id=70: length 7"),
        ((70, [0.5, None] + [0.5] * 6), "vector match_id=70: NULL component"),
        ((None, [0.5] * 8), "NULL match_id"),
    ],
)
def test_probe_refuses_bad_list_rows(spark, bad, match):
    """A probed list row with a NULL, NULL-holding or short payload, or a
    NULL match_id, raises and names the row. The join form scored such
    a payload NULL (``zip_with`` pads the shorter side) and ranked it
    last, and dropped a NULL-id row."""
    cents, stored, q = _probe_corpus(spark, "double")
    lists = stored.unionByName(spark.createDataFrame([(*bad, 1, 0)], stored.schema))
    with pytest.raises(Exception, match=match):
        S._probe(lists, q.drop("_fv"), cents, 6, "c_vec", 50).collect()


def test_probe_refuses_null_query_id(spark):
    """ivf_topk raises on a query row with a NULL id, naming it; the join
    form silently dropped the query (``query_id != match_id`` is NULL)."""
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.when(F.col("vec_id") != 0, F.col("vec_id")).alias("vec_id"), "embedding"
    )
    with pytest.raises(Exception, match="query row 0: NULL query_id"):
        S.ivf_topk(q.orderBy(F.col("vec_id").asc_nulls_first()), emb).collect()
