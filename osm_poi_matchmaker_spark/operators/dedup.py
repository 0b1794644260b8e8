"""Deduplication operators over document corpora.

The reference deduplicates POIs with keyed get-or-create lookups
(``dao/data_handlers.py:220-312``: exact key match on
(common_id, addr fields)) — the Spark analogues here generalize that to the
web-scale families a 100 TB training-data pipeline needs:

- exact dedup           → hash groupBy (K4 analogue)
- n-gram Jaccard        → shingle explode + pair join (pg_trgm ``similarity``
                          analogue, dao/poi_base.py:892-918)
- MinHash + LSH         → per-permutation min over shingle hashes, banded
                          bucket join (scale path: no all-pairs)
- SimHash               → 64-bit weighted bit-vote fingerprint, hamming
                          bucket join

Everything is built-in expressions (md5/split/explode/agg); hashes are
lexicographic min over md5 hex strings so any ANSI engine reproduces them
(the DuckDB oracles do exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def poi_fuzzy_dedup_pairs(
    pois: DataFrame,
    key: str = "page_id",
    min_name_sim: float = 0.49,
    max_street_lev: int = 3,
    mult: int = 256,
) -> DataFrame:
    """Trigram/Levenshtein name-address fuzzy dedup over POI records
    (BASELINE.json north_star; generalizes the reference's keyed
    get-or-create dedup, data_handlers.py:220-312, with its fuzzy
    matching predicates, poi_base.py:892-918).

    Candidate generation is spatial (same coarse cell + 3×3 ring — two
    records can only be duplicates if they are near each other), then
    trigram(name) >= min_name_sim AND lev(street) <= max_street_lev AND
    same housenumber. Returns (poi_a, poi_b, name_sim, street_lev) pairs
    with poi_a < poi_b.

    ``pois`` needs (key, name, street, housenumber, lat, lon).
    """
    from ..functions.textsim import trigram_similarity
    from ..tiling import coarse_cell_id, ring_join

    left = pois.select(
        F.col(key).alias("poi_a"),
        F.col("name").alias("name_a"),
        F.col("street").alias("street_a"),
        F.col("housenumber").alias("hn_a"),
        "lat",
        "lon",
    )
    right = pois.select(
        F.col(key).alias("poi_b"),
        F.col("name").alias("name_b"),
        F.col("street").alias("street_b"),
        F.col("housenumber").alias("hn_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
    )
    sim = trigram_similarity(F.col("name_a"), F.col("name_b"))
    lev = F.levenshtein(F.lower(F.col("street_a")), F.lower(F.col("street_b")))
    return (
        ring_join(
            left,
            right,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("lat_b"), F.col("lon_b"), mult),
        )
        .where(F.col("poi_a") < F.col("poi_b"))
        .where(F.col("hn_a") == F.col("hn_b"))
        .withColumn("name_sim", sim)
        .withColumn("street_lev", lev)
        .where((F.col("name_sim") >= min_name_sim) & (F.col("street_lev") <= max_street_lev))
        .select(
            "poi_a", "poi_b", F.round("name_sim", 6).alias("name_sim"), "street_lev"
        )
    )


def exact_dedup(docs: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact-duplicate groups by full-text hash; keeps the lowest key as
    canonical (deterministic — the reference keeps first-inserted,
    data_handlers.py:238-247).

    Returns (doc_id, canonical_id, group_size, is_duplicate).
    """
    h = F.md5(F.col(text))
    w = Window.partitionBy("text_hash")
    return (
        docs.select(F.col(key), h.alias("text_hash"))
        .withColumn("canonical_id", F.min(key).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_duplicate", F.col(key) != F.col("canonical_id"))
        .select(key, "canonical_id", "group_size", "is_duplicate")
    )


def shingles(text_col, n: int = 3):
    """Word n-gram shingle array (distinct), from whitespace tokens."""
    toks = F.split(text_col, " ")
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n_sh)
    return F.when(
        n_sh > 0,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold.

    Explode shingles → self-join on shingle → count common → Jaccard from
    inclusion-exclusion. Only pairs sharing >=1 shingle are ever considered
    (candidate generation is the shingle join, not all-pairs), so cost is
    bounded by shingle-frequency skew — at 100 TB, drop ultra-frequent
    shingles first (stop-shingle filter), same idea as LSH banding.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sized = docs.select(
        F.col(key), shingles(F.col(text), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    ex = sized.select(key, "n_sh", F.explode("sh").alias("shingle"))
    a = ex.select(
        F.col(key).alias("doc_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = ex.select(
        F.col(key).alias("doc_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


def minhash_signatures(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
) -> DataFrame:
    """MinHash signature per doc: permutation i = min over shingles of
    md5(i || shingle) (hex string order — engine-portable, no bigint casts).

    Returns (doc_id, perm, minhash).
    """
    ex = docs.select(F.col(key), F.explode(shingles(F.col(text), n)).alias("shingle"))
    perms = ex.select(
        key, "shingle", F.explode(F.sequence(F.lit(0), F.lit(num_perm - 1))).alias("perm")
    )
    h = F.md5(F.concat(F.col("perm").cast("string"), F.lit("|"), F.col("shingle")))
    return (
        perms.withColumn("h", h)
        .groupBy(key, "perm")
        .agg(F.min("h").alias("minhash"))
    )


def band_signatures(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(key, band, band_sig) — the LSH bucket keys every MinHash consumer
    shares (pair join, components, arrival dedup, the streaming claimer).
    band_sig = comma-join of the band's sorted minhashes."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(docs, key, text, n, num_perm).withColumn(
        "band", F.floor(F.col("perm") / rows_per_band)
    )
    return sigs.groupBy(key, "band").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("minhash"))).alias("band_sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: band signature = concat of the band's minhashes;
    docs sharing any band bucket are candidates. Returns distinct
    (doc_a, doc_b) with doc_a < doc_b.

    Scale path: the band-bucket join replaces the all-pairs comparison —
    identical to bucketing the signature table by (band, band_sig).
    """
    band_sigs = band_signatures(docs, key, text, n, num_perm, bands)
    a = band_sigs.select(F.col(key).alias("doc_a"), "band", "band_sig")
    b = band_sigs.select(F.col(key).alias("doc_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash64(docs: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens (unit weights).

    Bit b of the fingerprint is 1 iff more distinct tokens hash with bit b
    set than clear; token hash = first 15 hex chars of md5 → 60-bit int
    (portable: any engine can parse hex). Implemented as explode →
    per-bit vote agg → bit reassembly. Returns (doc_id, simhash) as int64.
    """
    toks = docs.select(
        F.col(key), F.explode(F.array_distinct(F.split(F.col(text), " "))).alias("tok")
    )
    h60 = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    bits = toks.select(
        F.col(key),
        h60.alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit"),
    ).withColumn("vote", F.expr("(h >> bit) & 1"))
    votes = bits.groupBy(key, "bit").agg(
        (F.sum("vote") * 2 > F.count(F.lit(1))).cast("long").alias("bitval")
    )
    return votes.groupBy(key).agg(
        F.sum(F.expr("shiftleft(bitval, bit)")).alias("simhash")
    )


def connected_components(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
    max_iter: int = 25,
    driver_guard_edges: int = 500_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    Pair generators (MinHash-LSH, SimHash bands, n-gram Jaccard) emit
    EDGES; a training-data dedup pipeline needs CLUSTERS — transitive
    closure — to keep one canonical document per duplicate set. (The
    reference's conflation equivalent is common_row dedup by unique key,
    dao/data_handlers.py:401; transitive text dedup has no reference
    analogue — this is part of the beyond-reference pipeline ops.)

    Iterative min-label propagation with pointer jumping: each round
    every node takes the min label over itself and its neighbors, then
    compresses label -> label(label). Pointer jumping makes convergence
    logarithmic in component diameter (the classic PRAM trick — with it,
    a 10^6-long chain converges in ~20 rounds, not 10^6). Each round is
    two shuffle joins + one aggregate over the EDGE set only — the full
    document table is never touched, and edge sets are tiny relative to
    the corpus (that's why near-dup candidates were banded first).

    Below ``driver_guard_edges`` the symmetrized edge set is folded on
    the driver instead (union-find, identical min-id labels): every
    pair graph this engine emits is DERIVED and small relative to the
    corpus, and under ~5·10^5 edges the O(rounds) distributed loop
    costs more in per-round stage latency than the whole graph costs to
    fold. Above the guard (planet-scale candidate graphs) the
    distributed loop engages automatically; driver involvement per
    round is then one ``count`` (the convergence check) — O(rounds)
    actions, no per-row driver work. Each round
    eagerly ``localCheckpoint``s the merged label map: the pointer-jump
    is a self-join, so without lineage truncation the logical plan
    DOUBLES every round (2 GB plan strings by round ~20 — observed).
    On a real cluster prefer ``sc.setCheckpointDir`` + ``.checkpoint()``
    for executor-loss resilience; localCheckpoint is the fast path.
    Returns (node, component) where component = min node id reachable.
    """
    # NULL endpoints carry no connectivity (SQL equi-joins would never
    # match them either) — drop them up front so the driver fold's
    # Python comparisons and the distributed min-label agree exactly.
    edges = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst")).where(
        F.col(left).isNotNull() & F.col(right).isNotNull()
    )
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    # NOTE: this count makes every connected_components call EAGER (the
    # size read-off that routes small derived graphs to the driver
    # union-find). The edge sets this engine feeds in are banded/
    # contracted candidate graphs — materializing them once here is the
    # same work their first downstream action would do.
    n_edges = edges.count()
    if n_edges <= driver_guard_edges:
        # Size-guarded fast path (the pip.py guard pattern): every pair
        # graph this engine feeds components with is DERIVED and small
        # relative to the corpus (banded near-dup candidates, contracted
        # DBSCAN cell edges) — below the guard, O(rounds) distributed
        # iterations cost more in per-round stage latency than the whole
        # graph costs to fold on the driver. Identical labels by
        # construction (min node id per component); above the guard the
        # distributed loop below engages automatically.
        node_t = pairs.schema[left].dataType
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for row in edges.toLocalIterator():
            a, b = row["src"], row["dst"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            if r not in comp_min or x < comp_min[r]:
                comp_min[r] = x
        spark = pairs.sparkSession
        edges.unpersist()
        schema = T.StructType(
            [
                T.StructField("node", node_t, False),
                T.StructField("component", node_t, False),
            ]
        )
        return spark.createDataFrame(
            [(x, comp_min[find(x)]) for x in parent], schema
        )

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    labels.count()
    labels0 = labels  # initial persist — released after the loop
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        merged = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # Truncate lineage BEFORE the self-join below — it references
        # `merged` twice, so an un-truncated plan doubles every round.
        merged = merged.localCheckpoint(eager=True)
        # pointer jumping: label <- label(label)
        hop = merged.select(
            F.col("node").alias("h_node"), F.col("label").alias("h_label")
        )
        new_labels = merged.join(hop, merged.label == hop.h_node, "left").select(
            "node", F.coalesce("h_label", "label").alias("label")
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if labels is not labels0:
        labels0.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """Cluster-level dedup verdict for EVERY document: canonical_id =
    min doc id of the document's near-dup component (itself when it has
    no near-duplicates); is_duplicate marks the non-canonical members.
    The component map is tiny (only docs that occur in a pair) and
    broadcasts; the corpus side is never shuffled."""
    comp = connected_components(pairs, left=left, right=right)
    return docs.select(key).join(
        F.broadcast(comp.withColumnRenamed("node", key)), key, "left"
    ).select(
        F.col(key),
        F.coalesce("component", F.col(key)).alias("canonical_id"),
        (F.coalesce("component", F.col(key)) != F.col(key)).alias("is_duplicate"),
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    left: str = "doc_a",
    right: str = "doc_b",
) -> DataFrame:
    """Quality-keeper dedup verdict: within each near-dup component keep
    the BEST document, not the min-id one — the policy production
    training-data pipelines actually apply (min-id keeps whichever
    shard-order accident came first; keep-best retains the longest/
    highest-quality copy of boilerplate families). Canonical = longest
    ``text`` in the component, ties to the smallest id (deterministic).

    Scale shape: winners are computed only over the PAIRED docs (inner
    join against the tiny component map), one partial-aggregable
    ``max_by`` per component; the full corpus then takes two broadcast
    joins and never shuffles.
    """
    comp = connected_components(pairs, left=left, right=right).withColumnRenamed(
        "node", key
    )
    # max_by over (len(text) asc-to-max, -id): longer text wins, then
    # smaller id — one shuffle of the paired subset only
    winners = (
        docs.select(key, text)
        .join(F.broadcast(comp), key)
        .groupBy("component")
        .agg(
            F.max_by(
                F.col(key), F.struct(F.length(text).alias("l"), (-F.col(key)).alias("nk"))
            ).alias("best_id")
        )
    )
    return (
        docs.select(key)
        .join(F.broadcast(comp), key, "left")
        .join(F.broadcast(winners), "component", "left")
        .select(
            F.col(key),
            F.coalesce("best_id", F.col(key)).alias("canonical_id"),
            (F.coalesce("best_id", F.col(key)) != F.col(key)).alias("is_duplicate"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    bench_key: str = "bench_id",
    bench_text: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one word ``n``-gram with an eval/benchmark document
    (the GPT-3-style 13-gram overlap rule; ``n`` parameterized). A
    training-data pipeline runs this before every release so eval
    questions never leak into the corpus. No reference analogue — part
    of the beyond-reference pipeline ops.

    Scale shape: the benchmark side is tiny (eval suites are ~10^4-10^6
    rows vs a 10^12-row corpus), so its distinct shingle set is
    BROADCAST and the corpus is probed map-side — the corpus never
    shuffles to find hits. Only the matched subset (corpus rows sharing
    a shingle) takes one partial-aggregable groupBy, and the final flag
    attaches back with a broadcast join keyed on ``key``.

    Returns (doc_id, contaminated, hit_shingles, min_bench_id) —
    hit_shingles = distinct leaked n-grams in the doc, min_bench_id =
    lowest benchmark id it collides with (audit pointer), both NULL-free
    (0 / NULL→NULL semantics: min_bench_id is NULL for clean docs).
    """
    bench_sh = (
        benchmark.select(
            F.col(bench_key), shingles(F.col(bench_text), n).alias("sh")
        )
        .select(bench_key, F.explode("sh").alias("shingle"))
        .distinct()
    )
    doc_sh = docs.select(
        F.col(key), shingles(F.col(text), n).alias("sh")
    ).select(key, F.explode("sh").alias("shingle"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(key)
        .agg(
            F.countDistinct("shingle").alias("hit_shingles"),
            F.min(bench_key).alias("min_bench_id"),
        )
    )
    return docs.select(key).join(F.broadcast(hits), key, "left").select(
        F.col(key),
        F.col("hit_shingles").isNotNull().alias("contaminated"),
        F.coalesce("hit_shingles", F.lit(0)).alias("hit_shingles"),
        "min_bench_id",
    )


def decontaminate_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    bench_text: str = "text",
    n: int = 8,
) -> DataFrame:
    """Span-level benchmark decontamination (round 4): REMOVE every
    token that falls inside an ``n``-token window whose exact text
    occurs in the benchmark set — the destructive companion to
    :func:`decontaminate` (which only flags), and the cross-corpus
    companion to :func:`substring_rewrite` (whose window set is
    corpus-internal duplicates). This is the GPT-3 appendix-C policy
    shape: instead of dropping whole training documents that graze an
    eval n-gram, surgically cut the leaked spans and keep the rest —
    at 10^12 docs, whole-doc dropping over popular quote fragments
    costs real corpus mass.

    Scale shape: the benchmark window set is tiny and BROADCAST; the
    corpus probes it map-side (no corpus shuffle to find hits), covered
    indices explode and distinct within the doc_id key, and reassembly
    is the same one-groupBy collect as substring_rewrite. Tokens never
    leave their doc_id shuffle key.

    Returns (key, n_tokens, n_removed, text_rewritten).
    """
    from ..functions.textstats import tokens

    def _wins(frame: DataFrame, k_col: str, t_col: str) -> DataFrame:
        t = frame.select(F.col(k_col), tokens(F.lower(F.col(t_col))).alias("toks"))
        n_w = F.greatest(F.size("toks") - F.lit(n - 1), F.lit(0))
        wins = F.when(
            n_w > 0,
            F.transform(
                F.sequence(F.lit(1), n_w),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return t, t.select(F.col(k_col), F.posexplode(wins).alias("pos", "win"))

    t, w = _wins(docs, key, text)
    _, bw = _wins(benchmark, key, bench_text)
    bench_wins = bw.select("win").distinct()
    covered = (
        w.join(F.broadcast(bench_wins), "win")
        .select(
            F.col(key),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
                "idx"
            ),
        )
        .distinct()
    )
    toksidx = t.select(F.col(key), F.posexplode("toks").alias("idx", "tok"))
    kept = (
        toksidx.join(covered, [key, "idx"], "left_anti")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("text_rewritten"),
        )
    )
    n_tok = F.size("toks")
    return t.join(kept, key, "left").select(
        F.col(key),
        n_tok.alias("n_tokens"),
        (n_tok - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce(F.col("text_rewritten"), F.lit("")).alias("text_rewritten"),
    )


def lsh_agreement(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Evaluation harness: LSH candidate pairs vs exact-Jaccard truth.

    Tuning (num_perm, bands) against a threshold is guesswork without a
    measured error profile, so this full-outer-joins the two pair sets
    and labels each pair ``hit`` (candidate and truly >= threshold),
    ``missed`` (true near-dup the banding skipped — recall loss) or
    ``extra`` (candidate below threshold — verification cost, not an
    error). At 100 TB you run it on a sampled shard; both inputs are
    already bucket-join shaped, and the agreement join keys on the pair
    ids themselves.
    """
    truth = ngram_jaccard_pairs(docs, key, text, n, threshold).select(
        F.col("doc_a").alias("ta"), F.col("doc_b").alias("tb")
    )
    cand = minhash_lsh_pairs(docs, key, text, n, num_perm, bands).select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb")
    )
    j = truth.join(
        cand, (F.col("ta") == F.col("ca")) & (F.col("tb") == F.col("cb")), "full_outer"
    )
    status = (
        F.when(F.col("ta").isNotNull() & F.col("ca").isNotNull(), F.lit("hit"))
        .when(F.col("ta").isNotNull(), F.lit("missed"))
        .otherwise(F.lit("extra"))
    )
    return j.select(
        F.coalesce(F.col("ta"), F.col("ca")).alias("doc_a"),
        F.coalesce(F.col("tb"), F.col("cb")).alias("doc_b"),
        status.alias("status"),
    )


def lsh_arrival_dedup(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Arrival-ordered (greedy) LSH dedup with BUCKET-CLAIM semantics:
    the earliest doc (smallest key — crawl page ids are monotone with
    arrival) to touch each LSH band bucket owns it; a doc is a duplicate
    iff any of its buckets is owned by an earlier doc, ``dup_of`` = the
    earliest such owner (itself when it survives).

    This is the batch twin of ``streaming/dedup.lsh_dedup_stream`` —
    the online policy a crawl edge actually runs (each bucket is claimed
    independently; claims are NOT restricted to surviving docs, which is
    what makes the policy single-pass and parallel — unlike the
    transitive ``dedup_components`` release-time pass, which stays the
    batch-only complement).

    Scale shape: one groupBy per (band, bucket) with a partial-agg min,
    one equi-join back, one per-doc agg — no pair materialization at
    all (the pair join of ``minhash_lsh_pairs`` is skipped entirely).
    """
    bs = band_signatures(docs, key, text, n, num_perm, bands)
    own = bs.groupBy("band", "band_sig").agg(F.min(key).alias("owner"))
    return bucket_claim_verdicts(docs, bs.join(own, ["band", "band_sig"]), key)


def bucket_claim_verdicts(docs: DataFrame, claims: DataFrame, key: str = "doc_id") -> DataFrame:
    """Collapse bucket claims (key, owner) to the per-doc verdict (key,
    dup_of, is_duplicate): a doc is a duplicate iff an earlier doc owns
    one of its buckets. Docs with no claims (too short for shingles)
    survive."""
    v = claims.groupBy(key).agg(
        F.min(F.when(F.col("owner") != F.col(key), F.col("owner"))).alias("dup_src"),
        F.max(F.col("owner") != F.col(key)).alias("isd"),
    )
    return docs.select(key).join(v, key, "left").select(
        key,
        F.coalesce("dup_src", F.col(key)).alias("dup_of"),
        F.coalesce("isd", F.lit(False)).alias("is_duplicate"),
    )


def substring_spans(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    k: int = 8,
    flag_frac: float = 0.5,
    hashed: bool = False,
) -> DataFrame:
    """Exact duplicated-substring spans (ExactSubstr-style dedup, Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better"):
    every k-token window whose exact text occurs >= 2 times corpus-wide
    (any document, any position — self-repeats count, matching the
    suffix-array semantics) marks its k-token span as duplicated.

    Rather than building a corpus suffix array (a driver-side global
    structure), the distributed shape is: per-position window strings
    (one explode, linear in corpus tokens) -> groupBy window with a
    HAVING count >= 2 (partial-agg shuffle) -> equi-join positions back
    (same key, AQE coalesces) -> one per-doc window pass. Because every
    duplicated window covers exactly ``k`` tokens, merged span coverage
    needs no interval stack: sum over duplicated positions of
    ``min(k, pos - prev_pos)`` (first position contributes ``k``).

    ``hashed=True`` shuffles ``xxhash64(window)`` instead of the window
    string — the 100 TB path (8-byte keys vs ~50-byte strings through
    two shuffles); identical output barring 64-bit collisions, pinned
    equal on fixtures by tests. The string key stays the default so the
    DuckDB oracle reproduces the plan exactly.

    Generalizes the reference's exact-key get-or-create dedup
    (dao/data_handlers.py:220-312) from whole-record keys to
    within-document spans.
    """
    from ..functions.textstats import tokens

    t = docs.select(F.col(key), tokens(F.lower(F.col(text))).alias("toks"))
    n_w = F.greatest(F.size("toks") - F.lit(k - 1), F.lit(0))
    wins = F.when(
        n_w > 0,
        F.transform(
            F.sequence(F.lit(1), n_w),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = t.select(F.col(key), F.posexplode(wins).alias("pos", "win"))
    if hashed:
        w = w.select(key, "pos", F.xxhash64("win").alias("win"))
    dup = (
        w.groupBy("win")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= 2)
        .select("win")
    )
    p = w.join(dup, "win").select(key, "pos")
    prev = F.lag("pos").over(Window.partitionBy(key).orderBy("pos"))
    c = (
        p.select(
            F.col(key),
            F.when(prev.isNull(), F.lit(k))
            .otherwise(F.least(F.lit(k), F.col("pos") - prev))
            .alias("cov"),
        )
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("cov").alias("dup_span_tokens"),
        )
    )
    n_tok = F.size("toks")
    covered = F.coalesce(F.col("dup_span_tokens"), F.lit(0))
    frac = F.when(n_tok > 0, covered.cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )
    return t.join(c, key, "left").select(
        F.col(key),
        n_tok.alias("n_tokens"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias("n_dup_windows"),
        covered.cast("long").alias("dup_span_tokens"),
        F.round(frac, 6).alias("dup_frac"),
        (frac >= flag_frac).alias("is_substring_dup"),
    )


def substring_rewrite(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr span REMOVAL: rewrite each document with every token
    that falls inside a corpus-duplicated k-token window dropped (the
    destructive companion to ``substring_spans``; Lee et al. 2022 cut
    one span per duplicate cluster, we cut all occurrences — the
    stricter, order-independent policy, so output is deterministic
    under any partitioning).

    Scale shape: all joins are equi-joins on (doc, token index) — the
    covered-index set is exploded and distinct-ed rather than probed
    per token, so per-doc work is O(n_tokens * k) regardless of how
    many duplicated windows a pathological doc carries, and tokens
    never leave their doc_id shuffle key. Reassembly is one
    collect_list + array_sort per doc.
    """
    from ..functions.textstats import tokens

    t = docs.select(F.col(key), tokens(F.lower(F.col(text))).alias("toks"))
    n_w = F.greatest(F.size("toks") - F.lit(k - 1), F.lit(0))
    wins = F.when(
        n_w > 0,
        F.transform(
            F.sequence(F.lit(1), n_w),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = t.select(F.col(key), F.posexplode(wins).alias("pos", "win"))
    dup = (
        w.groupBy("win")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= 2)
        .select("win")
    )
    covered = (
        w.join(dup, "win")
        .select(
            F.col(key),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "idx"
            ),
        )
        .distinct()
    )
    toksidx = t.select(F.col(key), F.posexplode("toks").alias("idx", "tok"))
    kept = (
        toksidx.join(covered, [key, "idx"], "left_anti")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("text_rewritten"),
        )
    )
    n_tok = F.size("toks")
    return t.join(kept, key, "left").select(
        F.col(key),
        n_tok.alias("n_tokens"),
        (n_tok - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce(F.col("text_rewritten"), F.lit("")).alias("text_rewritten"),
    )


def lsh_index_probe(
    corpus: DataFrame,
    batch: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Incremental near-dup ingest: probe a NEW batch against an EXISTING
    corpus's LSH index (the crawl-snapshot shape: the settled corpus is
    indexed once; each incoming snapshot only pays for its own shingles
    plus one bucket equi-join — the corpus is never re-paired with
    itself, unlike re-running ``minhash_lsh_pairs`` over corpus ∪ batch,
    whose cost grows with the TOTAL corpus every ingest).

    A batch doc is a known near-dup iff it shares ≥1 band bucket with
    any corpus doc; ``matched_id`` is the smallest matching corpus key
    (deterministic under any partitioning). Batch docs sharing buckets
    only with each other are NOT flagged here — route survivors through
    ``lsh_arrival_dedup`` for intra-batch policy.

    Scale shape: both sides reduce to (key, band, band_sig) before the
    join; the join key is the bucket, so a 10^12-doc corpus index can be
    a bucketed/sorted table on disk and the probe a map-side lookup.

    Returns (key, is_known_dup, matched_id).
    """
    ci = lsh_index(corpus, key, text, n, num_perm, bands)
    return lsh_probe(ci, batch, key, text, n, num_perm, bands)


def lsh_index(
    corpus: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The index half of :func:`lsh_index_probe`: the corpus's bucket
    rows (_corpus_id, band, band_sig)."""
    return band_signatures(corpus, key, text, n, num_perm, bands).select(
        F.col(key).alias("_corpus_id"), "band", "band_sig"
    )


def lsh_probe(
    ci: DataFrame,
    batch: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The probe half of :func:`lsh_index_probe`: ``batch`` against the
    bucket rows ``ci`` of :func:`lsh_index`."""
    bi = band_signatures(batch, key, text, n, num_perm, bands)
    hits = (
        bi.join(ci, ["band", "band_sig"])
        .groupBy(key)
        .agg(F.min("_corpus_id").alias("matched_id"))
    )
    return batch.select(key).join(hits, key, "left").select(
        F.col(key),
        F.col("matched_id").isNotNull().alias("is_known_dup"),
        "matched_id",
    )


def token_sets(docs: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """(key, toks) with toks = distinct whitespace tokens (set semantics,
    empty-string safe — same tokenization as functions.textstats.tokens)."""
    from ..functions.textstats import tokens

    return docs.select(F.col(key), F.array_distinct(tokens(F.col(text))).alias("toks"))


def prefix_jaccard_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT token-set Jaccard >= threshold join with prefix filtering
    (the AllPairs/PPJoin candidate-generation principle, Bayardo et al.
    WWW'07 / Xiao et al. WWW'08 — public literature, no reference-repo
    analogue beyond the pg_trgm similarity joins of dao/poi_base.py).

    Where :func:`ngram_jaccard_pairs` joins on EVERY shingle, this joins
    only on each set's PREFIX under a global rarity order — the candidate
    set shrinks by the frequency of the common tokens while staying
    provably lossless:

    - Global order: tokens sorted by (document frequency asc, token asc).
      Rare tokens come first, so prefixes are built from the rarest
      tokens and hot stop-words never generate candidates on their own.
    - Per-set prefix length ``L = n - ceil(t*n) + 1``. For any pair with
      J >= t, the common overlap ``o >= t/(1+t)*(na+nb)`` exceeds both
      per-set bounds ``ceil(t*na)``/``ceil(t*nb)`` (given the length
      filter ``min >= t*max`` that J >= t itself implies), so the two
      prefixes must share a token — prefix-joined candidates are a
      superset of the true result.
    - Verification rejoins the full sorted token arrays and computes
      exact Jaccard via ``array_intersect`` (sets, so counts are sizes).

    At 100 TB: the frequency dim is a (token, df) table joined by key
    (shuffle on token — the same postings shuffle a BM25 index build
    pays); candidate generation explodes only ~(1-t)·n tokens per doc;
    the length filter prunes before the verify join. No all-pairs shape
    anywhere.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    to 6 dp.
    """
    base = token_sets(docs, key, text).where(F.size("toks") > 0)
    ex = base.select(F.col(key).alias("did"), F.explode("toks").alias("token"))
    freq = ex.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    # Per-doc tokens sorted by the global (df, token) rarity order.
    ordered = (
        ex.join(freq, "token")
        .groupBy("did")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "token"))).alias("ord_toks")
        )
        .select(
            "did",
            F.transform("ord_toks", lambda s: s["token"]).alias("ord_toks"),
            F.size("ord_toks").alias("n_tok"),
        )
    )
    prefix_len = (F.col("n_tok") - F.ceil(F.col("n_tok") * F.lit(threshold)) + 1).cast(
        "int"
    )
    pref = ordered.select(
        "did",
        "n_tok",
        F.explode(F.slice("ord_toks", 1, prefix_len)).alias("token"),
    )

    a = pref.select(
        F.col("did").alias("doc_a"), F.col("n_tok").alias("na"), "token"
    )
    b = pref.select(
        F.col("did").alias("doc_b"), F.col("n_tok").alias("nb"), "token"
    )
    cands = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        # Length filter: J >= t forces min(na, nb) >= t * max(na, nb).
        .where(
            F.least("na", "nb").cast("double")
            >= F.lit(threshold) * F.greatest("na", "nb").cast("double")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )

    ta = ordered.select(F.col("did").alias("doc_a"), F.col("ord_toks").alias("toks_a"))
    tb = ordered.select(F.col("did").alias("doc_b"), F.col("ord_toks").alias("toks_b"))
    verified = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "common", F.size(F.array_intersect("toks_a", "toks_b"))
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("toks_a") + F.size("toks_b") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def naive_token_jaccard_pairs(
    docs: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Reference form for :func:`prefix_jaccard_pairs`: join on EVERY
    token (the ngram_jaccard_pairs shape at n=1). Used by tests to prove
    the prefix filter lossless and to measure the candidate reduction;
    not a scale path."""
    base = token_sets(docs, key, text).withColumn("n_tok", F.size("toks"))
    ex = base.select(key, "n_tok", F.explode("toks").alias("token"))
    a = ex.select(F.col(key).alias("doc_a"), F.col("n_tok").alias("na"), "token")
    b = ex.select(F.col(key).alias("doc_b"), F.col("n_tok").alias("nb"), "token")
    return (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
