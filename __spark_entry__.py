"""Driver contract for the spark-graft builder (PySpark target).

Engine: osm_poi_matchmaker_spark — a PySpark-native POI match-and-conflate
engine (see SURVEY.md). Queries below map 1:1 to SURVEY.md §2 operators;
each has a DuckDB oracle over the same parquet tables. The synthetic POI
domain (pages / osm_pois / poi_common) is derived deterministically from
customer/part via integer arithmetic reproduced bit-identically in the
oracle SQL (osm_poi_matchmaker_spark/synth_sql.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_poi_matchmaker_spark import oracles_docs, synth, synth_sql

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
from osm_poi_matchmaker_spark.functions.textstats import doc_stats
from osm_poi_matchmaker_spark.functions import urls
from osm_poi_matchmaker_spark.operators import (
    dedup,
    delta,
    linkgraph,
    packing,
    quality,
    similarity,
)
from osm_poi_matchmaker_spark.operators.knn import nearest_poi_expanding
from osm_poi_matchmaker_spark.operators.match import match_pages
from osm_poi_matchmaker_spark.plans.lineage import match_lineage
from osm_poi_matchmaker_spark.tiling import cell_id


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Per-process memo of the two pipeline checkpoints every downstream query
# shares (extract → match, exactly the stages plans/pipeline.py persists in
# production). The driver runs the whole registry in ONE session; without
# this, each of the ~15 export/enrich/metric queries re-runs the full
# geotag parse + cascade from scratch — pure recomputation, not extra
# verification, since the frames are deterministic functions of the stored
# inputs. bench.py does NOT go through these helpers (it builds fresh
# persists per pass), so headline timings still pay every stage.
_MEMO: dict[tuple, DataFrame] = {}


def _memoized(key: tuple, spark: SparkSession, build: Callable[[], DataFrame]) -> DataFrame:
    df = _MEMO.get(key)
    if df is not None:
        try:
            if df.sparkSession is spark:
                return df
        except Exception:
            pass
    df = build().persist()
    df.count()
    # operators may expose their internally-persisted intermediates
    # (e.g. dbscan's pts/cross/cluster frames); once the result itself
    # is cached above they are dead blocks — release them so repeated
    # registry queries in one grading session don't accumulate storage.
    for cached in getattr(df, "_opm_persisted", []):
        try:
            cached.unpersist()
        except Exception:
            pass
    _MEMO[key] = df
    return df


def _pages_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        ("pages_geo", sf_dir), spark,
        lambda: geotag_pages(synth.pages(spark, sf_dir)),
    )


def _match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        ("match", sf_dir), spark,
        lambda: match_pages(
            _pages_geo(spark, sf_dir),
            synth.osm_pois(spark, sf_dir),
            synth.poi_common_df(spark),
            brand_rows=synth.BRAND_ROWS,
        ),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full geotag → tile → match-cascade pipeline at sf0.001."""
    return _q_match_cascade(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------- queries

def _q_geotag_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pages_geo(spark, sf_dir).select(
        "page_id", "url", "name", "lat", "lon", "city", "street",
        "housenumber", "csn", "ref", "uname",
    )


def _q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pages_geo(spark, sf_dir).select("page_id", "cell_id")


def _q_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pages_geo(spark, sf_dir)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def _q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile-count pyramid: level 0 scans points once;
    levels 1..3 each aggregate the previous level's output (log-cascade,
    never re-scanning the point table)."""
    from osm_poi_matchmaker_spark.tiling import tile_pyramid

    return tile_pyramid(_pages_geo(spark, sf_dir), levels=4)


def _q_cell_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact KDE heatmap at the 32×-coarsened grid: 5×5
    binomial (discrete-Gaussian) kernel over the cell histogram,
    reported in 1/256 mass units so the oracle hashes identically —
    the raster layer a tile server renders from, computed at
    occupied-cells scale (25× explode of the histogram, never of the
    points)."""
    from osm_poi_matchmaker_spark.tiling import X_SPAN, kde_smooth

    coarse = F.expr(
        f"((cell_id div {X_SPAN}) div 32) * {X_SPAN}"
        f" + ((cell_id % {X_SPAN}) div 32)"
    )
    return kde_smooth(_pages_geo(spark, sf_dir).select(coarse.alias("cell_id")))


def _q_kde_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom heatmap: the cell_kde base layer downsampled 4 levels
    by exact mass summation (one point scan total; the oracle groups
    each level directly — floor-div composition makes them equal)."""
    from osm_poi_matchmaker_spark.tiling import X_SPAN, kde_pyramid

    coarse = F.expr(
        f"((cell_id div {X_SPAN}) div 32) * {X_SPAN}"
        f" + ((cell_id % {X_SPAN}) div 32)"
    )
    return kde_pyramid(
        _pages_geo(spark, sf_dir).select(coarse.alias("cell_id")), levels=4
    )


def _q_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotspot cells at a 32×-coarsened grid (~5.6 km × 3.7 km over HU):
    a cell is hot when its page count beats 2× its 3×3-ring mean —
    integer cross-multiplied, exact vs the oracle. At base resolution
    the synth crawl is ~1 page/cell, so the statistic only has power on
    the coarse grid (the same reason real hotspot scans pick a ring
    radius ≫ point spacing)."""
    from osm_poi_matchmaker_spark.tiling import X_SPAN, hotspot_cells

    coarse = F.expr(
        f"((cell_id div {X_SPAN}) div 32) * {X_SPAN}"
        f" + ((cell_id % {X_SPAN}) div 32)"
    )
    return hotspot_cells(
        _pages_geo(spark, sf_dir).select(coarse.alias("cell_id")),
        factor=(2, 1),
        min_count=2,
    )


def _q_match_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _match(spark, sf_dir).select(
        "page_id",
        "osm_id",
        "node_type",
        "stage",
        "priority",
        F.round("distance", 2).alias("distance_m"),
        "poi_code",
        "poi_new",
    )


_BOUND_RADIUS_M = 50_000.0


def _q_match_cascade_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 planet-scale variant: the attribute arms (unique-name s2,
    name+csn+city s3, name+address s4 — unbounded by distance in the
    reference, poi_base.py:312-338) additionally keyed on a coarse cell
    ring and post-filtered ``distance < 50 km``. This is the documented
    semantic relaxation that bounds the same-name join blowup on the
    10^8-POI shuffle path (BENCH.md "Shuffle-degradation cascade"); the
    oracle applies the identical distance predicate."""
    m = match_pages(
        _pages_geo(spark, sf_dir),
        synth.osm_pois(spark, sf_dir),
        synth.poi_common_df(spark),
        brand_rows=synth.BRAND_ROWS,
        name_arm_radius_m=_BOUND_RADIUS_M,
    )
    return m.select(
        "page_id",
        "osm_id",
        "node_type",
        "stage",
        "priority",
        F.round("distance", 2).alias("distance_m"),
        "poi_code",
        "poi_new",
    )


def _match_planet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        ("match_planet", sf_dir), spark,
        lambda: match_pages(
            _pages_geo(spark, sf_dir),
            synth.osm_pois(spark, sf_dir),
            synth.poi_common_df(spark),
            brand_rows=synth.BRAND_ROWS,
            broadcast_candidates=False,
            name_arm_radius_m=_BOUND_RADIUS_M,
        ),
    )


def _q_match_cascade_planet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined planet-scale profile (VERDICT r3 ask #5): every
    degradation knob proven individually in rounds 2-3, exercised
    together in one plan. ``broadcast_candidates=False`` everywhere (the
    10^8-POI candidate side shuffles on the arm keys instead of
    broadcasting, ring explode on the CANDIDATE side), the attribute
    arms bounded by ``name_arm_radius_m=50 km`` (the documented semantic
    relaxation that caps the same-name join blowup), and unmatched pages
    handed to the expanding-radius kNN (250 m → 2 km rings, shuffle
    path) for a nearest-POI suggestion — the conflation queue a planet
    crawl actually feeds. Winner rows are identical to the bounded
    broadcast plan (same oracle arms); the kNN columns are NULL for
    matched pages and for unmatched pages with no POI within 2 km.
    jobs/planet_profile_bench.py measures the combined profile at 10^7
    candidates."""
    pages = _pages_geo(spark, sf_dir)
    m = _match_planet(spark, sf_dir)
    near = nearest_poi_expanding(
        pages.join(m.where(F.col("poi_new")).select("page_id"), "page_id"),
        synth.osm_pois(spark, sf_dir),
        radii=(250.0, 2000.0),
        broadcast_candidates=False,
    ).select(
        "page_id",
        F.col("osm_id").alias("near_osm_id"),
        F.round("distance", 2).alias("near_distance_m"),
    )
    return m.select(
        "page_id",
        "osm_id",
        "node_type",
        "stage",
        "priority",
        F.round("distance", 2).alias("distance_m"),
        "poi_code",
        "poi_new",
    ).join(near, "page_id", "left")


def _q_match_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_lineage(_match(spark, sf_dir))


def _q_match_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-class hierarchical aggregate (beyond the reference): match
    outcome counts with ROLLUP subtotals over (node_type, stage)."""
    return (
        _match(spark, sf_dir)
        .rollup("node_type", "stage")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_tile_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile brand leaderboard (the heatmap read-off a tile server
    would want): level-6 parent tile (64× coarser both axes, same
    integer-exact halving as tiling.tile_pyramid) of each matched
    page's cell, top-3 poi_codes per tile by matched-page count, ties
    broken poi_code-ascending for an engine-identical cut."""
    from pyspark.sql.window import Window

    m = _match(spark, sf_dir).where(F.col("osm_id").isNotNull())
    tile = F.expr(
        "((cell_id div 262144) div 64) * 262144 + ((cell_id % 262144) div 64)"
    )
    c = (
        m.select(tile.alias("tile"), "poi_code")
        .groupBy("tile", "poi_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("tile").orderBy(F.desc("n"), F.asc("poi_code"))
    return c.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)


def _q_knn_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nearest_poi_expanding(
        _pages_geo(spark, sf_dir), synth.osm_pois(spark, sf_dir), radii=(250.0, 2000.0)
    ).select("page_id", "osm_id", F.round("distance", 2).alias("distance_m"))


def _q_brand_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand co-location matrix at 250 m (which brands cluster
    together): ε-pairs from the cell-ring self-join, names via two
    broadcast joins, unordered pair key canonicalized (least, greatest),
    one partial-agg groupBy."""
    from osm_poi_matchmaker_spark.operators.spatial_cluster import brand_colocation

    return brand_colocation(synth.osm_pois(spark, sf_dir), eps_m=250.0)


def _q_nearest_competitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest different-brand POI within 2 km of each POI (catchment /
    cannibalization read-off): the kNN cell-ring self-join with a
    null-safe brand-inequality filter and a min-struct winner."""
    from osm_poi_matchmaker_spark.operators.knn import nearest_competitor

    return nearest_competitor(synth.osm_pois(spark, sf_dir), radius_m=2000.0)


def _q_poi_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering over the POI table (the grouping step a
    planet-scale conflation pipeline needs after pairwise matching; no
    reference analogue — its matcher is strictly pairwise). ε-pairs via
    the kNN cell-ring self-join (never all-pairs), core rule as a degree
    aggregate, clusters via min-label components over core-core edges;
    deterministic ids (min core osm_id). eps=400 m stays under the
    mult=128 grid pitch at the synth latitudes (~588 m lon pitch at
    47.5°N), so one ring step provably covers the radius. The
    contracted variant is the scale path: fine cells with diagonal < ε
    are provably mutual-neighbor sets, so same-cell neighbor counts are
    analytic and components run over the contracted cell graph — the
    within-knot quadratic edge term never materializes
    (bit-identical output, tested vs naive; jobs/dbscan_bench.py)."""
    return _dbscan_full(spark, sf_dir)


def _dbscan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table clustering, memoized per session (poi_dbscan and
    poi_cluster_footprints share it; the memoizer also releases the
    operator's internal persists once the result is cached)."""
    from osm_poi_matchmaker_spark.operators.spatial_cluster import (
        dbscan_clusters_contracted,
    )

    return _memoized(
        ("dbscan_full", sf_dir), spark,
        lambda: dbscan_clusters_contracted(
            synth.osm_pois(spark, sf_dir), eps_m=400.0, min_pts=3, key="osm_id"
        ),
    )


def _q_poi_cluster_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster conflation summary over the DBSCAN output: member
    count (core+border), bounding box and centroid — the rollup a
    conflation reviewer or tile renderer consumes. One groupBy over the
    clustered table; the clustering itself is the poi_dbscan plan."""
    pois = synth.osm_pois(spark, sf_dir)
    clustered = _dbscan_full(spark, sf_dir).join(
        pois.select("osm_id", "lat", "lon"), "osm_id"
    )
    return (
        clustered.where(F.col("cluster").isNotNull())
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.when(F.col("role") == "core", 1).otherwise(0))
            .cast("long")
            .alias("n_core"),
            F.round(F.min("lat"), 6).alias("lat_min"),
            F.round(F.max("lat"), 6).alias("lat_max"),
            F.round(F.min("lon"), 6).alias("lon_min"),
            F.round(F.max("lon"), 6).alias("lon_max"),
            F.round(F.avg("lat"), 6).alias("lat_centroid"),
            F.round(F.avg("lon"), 6).alias("lon_centroid"),
        )
    )


def _q_idw_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW interpolation of a POI attribute field at page locations
    (bounded 1/(1+d²) kernel — finite at coincident coords, so both
    engines compute the identical estimate): one knn-layout ring join +
    one partial-agg groupBy; pages never shuffle more than one row."""
    from osm_poi_matchmaker_spark.operators.interpolate import idw_interpolate

    sources = synth.osm_pois(spark, sf_dir).select(
        (F.abs(F.col("osm_id")) % 97).cast("double").alias("value"), "lat", "lon"
    )
    return idw_interpolate(_pages_geo(spark, sf_dir), sources, radius_m=2000.0)


def _q_poi_dbscan_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster assignment at crawl cadence: 90% of the POI
    table is the settled clustering, the osm_id%10==0 arrivals probe
    settled CORES through one cell-ring join and adopt the smallest
    neighboring cluster (greedy, like lsh_index_probe / arrival dedup —
    re-cluster merges deferred to the next full pass)."""
    from osm_poi_matchmaker_spark.operators.spatial_cluster import (
        dbscan_assign_probe,
        dbscan_clusters_contracted,
    )

    pois = synth.osm_pois(spark, sf_dir)
    settled_pts = pois.where(F.col("osm_id") % 10 != 0)
    batch = pois.where(F.col("osm_id") % 10 == 0)
    settled = _memoized(
        ("dbscan_settled", sf_dir), spark,
        lambda: dbscan_clusters_contracted(
            settled_pts, eps_m=400.0, min_pts=3, key="osm_id"
        ),
    ).join(settled_pts.select("osm_id", "lat", "lon"), "osm_id")
    return dbscan_assign_probe(batch, settled, eps_m=400.0)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def _q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), n=3, num_perm=8, bands=4)


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair graph → transitive clusters → one canonical doc per cluster
    (the step every large-scale dedup pipeline needs after banding;
    min-label propagation + pointer jumping, edge-set-only shuffles)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4)
    return dedup.dedup_components(docs, pairs)


def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware split: the whole near-dup component inherits the
    canonical id's MINSTD split, so near-duplicates never straddle
    train/test (eval leakage)."""
    from osm_poi_matchmaker_spark.operators.sampling import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4)
    return leakage_safe_split(docs, dedup.dedup_components(docs, pairs))


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best cluster dedup: canonical = longest text per near-dup
    component (ties to smallest id) — the retention policy production
    training-data pipelines use instead of min-id."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4)
    return dedup.dedup_keep_best(docs, pairs)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: benchmark = every 17th doc (id % 17 == 3),
    flag corpus docs sharing any word 8-gram with it — the near-dup
    families light up, unrelated docs stay clean."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 17 == 3).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return dedup.decontaminate(docs, bench, n=8)


def _q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (round 4): same benchmark carve
    (doc_id % 17 == 3), but instead of flagging whole docs, every token
    inside an n-gram window that occurs in the benchmark is REMOVED and
    the doc rewritten — the surgical GPT-3-appendix policy (n=13
    there; n=4 here, scaled to the synth corpus so removal is
    non-vacuous — 39 docs / 289 tokens cut at sf0.01). Benchmark
    windows broadcast; the corpus never shuffles to find hits. Output
    rows are the non-benchmark docs only (the training corpus)."""
    docs = _docs(spark, sf_dir)
    return dedup.decontaminate_spans(
        docs.where(F.col("doc_id") % 17 != 3),
        docs.where(F.col("doc_id") % 17 == 3),
        n=4,
    )


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash64(_docs(spark, sf_dir))


def _q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span stats (Lee et al. 2022): k-token
    windows occurring >=2 times corpus-wide mark spans; per-doc merged
    coverage via the fixed-window lag clamp."""
    return dedup.substring_spans(_docs(spark, sf_dir), k=8)


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (ctx=64, stride=48): the
    doc-boundary-preserving twin of pack_sequences, sized so sf0.01
    docs produce multi-chunk output non-vacuously."""
    from osm_poi_matchmaker_spark.operators.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), ctx=64, stride=48)


def _q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style static domain reweighting: per-source keep rate ==
    mean 0..3 quality indicator (exact integer ppm), MINSTD bucket keep
    test — deterministic across partitionings and resumes."""
    from osm_poi_matchmaker_spark.operators.sampling import quality_weighted_sample

    return quality_weighted_sample(_docs(spark, sf_dir))


def _q_lsh_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: docs with doc_id % 7 == 0 play the
    incoming crawl snapshot, the rest the settled indexed corpus."""
    d = _docs(spark, sf_dir)
    return dedup.lsh_index_probe(
        d.where(F.col("doc_id") % 7 != 0), d.where(F.col("doc_id") % 7 == 0)
    )


def _q_dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal: documents rewritten with every token
    inside a corpus-duplicated 8-gram window dropped (all-occurrence
    policy — deterministic under any partitioning)."""
    return dedup.substring_rewrite(_docs(spark, sf_dir), k=8)


def _q_lsh_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_agreement(_docs(spark, sf_dir))


def _q_lsh_arrival_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy bucket-claim LSH dedup (the crawl-edge online policy; batch
    twin of streaming/dedup.lsh_dedup_stream) — no pair materialization."""
    return dedup.lsh_arrival_dedup(_docs(spark, sf_dir))


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_poi_matchmaker_spark.operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir))


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_stats(_docs(spark, sf_dir))


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.repetition_stats(_docs(spark, sf_dir))


def _q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.bigram_lm_score(_docs(spark, sf_dir))


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.vocab_topk(_docs(spark, sf_dir))


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction over the corpus (Sennrich
    ACL'16): merges learned on the distinct-word vocab (corpus scanned
    once; every round touches only the vocab table), argmax pair per
    round deterministic (count DESC, lexicographic). Iterative → the
    oracle is a pinned-golden VALUES table generated by an independent
    pure-Python Sennrich implementation (tools/gen_bpe_oracle.py),
    keyed by corpus signature so one SQL string is valid at both the
    pytest and driver scale factors; also pinned EXACTLY vs the same
    reference algorithm in tests/test_bpe.py."""
    from osm_poi_matchmaker_spark.operators.bpe import learn_bpe, merges_df

    merges, _ = learn_bpe(_docs(spark, sf_dir), n_merges=12)
    return merges_df(spark, merges)


def _q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the learned merges: each DISTINCT word
    tokenized once (Arrow-batched pandas UDF), broadcast-joined back —
    corpus cost is the join, not the Python. Oracle: pinned-golden
    VALUES from an independent pure-Python Sennrich implementation
    (tools/gen_bpe_oracle.py), keyed by corpus signature; the md5 is
    over the full space-joined token stream, so a hash MATCH pins every
    token of every doc. Exact tokenization also pinned in
    tests/test_bpe.py."""
    from osm_poi_matchmaker_spark.operators.bpe import apply_bpe, learn_bpe

    docs = _docs(spark, sf_dir)
    merges, _ = learn_bpe(docs, n_merges=12)
    return apply_bpe(docs, merges).select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("tokens"))).alias("tokens_md5"),
    )


def _q_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end release disposition per doc: gate:<reason> / duplicate /
    train / val / test. All seven dispositions non-vacuous at sf0.01
    (232 train / 171+38+19 gated / 17 dup / 12 val / 11 test)."""
    from osm_poi_matchmaker_spark.operators.sampling import corpus_release

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4)
    return corpus_release(
        docs, quality.corpus_gate(docs), dedup.dedup_keep_best(docs, pairs)
    )


def _q_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop verdict (first-failing-rule): too_short →
    repetitive → high_perplexity → keep. All four reasons non-vacuous
    at sf0.01 (272 keep / 171 repetitive / 38 high-ppl / 19 short)."""
    return quality.corpus_gate(_docs(spark, sf_dir))


def _q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.boilerplate_ngrams(_docs(spark, sf_dir), top_k=20)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality.pii_redact(_docs(spark, sf_dir))


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_sequences(_docs(spark, sf_dir), ctx=512)


def _q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two crawl snapshots carved deterministically from pages: the old
    release lacks page_id % 11 == 3, the new lacks % 13 == 5, and
    % 7 == 2 pages changed content between them."""
    pages = synth.pages(spark, sf_dir).select("page_id", "url", "text")
    pid = F.col("page_id")
    old = pages.where(pid % 11 != 3).select("url", "text")
    new = pages.where(pid % 13 != 5).select(
        "url",
        F.when(pid % 7 == 2, F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return delta.crawl_delta(old, new)


def _messy_url_expr() -> "F.Column":
    """Deterministic messy-URL fixture derived from page_id (the synth
    crawl is single-host/clean, so the canonicalizer needs adversarial
    inputs): mixed-case scheme/host, cdn subdomains, default :443 port,
    trailing slash, utm tracking params, unsorted params, fragments.
    Mirrored byte-for-byte by _messy_url_sql()."""
    pid = F.col("page_id")
    return F.concat(
        F.when(pid % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(
            pid % 2 == 1, F.concat(F.lit("cdn"), (pid % 7).cast("string"), F.lit("."))
        ).otherwise(F.lit("")),
        F.when(pid % 3 == 0, F.lit("CC.Example")).otherwise(F.lit("cc.example")),
        F.when(pid % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/"),
        pid.cast("string"),
        F.when(pid % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(pid % 7 == 0, F.lit(""))
        .when(pid % 2 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .otherwise(F.lit("?b=2&a=1")),
        F.when(pid % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def _template_url_expr() -> "F.Column":
    """Deterministic template-URL fixture derived from page_id: four
    path layouts (entity pages with embedded ids, a dated blog shape,
    a flat product page, a static page) across three hosts — the shape
    a real crawl presents to template clustering. Mirrored by the
    url_templates oracle SQL."""
    pid = F.col("page_id")
    host = (
        F.when(pid % 3 == 0, F.lit("shop.example"))
        .when(pid % 3 == 1, F.lit("news.example"))
        .otherwise(F.lit("blog.example"))
    )
    path = (
        F.when(
            pid % 4 == 0,
            F.concat(F.lit("/store/"), pid.cast("string"), F.lit("/details")),
        )
        .when(
            pid % 4 == 1,
            F.concat(
                F.lit("/blog/"),
                (pid % 12).cast("string"),
                F.lit("/post-"),
                pid.cast("string"),
            ),
        )
        .when(
            pid % 4 == 2,
            F.concat(F.lit("/product-"), pid.cast("string"), F.lit(".html")),
        )
        .otherwise(F.lit("/about/team"))
    )
    return F.concat(F.lit("https://"), host, path)


def _q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(host, template) page counts: digit runs in the path collapse
    to {n}, so /product-17.html and /product-99.html share a row — the
    page-LAYOUT histogram of the crawl."""
    pages = synth.pages(spark, sf_dir).select(_template_url_expr().alias("url"))
    return urls.template_stats(pages)


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the crawl's host graph (12 synthetic
    hosts, page_id % 12; each host links to h+1, h+2, h+5 mod 12 so
    out-degree is uniformly 3 and every host has in-degree 3). Start
    mass is each host's page count; 4 iterations at damping 17/20. All
    arithmetic is BIGINT (see operators/linkgraph.py) so the unrolled
    DuckDB oracle hashes identically."""
    pages = synth.pages(spark, sf_dir)
    hid = (F.col("page_id") % 12).cast("long")
    nodes = (
        pages.groupBy(hid.alias("hid"))
        .agg(F.count("*").alias("weight"))
        .select(
            F.concat(F.lit("host"), F.col("hid").cast("string")).alias("node"),
            "weight",
            "hid",
        )
    )
    edges = nodes.select(
        "hid", F.explode(F.array(F.lit(1), F.lit(2), F.lit(5))).alias("off")
    ).select(
        F.concat(F.lit("host"), F.col("hid").cast("string")).alias("src"),
        F.concat(
            F.lit("host"), ((F.col("hid") + F.col("off")) % 12).cast("string")
        ).alias("dst"),
    )
    return linkgraph.pagerank(
        nodes.select("node", "weight"), edges, iterations=4
    )


def _q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled fetch plan over a 3-host frontier: per-host
    slots by (priority desc, url), per-host crawl-delays, quota 200."""
    from osm_poi_matchmaker_spark.operators.frontier import frontier_schedule

    pid = F.col("page_id")
    host = (
        F.when(pid % 3 == 0, F.lit("shop.example"))
        .when(pid % 3 == 1, F.lit("news.example"))
        .otherwise(F.lit("blog.example"))
    )
    fr = synth.pages(spark, sf_dir).select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), pid.cast("string")
        ).alias("url"),
        host.alias("host"),
        (pid % 100).alias("priority"),
    )
    return frontier_schedule(
        fr,
        host_delays_ms={"shop.example": 500, "news.example": 2000},
        default_delay_ms=1000,
        quota=200,
    )


_ROBOTS_RULES = [
    ("shop.example", "/store/", False),
    ("shop.example", "/store/1", True),
    ("news.example", "/product-", False),
    ("blog.example", "/", False),
    ("blog.example", "/blog/", True),
]


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 longest-match robots verdicts over a 3-host frontier:
    shop disallows /store/ but re-allows /store/1* (the longer rule
    wins), news blocks product pages, blog blocks everything except
    /blog/, and unmatched paths default to allowed."""
    from osm_poi_matchmaker_spark.operators.frontier import robots_filter

    pid = F.col("page_id")
    host = (
        F.when(pid % 3 == 0, F.lit("shop.example"))
        .when(pid % 3 == 1, F.lit("news.example"))
        .otherwise(F.lit("blog.example"))
    )
    path = (
        F.when(
            pid % 4 == 0,
            F.concat(F.lit("/store/"), pid.cast("string"), F.lit("/details")),
        )
        .when(
            pid % 4 == 1,
            F.concat(
                F.lit("/blog/"),
                (pid % 12).cast("string"),
                F.lit("/post-"),
                pid.cast("string"),
            ),
        )
        .when(
            pid % 4 == 2,
            F.concat(F.lit("/product-"), pid.cast("string"), F.lit(".html")),
        )
        .otherwise(F.concat(F.lit("/about/"), pid.cast("string")))
    )
    fr = synth.pages(spark, sf_dir).select(
        F.concat(F.lit("https://"), host, path).alias("url"),
        host.alias("host"),
        path.alias("path"),
    )
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, prefix string, allow boolean"
    )
    return robots_filter(fr, rules)


def _q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _messy_url_expr()
    return synth.pages(spark, sf_dir).select(
        "page_id",
        m.alias("url_raw"),
        urls.url_normalize(m).alias("canon_url"),
    )


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth.pages(spark, sf_dir).select(
        _messy_url_expr().alias("url"), "text"
    )
    return urls.domain_stats(pages)


def _q_domain_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host exact text-length p50/p90/p99 (percentile ≡ DuckDB
    quantile_cont, same linear-interpolation definition) — what
    per-domain length gates actually cut on; one partial-agg groupBy
    on a two-column projection."""
    pages = synth.pages(spark, sf_dir).select(
        _messy_url_expr().alias("url"), "text"
    )
    return urls.domain_quantiles(pages)


def _q_doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-style rolling hash over each document's token stream —
    the incrementally-composable fingerprint for chunked/streaming ingest
    (beyond the reference, per the training-data-pipeline brief)."""
    from osm_poi_matchmaker_spark.functions.textstats import rolling_fingerprint

    d = _docs(spark, sf_dir)
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("rhash"))


def _q_ann_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return similarity.brute_force_topk(emb.where(F.col("vec_id") % 50 == 0), emb, k=5)


def _q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return similarity.lsh_topk(
        emb.where(F.col("vec_id") % 50 == 0), emb, dim=64, k=5, bits=6, bands=16
    )


def _q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_topk(
        emb.where(F.col("vec_id") % 50 == 0), emb, k=5, centroid_mod=100, nprobe=2
    )


def _q_ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over the int8 scalar-quantized corpus (SQ8 + asymmetric
    distance): 4× smaller embedding scans/shuffles at 100 TB, recall
    cost made measurable by ann_recall. Codes and reconstruction are
    floor-exact, so the DuckDB oracle reproduces them bit-identically."""
    emb = _embeddings(spark, sf_dir)
    return similarity.sq8_topk(emb.where(F.col("vec_id") % 50 == 0), emb, k=5)


def _q_ann_topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × SQ8 composed (FAISS ``IVF,SQ8``): inverted lists prune to
    nprobe/√N of the corpus AND the list payload is int8 (4× smaller
    scans) — the production ANN recommendation (VERDICT r3 ask #2).
    Assignment/probing full-precision, scoring asymmetric against the
    floor-exact SQ8 reconstruction, so the DuckDB oracle composes the
    two proven oracles bit-identically."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_sq8_topk(
        emb.where(F.col("vec_id") % 50 == 0), emb, k=5, centroid_mod=100, nprobe=2
    )


def _kmeans_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared trained-centroid frame for the kmeans family (dim=64 is the
    synth embeddings schema; production passes its own)."""
    emb = _embeddings(spark, sf_dir)
    return similarity.kmeans_centroids(emb, dim=64, centroid_mod=100, iters=3)


def _q_ivf_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed fixed-iteration Lloyd training of the IVF centroids
    (VERDICT r4 ask #1): 2 rounds of broadcast-assign + integer-quantized
    per-cluster mean (micro-unit BIGINT sums — aggregation-order-free, so
    the DuckDB twin is bit-identical). Output exploded to
    (centroid_id, pos, val) so the value hash pins every component."""
    cents = _kmeans_cents(spark, sf_dir)
    return cents.select(
        "centroid_id", F.posexplode("cent_vec").alias("pos", "val")
    )


def _q_ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over Lloyd-TRAINED centroids — same nprobe, same probe
    structure as ann_topk_ivf, recall@5 0.54 → 0.62 on the synth
    embeddings (ann_recall_kmeans is the read-off). Each training round
    is one job with no shuffle: the partitions' integer sums meet on the
    driver, which takes the exact micro-unit mean."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_topk(
        emb.where(F.col("vec_id") % 50 == 0),
        emb,
        k=5,
        nprobe=2,
        cents=_kmeans_cents(spark, sf_dir),
    )


def _q_ann_recall_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the trained-centroid IVF vs exact brute
    force — pairs with ann_recall's 'ivf' leg as the before/after
    evidence that Lloyd training buys recall at equal nprobe."""
    exact = _q_ann_topk_exact(spark, sf_dir)
    return similarity.ann_recall(
        exact, _q_ann_topk_ivf_kmeans(spark, sf_dir), "ivf_kmeans"
    )


def _pq_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared trained PQ codebooks (m=8 subspaces of 8 dims, ~100
    codewords per subspace from the vec_id % 5 == 1 seeds, 2 L2 Lloyd
    rounds)."""
    emb = _embeddings(spark, sf_dir)
    return similarity.pq_codebooks(emb, dim=64, m=8, sub_mod=5, iters=2)


def _q_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (round 5): per-subspace
    L2 Lloyd over the sub-vector space — the FAISS PQ training step as
    pure DataFrame work, deterministic via the same integer micro-unit
    mean quantization as ivf_kmeans_centroids. Output exploded to
    (subspace, centroid_id, pos, val) so the value hash pins every
    codeword component."""
    books = _pq_books(spark, sf_dir)
    return books.select(
        "subspace", "centroid_id", F.posexplode("cent_vec").alias("pos", "val")
    )


def _q_ann_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ with refine (round 5) — the deepest-compression ANN
    path (m-byte codes: 32× smaller than float32 vs SQ8's 4×), composed
    with the Lloyd-trained coarse centroids and the FAISS
    IndexRefineFlat re-rank: PQ reconstruction shortlists the top-40
    per query, full-precision cosine re-ranks. Recall@5 0.62 on the
    synth embeddings — identical to float IVF at equal nprobe, at 32×
    the scan-byte compression."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_pq_topk(
        emb.where(F.col("vec_id") % 50 == 0),
        emb,
        dim=64,
        k=5,
        nprobe=2,
        m=8,
        cents=_kmeans_cents(spark, sf_dir),
        books=_pq_books(spark, sf_dir),
        refine=40,
    )


def _q_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of IVF×PQ+refine vs exact brute force — with
    ann_recall's 'ivf' leg and ann_recall_kmeans this completes the
    measured error profile of the whole ANN family (LSH / IVF / SQ8 /
    IVF×SQ8 / trained IVF / IVF×PQ)."""
    exact = _q_ann_topk_exact(spark, sf_dir)
    return similarity.ann_recall(
        exact, _q_ann_topk_ivf_pq(spark, sf_dir), "ivf_pq"
    )


def _q_ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (round 5): each query only matches corpus
    rows with its own ``label`` — the tenant/category predicate every
    production vector store composes with ANN. The filter rides the
    probe JOIN KEY (centroid_id, label) so non-matching candidates
    never materialize (post-filtering an already-cut top-k under-fills
    k); at 100 TB the corpus is bucketed by (label, centroid_id) and a
    probe is a partition-pruned scan of one tenant's lists."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_topk_filtered(
        emb.where(F.col("vec_id") % 50 == 0), emb, filter_col="label",
        k=5, centroid_mod=100, nprobe=2,
    )


def _q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN self-join (round 5): top-5 neighbors for EVERY
    vector through the IVF lists — N·nprobe·(N/K) scored pairs instead
    of N², one shared nearest-list ranking feeding both join sides, a
    single bucketed equi-join on centroid_id. The batch shape
    semantic-dedup and recommendation backfills run at corpus scale."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_knn_join(emb, k=5, centroid_mod=100, nprobe=2)


def _q_ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning curve (round 5): IVF recall@5 at nprobe 1 / 2 /
    4 in one frame — the read-off that picks the probe budget (recall
    rises with nprobe, probe cost rises linearly; the knee is the
    setting). Each leg shares the exact frame; method names carry the
    nprobe."""
    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0)
    exact = _q_ann_topk_exact(spark, sf_dir)
    legs = [
        similarity.ann_recall(
            exact,
            similarity.ivf_topk(q, emb, k=5, centroid_mod=100, nprobe=p),
            f"ivf_nprobe_{p}",
        )
        for p in (1, 2, 4)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


def _q_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health stats (round 5): per-list occupancy plus the
    FAISS imbalance factor (Σsize²·K/N²) — probe cost scales with it,
    and a mega-list here is the embedding-space twin of a mega-cell in
    the tiling layer. The read-off that triggers salting/retraining
    BEFORE a probe-latency regression does."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_index_stats(emb, centroid_mod=100)


def _q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest (round 5): the vec_id % 7 == 0 shard
    arrives as a batch against the settled rest-of-corpus index —
    assignment cost ∝ batch (broadcast centroids), the corpus is never
    re-scanned; cent_sim is the routing confidence whose drift says
    when to retrain. Completes the ingest-shape family
    (lsh_index_probe / semantic_probe / ann_index_append)."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_index_append(
        emb.where(F.col("vec_id") % 7 != 0),
        emb.where(F.col("vec_id") % 7 == 0),
        centroid_mod=100,
    )


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the LSH, IVF and SQ8 paths vs exact brute
    force — the tuning read-off for (bits, nprobe, centroids, codec)."""
    exact = _q_ann_topk_exact(spark, sf_dir)
    return (
        similarity.ann_recall(exact, _q_ann_topk_lsh(spark, sf_dir), "lsh")
        .unionAll(similarity.ann_recall(exact, _q_ann_topk_ivf(spark, sf_dir), "ivf"))
        .unionAll(similarity.ann_recall(exact, _q_ann_topk_sq8(spark, sf_dir), "sq8"))
    )


def _q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Threshold 0.35 is tuned to the synthetic corpus (random embeddings —
    # real near-dup corpora would use ~0.9); the operator semantics are
    # threshold-independent.
    return similarity.embedding_cosine_dup_pairs(
        _embeddings(spark, sf_dir), dim=64, threshold=0.35, bits=4
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (round 3): IVF-scheme centroid
    clustering, then min-earlier-dominator within each cluster. The
    0.3 threshold is tuned to the synthetic random embeddings (real
    corpora would use ~0.95); 5 centroids / ~210 dups at sf0.01."""
    return similarity.semantic_dedup(
        _embeddings(spark, sf_dir), centroid_mod=100, threshold=0.3
    )


def _q_semantic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic-dedup ingest: vectors with vec_id % 7 == 0
    play the incoming batch, the rest the settled clustered corpus
    (the lsh_index_probe split transplanted to embedding space). The
    zero-state streaming twin is exercised in
    tests/test_streaming_semantic.py."""
    e = _embeddings(spark, sf_dir)
    return similarity.semantic_index_probe(
        e.where(F.col("vec_id") % 7 != 0), e.where(F.col("vec_id") % 7 == 0)
    )


def _q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT token-set Jaccard join (AllPairs/PPJoin
    candidate generation). The oracle is deliberately the naive
    every-token join — a different algorithm — so a parity MATCH proves
    the prefix filter lossless. 0.9 threshold keeps the dense synthetic
    vocab's output at ~9k pairs with ~3-token prefixes."""
    from osm_poi_matchmaker_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(_docs(spark, sf_dir), threshold=0.9)


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine retrieval twin of bm25_topk (same query set, same
    order-stable float folding contract)."""
    from osm_poi_matchmaker_spark.operators.retrieval import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir))


def _q_pip_postcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: postcode lookup by point-in-polygon against broadcast boundary
    polygons (ray-cast mapInPandas; -1 = outside every polygon)."""
    from osm_poi_matchmaker_spark.operators.pip import point_in_polygon

    polys = synth.postcode_polygons_df(spark, sf_dir)
    located = point_in_polygon(_pages_geo(spark, sf_dir), polys)
    return located.join(
        F.broadcast(polys.select("poly_id", "postcode")), "poly_id", "left"
    ).select("page_id", "poly_id", "postcode")


def _q_pip_district(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ray-cast PIP on NON-CONVEX polygons (round 4): the production
    even-odd ray-cast UDF (operators/pip.py) against L-shaped district
    polygons plus an overlapping 'metro' rectangle. The other PIP
    oracles (postcode/city/water) test rectangles, which any bbox check
    would also pass; here the DuckDB oracle runs the SAME even-odd
    crossing arithmetic over the vertex lists, so concavity (points in
    the notch are OUTSIDE the district though inside its bbox) and the
    ORDER BY name first-hit rule on overlap (districts beat metro
    wherever both contain; metro wins only in the notches) are both
    value-verified. Rectilinear edges + 5e-6°-offset vertices vs
    1e-5°-grid points make every crossing comparison exact — bit-equal
    in both engines by construction."""
    from osm_poi_matchmaker_spark.operators.pip import point_in_polygon

    return point_in_polygon(
        _pages_geo(spark, sf_dir).where(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
        ),
        synth.district_polygons_df(spark, sf_dir),
        order_by="name",
    )


def _q_pip_enclave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-ring (hole-carrying) PIP (round 4): a donut 'county'
    polygon whose hole is filled by a separate 'enclave' polygon — the
    shape real admin boundaries have. The even-odd ray-cast crosses
    BOTH rings for a hole point, so it resolves to the enclave, not the
    county; a bbox or outer-ring-only test gets every hole point wrong.
    The hole sits over the Budapest point cluster so the case is
    non-vacuous at every scale factor. Oracle: per-ring crossing parity
    XOR'd across rings, identical arithmetic."""
    from osm_poi_matchmaker_spark.operators.pip import point_in_polygon

    return point_in_polygon(
        _pages_geo(spark, sf_dir).where(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
        ),
        synth.enclave_polygons_df(spark),
        order_by="name",
    )


def _q_page_quadkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey tile addressing (round 4): per-page base-4 tile key at
    zoom 12 over the equal-angle grid + the zoom-6 ancestor prefix and
    the tile's bounds — the interop read-off an XYZ/quadkey tile server
    consumes. Pure rational arithmetic end to end (no Mercator tan/ln
    whose last-ulp JVM-vs-libm differences could flip a floor at a tile
    edge), so the oracle is exact; tile sizes are dyadic (360/4096 =
    0.087890625°), so even the bounds hash bit-identically."""
    from osm_poi_matchmaker_spark.tiling import quadkey_tiles

    pg = (
        _pages_geo(spark, sf_dir)
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("page_id", "lat", "lon")
    )
    return quadkey_tiles(pg, zoom=12, parent_zoom=6).drop("lat", "lon")


def _q_enclave_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring-aware zonal geometry (round 4): the donut county's area is
    outer MINUS hole (exact BIGINT shoelace per ring), its centroid the
    area-weighted combination — numbers the single-ring shoelace gets
    wrong on any hole-carrying admin polygon. The enclave row doubles
    as the control: its area equals exactly the county's hole."""
    from osm_poi_matchmaker_spark.operators.pip import polygon_geometry_rings

    polys = synth.enclave_polygons_df(spark)
    return (
        polygon_geometry_rings(polys)
        .join(F.broadcast(polys.select("poly_id", "name")), "poly_id")
        .select(
            "poly_id",
            "name",
            "n_rings",
            "area2_e12",
            "area_km2",
            "centroid_lon",
            "centroid_lat",
        )
    )


def _q_district_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal polygon analytics (round 4): exact shoelace area +
    centroid per district polygon (operators/pip.polygon_geometry —
    BIGINT cross products over polygon-local integer-e6 coordinates, so
    area2_e12 is an exact integer; centroid/area_km2 are
    order-identical double folds), joined with the ray-cast PIP page
    counts for a pages-per-km² density read-off — the per-zone summary
    a tile server or coverage dashboard renders. The reference gets
    these from PostGIS; here it is pure JVM column work over the WKT,
    no Python, no shuffle beyond the count aggregation."""
    from osm_poi_matchmaker_spark.operators.pip import (
        point_in_polygon,
        polygon_geometry,
    )

    polys = synth.district_polygons_df(spark, sf_dir)
    geom = polygon_geometry(polys)
    located = point_in_polygon(
        _pages_geo(spark, sf_dir).where(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
        ),
        polys,
        order_by="name",
    )
    counts = (
        located.where(F.col("poly_id") >= 0)
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    return (
        geom.join(F.broadcast(polys.select("poly_id", "name")), "poly_id")
        .join(counts, "poly_id", "left")
        .select(
            "poly_id",
            "name",
            "n_vertices",
            "area2_e12",
            "area_km2",
            "centroid_lon",
            "centroid_lat",
            F.coalesce(F.col("n_pages"), F.lit(0)).cast("long").alias("n_pages"),
            F.round(
                F.coalesce(F.col("n_pages"), F.lit(0)).cast("double")
                / F.col("area_km2"),
                4,
            ).alias("pages_per_km2"),
        )
    )


def _q_way_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: way-nodes lookup (poi_base.py:136-142) — matched way ids
    equi-joined to the planet_osm_ways analogue, node array exploded
    with position (the reference fetches these lists per matched way,
    online_poi_matching.py:213-223; here it is one set-wide join)."""
    m = (
        _match(spark, sf_dir)
        .where(F.col("node_type") == "way")
        .select("page_id", "osm_id")
    )
    ways = synth.ways_df(spark, sf_dir)
    return m.join(ways, m.osm_id == ways.way_id).select(
        "page_id", "osm_id", F.posexplode("nodes").alias("pos", "node_id")
    )


def _q_way_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic polyline length per way, fully row-local: node coords
    are a pure function of the node id (the synth id→coord scheme both
    engines share), so the whole computation is one codegen'd
    projection — no explode, no join, no shuffle (geo.polyline_length_m).
    The reference walks each matched way's geometry through PostGIS;
    at 10^8 ways this is a single scan."""
    from osm_poi_matchmaker_spark.geo import polyline_length_m
    from osm_poi_matchmaker_spark.synth import M_LAT, M_LON

    lat_of = lambda nid: (  # noqa: E731
        (F.lit(4575000) + (nid * F.lit(M_LAT)) % F.lit(280000)).cast("double")
        / F.lit(100000.0)
    )
    lon_of = lambda nid: (  # noqa: E731
        (F.lit(1615000) + (nid * F.lit(M_LON)) % F.lit(670000)).cast("double")
        / F.lit(100000.0)
    )
    ways = synth.ways_df(spark, sf_dir)
    return ways.select(
        "way_id",
        F.size("nodes").alias("n_nodes"),
        F.round(polyline_length_m(F.col("nodes"), lat_of, lon_of), 2).alias(
            "length_m"
        ),
    )


def _way_walk_lat(nid):
    """Walk-geometry node latitude: pseudorandom per-way anchor + a
    ~122 m step per node index (segments stay short, so the ring-join
    completeness bound r + max_seg/2 holds with room at mult=32)."""
    way = F.floor(nid / F.lit(10)).cast("long")
    base = (
        (F.lit(4575000) + (way * F.lit(synth.M_LAT)) % F.lit(280000)).cast("double")
        / F.lit(100000.0)
    )
    return base + (nid % 10).cast("double") * F.lit(0.0011)


def _way_walk_lon(nid):
    way = F.floor(nid / F.lit(10)).cast("long")
    base = (
        (F.lit(1615000) + (way * F.lit(synth.M_LON)) % F.lit(670000)).cast("double")
        / F.lit(100000.0)
    )
    return base + ((nid % 10) % 2).cast("double") * F.lit(0.0013)


def _q_nearest_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snap pages to the nearest way within 2 km (point-to-polyline
    join): ring candidates over the ways' NODE cells (pitch covers
    r + max_seg/2 at every data latitude → provably exhaustive),
    exact clamped-projection segment distance computed row-local over
    the candidate's whole node array, min-struct winner. The oracle is
    the all-pairs form. max segment ≈ 159 m; mult=32 pitch ≥ 2.3 km at
    48.55°N ≥ 2000 + 80."""
    from osm_poi_matchmaker_spark.operators.ways import nearest_way

    return nearest_way(
        _pages_geo(spark, sf_dir),
        synth.ways_df(spark, sf_dir),
        _way_walk_lat,
        _way_walk_lon,
        radius_m=2000.0,
        max_seg_m=160.0,
        mult=32,
    )


_INT_SANITIZE_CASES = [
    "725.0", "725", "7.25", "abc", "", "   ", None, "725.", ".5",
    "1.2.3", "-5", "0042", "9 9", "1e3", "0", "00.00",
]


def _q_way_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker way simplification (round 3) over the walk
    geometry, eps 65 m — the transition band where ~half the ways drop
    all interior vertices and the rest split once, so both recursion
    outcomes are exercised. The oracle is an independent DuckDB
    recursive CTE of the same recursion."""
    from osm_poi_matchmaker_spark.operators.ways import simplify_ways

    return simplify_ways(
        synth.ways_df(spark, sf_dir), _way_walk_lat, _way_walk_lon, eps_m=65.0
    )


def _q_int_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21: clean_integer_fields (data_handlers.py:41-108) as a column
    expression, over its quirk cases — '7.25'→7 (int(float())), '.5'→0,
    '-5'→NULL (no sign survives isdigit), '1e3'→NULL."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import clean_integer_expr

    src = spark.createDataFrame(
        [(i, v) for i, v in enumerate(_INT_SANITIZE_CASES)], ["case_id", "raw"]
    )
    return src.select("case_id", "raw", clean_integer_expr(F.col("raw")).alias("cleaned"))


def _q_osm_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: the reference's OSM timestamp renderings (libs/osm.py:84-89
    osm_timestamp_now '%Y-%m-%dT%H:%M:%SZ'; libs/file_output.py:80-82
    TIMESTAMP_FORMAT/DATE_FORMAT) as pure date_format expressions over
    the events table (now() replaced by a stored column — deterministic)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("osm_timestamp"),
        F.date_format("ts", "yyyy-MM-dd").alias("osm_date"),
    )


def _q_ordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/W4: deterministic scan order (poi_base.py:98-111 — geo scan
    WHERE geom IS NOT NULL ORDER BY 4 address columns). The reference's
    incidental residual order is pinned with page_id as the final sort
    key (SURVEY §7 parity-trap note). The rank materializes the order so
    the driver's order-insensitive hash still verifies it — via the
    two-phase global_rank_by (range-partitioned counts + broadcast
    offsets), NOT a partitionless window: ranks are total-order
    positions, identical to the single-window form but one task per
    sampled range instead of one task total."""
    from osm_poi_matchmaker_spark.plans.export import global_rank_by

    pg = _pages_geo(spark, sf_dir).where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    order = [
        F.col("city").asc_nulls_first(),
        F.col("street").asc_nulls_first(),
        F.col("housenumber").asc_nulls_first(),
        F.col("page_id").asc(),
    ]
    return global_rank_by(pg, order, out="scan_rank", num_ranges=16).select(
        "page_id", "city", "street", "housenumber", "scan_rank"
    )


def _q_pip_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: city-name lookup by point-in-polygon against admin_level=8
    boundaries (libs/osm.py:92-109), preserving BOTH reference quirks:
    the probe point is built ``ST_MakePoint(:lat,:lon)`` — latitude on
    the x axis, a swapped probe (libs/osm.py:97) — and ties are broken
    ``ORDER BY name LIMIT 1`` (:98). Only the legacy swapped-axis
    polygons can ever contain the swapped probe; the normal-orientation
    rows never match — the observable consequence of the bug."""
    from osm_poi_matchmaker_spark.operators.pip import point_in_polygon

    polys = synth.admin_polygons_df(spark, sf_dir)
    located = point_in_polygon(
        _pages_geo(spark, sf_dir), polys, swap_xy=True, order_by="name"
    )
    return located.join(
        F.broadcast(polys.select("poly_id", F.col("name").alias("city_name"))),
        "poly_id",
        "left",
    ).select("page_id", "city_name")


def _q_fuzzy_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: dirty (city, postcode) → city dimension via the tiered fuzzy
    cascade. Inputs are deterministically dirtied extraction outputs."""
    from osm_poi_matchmaker_spark.operators.fuzzy import fuzzy_city_match

    pg = _pages_geo(spark, sf_dir)
    dirty_city = (
        F.when(F.col("page_id") % 7 == 0, F.expr("replace(city, 'City', 'Cty')"))
        .when(F.col("page_id") % 11 == 0, F.concat(F.col("city"), F.lit("x")))
        .otherwise(F.col("city"))
    )
    zip_guess = (
        F.lit(1000)
        + (F.col("page_id") + F.when(F.col("page_id") % 13 == 0, 1).otherwise(0)) % 50
    ).cast("string")
    inputs = pg.select(
        "page_id", dirty_city.alias("city"), zip_guess.alias("postcode")
    )
    return fuzzy_city_match(inputs, synth.city_dim_df(spark, sf_dir))


def _q_html_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-parity invariant: text extracted from pages.html (prettify
    pipeline, pandas UDF) equals the stored text column for EVERY url."""
    from osm_poi_matchmaker_spark.extract.html import html_text_udf

    pages = synth.pages(spark, sf_dir)
    return pages.select(
        "page_id", (html_text_udf(F.col("html")) == F.col("text")).alias("text_matches")
    )


_HU_ADDRESS_GOLDENS = [
    ("Gránátos u. 11.", "Gránátos utca", "11", None),
    ("BERCSÉNYI U.1 2934/5 HRSZ", "Bercsényi Miklós utca", "1", "2934/5"),
    ("Szérűskert utca 018910/23. hrsz. (Köles utca 1.)", "Szérűskert utca", None, "018910/23"),
    ("Palotai út 6. (Fehér Palota Üzletközpont)", "Palotai út", "6", None),
    ("Budai Vám 1.", "Budai Vám", "1", None),
    ("Kaszás u. 2.-Dózsa György út 87.", "Dózsa György út", "87", None),
    ("Bajcsy Zs. út 11.", "Bajcsy-Zsilinszky út", "11", None),
    ("Hunyadi János út 19. - Savoya Park", "Hunyadi János út", "19", None),
    ("Kölcsey F. utca 1.", "Kölcsey Ferenc utca", "1", None),
    ("Bajcsy-Zs. E. u. 31.", "Bajcsy-Zsilinszky Endre utca", "31", None),
    ("Bajcsy Zs.u. 77.", "Bajcsy-Zsilinszky utca", "77", None),
    ("Dózsa Gy.u.6.", "Dózsa György utca", "6", None),
    ("Krisztina krt. 65-67.", "Krisztina körút", "65-67", None),
    ("Fő út 24.", "Fő út", "24", None),
    ("Törvényház u. 4.", "Törvényház utca", "4", None),
    ("Alkotás u. 53.", "Alkotás utca", "53", None),
    ("Üllői út 129", "Üllői út", "129", None),
]


def _q_hu_address_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hungarian street/housenumber/hrsz extraction as a Spark plan
    (pandas UDF); oracle carries the reference's golden outputs."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import extract_street_udf

    src = spark.createDataFrame(
        [(orig,) for orig, *_ in _HU_ADDRESS_GOLDENS], ["original"]
    )
    ex = src.withColumn("ex", extract_street_udf(F.col("original")))
    return ex.select(
        "original",
        F.col("ex.street").alias("street"),
        F.col("ex.housenumber").alias("housenumber"),
        F.col("ex.conscriptionnumber").alias("conscriptionnumber"),
    )


# Reference golden rows (test/test_address.py:239-316) for the scalar
# cleaner family — clean_string (F1), clean_city (F5), clean_postcode,
# clean_url (F8), clean_phone_to_str (F7).
_SCALAR_CLEANER_GOLDENS = [
    ("string", "  ablak  zsiráf   ", "ablak zsiráf"),
    ("string", "    ", None),
    ("string", "None", None),
    ("string", "   None   ", None),
    ("string", " NULL", None),
    ("string", " NULLNone", None),
    ("string", " \n\nNULLNone", None),
    ("string", "\n", None),
    ("string", "\t", None),
    ("city", "Bük", "Bük"),
    ("city", "Csanádapáca", "Csanádapáca"),
    ("city", "Szentendre", "Szentendre"),
    ("city", "Budapest I. Kerület", "Budapest"),
    ("city", "Budapest Xxiii. Kerület", "Budapest"),
    ("city", "Mikolc", "Miskolc"),
    ("city", "Iinárcs", "Inárcs"),
    ("postcode", "1111", "1111"),
    ("postcode", "    1111     ", "1111"),
    ("postcode", "1111    ", "1111"),
    ("postcode", " ", None),
    ("postcode", "0", None),
    ("postcode", "None", None),
    ("url", "  https://examle.com//tests//url//   ", "https://examle.com/tests/url"),
    ("url", "  https://examle.com/////tests///url     ", "https://examle.com/tests/url"),
    ("phone", "0684/330-734, 0630/2374-712", "+36 84 330 734;+36 30 237 4712"),
    ("phone", "06-20-200-4000", "+36 20 200 4000"),
    ("phone", "62464024", "+36 62 464 024"),
    ("phone", " 3684330 - 734", "+36 84 330 734"),
    (
        "phone",
        "06205089009(Központi Telszám: Benzinkút, Motel, Kávézó, Szobafoglalás)",
        "+36 20 508 9009",
    ),
    ("phone", "  ", None),
    ("phone", "+36303035698", "+36 30 303 5698"),
]


def _q_scalar_cleaners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F5/F7/F8 scalar cleaners (libs/address.py:518-727) as one Spark
    plan: per-kind dispatch over Arrow-batched pandas UDFs; the oracle
    carries the reference's golden outputs."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import (
        clean_city_udf,
        clean_phone_udf,
        clean_postcode_udf,
        clean_string_udf,
        clean_url_udf,
    )

    src = spark.createDataFrame(
        [(k, o) for k, o, _ in _SCALAR_CLEANER_GOLDENS], ["kind", "original"]
    )
    cleaned = (
        F.when(F.col("kind") == "string", clean_string_udf("original"))
        .when(F.col("kind") == "city", clean_city_udf("original"))
        .when(F.col("kind") == "postcode", clean_postcode_udf("original"))
        .when(F.col("kind") == "url", clean_url_udf("original"))
        .otherwise(clean_phone_udf("original"))
    )
    return src.select("kind", "original", cleaned.alias("cleaned"))


def _scalar_cleaners_oracle_sql() -> str:
    def lit(v):
        return "CAST(NULL AS STRING)" if v is None else "'" + v.replace("'", "''") + "'"

    rows = ", ".join(
        f"({lit(k)}, {lit(o)}, {lit(c)})" for k, o, c in _SCALAR_CLEANER_GOLDENS
    )
    return "SELECT * FROM (VALUES " + rows + ") AS t(kind, original, cleaned)"


# Coordinate-hygiene cases (P8/P9, libs/geo.py:25-93): normal, swapped
# lat/lon, comma decimals, missing decimal point (>200 repoint with the
# reference's drop-3rd-char slice), unparseable, zero.
_COORD_CASES = [
    (1, "47.4979", "19.0402"),
    (2, "19.0402", "47.4979"),
    (3, "47,4979", "19,0402"),
    (4, "47123456", "19054321"),
    (5, "invalid", "19.04"),
    (6, "0", "19.04"),
    (7, "46,41", "20,33"),
    (8, "203.5", "19.05"),
]


def _q_coord_fixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9 coordinate hygiene (libs/geo.py check_geom + check_hu_boundary)
    as pure column expressions; the oracle INDEPENDENTLY recomputes the
    same semantics in DuckDB SQL (regex parse, lat/lon swap, >200
    decimal-repoint with the reference's drop-3rd-char slice quirk)."""
    from osm_poi_matchmaker_spark.geo import (
        parse_coordinate,
        with_fixed_hu_coordinates,
    )

    src = spark.createDataFrame(_COORD_CASES, ["case_id", "raw_lat", "raw_lon"])
    df = src.select(
        "case_id",
        parse_coordinate(F.col("raw_lat")).alias("lat"),
        parse_coordinate(F.col("raw_lon")).alias("lon"),
    )
    return with_fixed_hu_coordinates(df)


def _coord_fixes_oracle_sql() -> str:
    rows = ", ".join(f"({i}, '{la}', '{lo}')" for i, la, lo in _COORD_CASES)

    def parse(c):
        return (
            f"CAST(NULLIF(regexp_extract(replace(trim({c}), ',', '.'), "
            f"'(\\d{{1,3}}.\\d{{2,5}})', 1), '') AS DOUBLE)"
        )

    def repoint(c):
        d = (
            f"(CASE WHEN {c} = floor({c}) THEN CAST(CAST({c} AS BIGINT) AS VARCHAR) "
            f"ELSE CAST({c} AS VARCHAR) END)"
        )
        return (
            f"CASE WHEN {c} > 200.0 THEN "
            f"CASE WHEN substr({d}, 4) LIKE '%.%' THEN CAST(substr({d}, 1, 2) AS DOUBLE) "
            f"ELSE CAST(substr({d}, 1, 2) || '.' || substr({d}, 4) AS DOUBLE) END "
            f"ELSE {c} END"
        )

    return (
        f"WITH src AS (SELECT * FROM (VALUES {rows}) t(case_id, raw_lat, raw_lon)), "
        f"p AS (SELECT case_id, {parse('raw_lat')} AS lat, {parse('raw_lon')} AS lon FROM src), "
        "s1 AS (SELECT case_id, "
        "  CASE WHEN bad THEN NULL WHEN lat < 44.0 THEN lon ELSE lat END AS lat, "
        "  CASE WHEN bad THEN NULL WHEN lat < 44.0 THEN lat ELSE lon END AS lon "
        "  FROM (SELECT *, (lat IS NULL OR lon IS NULL OR lat = 0.0 OR lon = 0.0) AS bad FROM p)) "
        f"SELECT case_id, {repoint('lat')} AS lat, {repoint('lon')} AS lon FROM s1"
    )


# Reference smart_postcode_check goldens (test/test_online_poi_matching.py:17-71).
_SMART_POSTCODE_CASES = [
    ("9737", "9737", "9737", "9737"),
    ("9737", "9737", "9739", "9737"),
    ("9737", "9737", "9740", "9737"),
    ("9737", "9737", "9741", "9737"),
    ("9737", "9738", "9737", "9738"),
    ("9737", "9738", "9742", "9738"),
    ("9737", "9738", "9750", "9738"),
    ("1029", "1028", "1029", "1028"),
    ("1029", "1028", "1040", "1028"),
    ("1029", "1029", "1030", "1029"),
    ("1028", "1028", "1029", "1028"),
    ("5662", "5662", "5555", "5662"),
    ("1036", "1032", "1037", "1032"),
    ("1024", "0", "0", "1024"),
]


def _q_smart_postcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 postcode preference chain (online_poi_matching.py:402-465) as an
    Arrow-batched UDF over the reference's 14 golden triples."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import smart_postcode_udf

    src = spark.createDataFrame(
        [(p, o, q) for p, o, q, _ in _SMART_POSTCODE_CASES],
        ["poi_pc", "osm_pc", "query_pc"],
    )
    return src.select(
        "poi_pc", "osm_pc", "query_pc",
        smart_postcode_udf("poi_pc", "osm_pc", "query_pc").alias("result"),
    )


def _q_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 delimited-feed source (libs/pandas.py:18-50) — distributed
    spark.read.csv with schema inference; the oracle is DuckDB's own
    independent read_csv of the same fixture."""
    from osm_poi_matchmaker_spark.sources.readers import read_csv_source

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "sample.tsv"
    )
    return read_csv_source(spark, path, sep="\t")


def _q_gtfs_stops_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 GTFS stops source (dataproviders/hu_mav.py:55-106); the fixture
    feed is fixed, so the oracle carries its literal rows."""
    from osm_poi_matchmaker_spark.sources.readers import read_gtfs_stops

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "gtfs.zip"
    )
    return read_gtfs_stops(spark, path)


# F19 goldens — expected values captured by executing the reference
# is_complex_opening_hours (libs/file_output.py:84-101), incl. its two
# quirks (bare 'SH' matches 'sh' substrings; the day-range digit pattern
# fires on ordinary time ranges).
_COMPLEX_OH_CASES = [
    ("24/7", False),
    ("Mo-Fr 08:00-17:00", True),
    ("Mo-Su sunrise-sunset", True),
    ("by appointment", True),
    ("Jan-Feb off", True),
    ("Mar 15-31: closed", True),
    ("Winter 10:00-16:00", True),
    ("We shop hours", True),
    ("Mo 1-6", True),
    ("PH off", False),
    ("Mo-We", False),
    ("closed", False),
]


def _q_complex_opening_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 complex-opening-hours heuristic as one rlike expression."""
    from osm_poi_matchmaker_spark.functions.tags import is_complex_opening_hours

    src = spark.createDataFrame([(oh,) for oh, _ in _COMPLEX_OH_CASES], ["oh"])
    return src.select("oh", is_complex_opening_hours("oh").alias("is_complex"))


# F11 goldens (libs/address.py:237-263 JS-variable extraction).
_JS_VAR_CASES = [
    (
        '<html><script>\n var stores = {"a": 1, "b": [2]};\n</script><p>x</p></html>',
        "stores",
        '{"a": 1, "b": [2]}',
    ),
    # `} ;` (space before semicolon) defeats the reference regex → None
    # (libs/address.py:247 quirk, preserved)
    (
        '<html><script>\n var stores = {"a": 1, "b": [2]} ;\n</script><p>x</p></html>',
        "stores",
        None,
    ),
    ("<p>no scripts</p>", "stores", None),
    (
        '<html><script>var other = 1;</script><script>var pois = [{"id": 7}];</script></html>',
        "pois",
        '[{"id": 7}]',
    ),
    # payload ends at the FIRST `];` — the second statement is excluded
    (
        '<html><script>var boltok = [{"id": 1}];\nvar other = {"x": 2};</script></html>',
        "boltok",
        '[{"id": 1}]',
    ),
]


def _q_js_var_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 JS-variable extraction from HTML (script-tag walk + payload
    slice) via its Arrow UDF over golden pages."""
    from osm_poi_matchmaker_spark.extract.html import js_var_udf

    src = spark.createDataFrame(
        [(h, v) for h, v, _ in _JS_VAR_CASES], ["html", "varname"]
    )
    return src.select(
        "varname", js_var_udf("html", "varname").alias("payload")
    )


def _q_excel_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 Excel dim source (dataproviders/hu_generic.py:29-48): the
    settlements sheet minus 'Településrész' plus the per-big-city street
    sheets (first column → city_post_code, constant city_name,
    drop_duplicates keep-first). The workbook is decoded by the
    from-scratch stdlib XLSX parser (sources/xlsx.py) — no Excel library
    exists here; the fixture is fixed, so the oracle carries its literal
    rows."""
    from osm_poi_matchmaker_spark.sources.readers import read_city_postcodes_xlsx

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "cities.xlsx",
    )
    return read_city_postcodes_xlsx(spark, path)


def _q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/sampling.py):
    MINSTD hash-bucket of doc_id → 90/5/5 bucket ranges. Key-based, not
    row-order-based — identical on any cluster size or resume — and pure
    overflow-free BIGINT arithmetic the oracle reproduces exactly."""
    from osm_poi_matchmaker_spark.operators.sampling import assign_split

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return assign_split(d, "doc_id").select("doc_id", "lang", "split")


def _q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsample: keep iff bucket(doc_id) <
    rate(lang)·1000 — a narrow no-shuffle filter whose kept-set is
    independent of later rate-table additions (language-rebalancing for
    training corpora)."""
    from osm_poi_matchmaker_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.25, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 0.5}
    return stratified_sample(d, rates).select("doc_id", "lang")


def _q_provider_tesco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The densest reference provider (dataproviders/hu_tesco.py:83-140)
    as ONE declarative projection (sources/providers.py): JSON explode,
    clean_string/clean_url/clean_phone_to_str Arrow UDFs, street/
    housenumber/conscriptionnumber extraction, the "1".."6"/"0" opening-
    hours key mapping, the HU-boundary lat/lon swap, and the 4-way store-
    code classification with its S-Market city-exception lists. The
    fixture feed is fixed (store 3 carries swapped coordinates; store 1
    doubled whitespace and a padded goldid), so the oracle carries the
    golden rows."""
    from osm_poi_matchmaker_spark.sources.providers import tesco_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "tesco.json"
    )
    city = spark.createDataFrame(
        [("10001", "Budapest"), ("10002", "Győr"), ("10003", "Miskolc"),
         ("10004", "Szeged"), ("10005", "Levél")],
        ["ref", "city"],
    )
    return tesco_stores(spark, path, city).select(
        "ref", "code", "city", "branch", "website", "lat", "lon",
        "street", "housenumber", "conscriptionnumber", "postcode", "phone",
        "mo_open", "mo_close", "su_open", "su_close",
    )


def _q_provider_spar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_spar (dataproviders/hu_spar.py:72-106) as one projection
    (sources/providers.py:spar_stores): 5-way code classification on the
    original feed name, INTERSPAR/SPAR rewrite (DESPAR → 'DESpar' quirk),
    '(…)'-group ref extraction, clean_city/clean_string/clean_url, HU
    boundary swap, street extraction. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import spar_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "spar.json"
    )
    return spar_stores(spark, path)


def _q_provider_cba(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_cba (dataproviders/hu_cba.py:66-105) as one projection over an
    HTML page column (sources/providers.py:cba_stores): boltok_nyers JS
    variable sliced by the F11 Arrow UDF, from_json + explode, Príma/CBA
    classification, per-day clean_opening_hours_2, phone/email cleaners,
    HU boundary swap. Fixed fixture page → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import cba_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "cba.html"
    )
    with open(path, "rb") as f:
        raw = f.read()
    pages = spark.createDataFrame([(raw,)], "html binary")
    return cba_stores(pages).select(
        "code", "city", "postcode", "branch", "original", "lat", "lon",
        "street", "housenumber", "conscriptionnumber", "phone", "email",
        "mo_open", "mo_close", "tu_open", "tu_close", "su_open", "su_close",
    )


def _q_provider_posta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_posta (dataproviders/hu_posta.py:76-217) as one projection over
    the XML feed (sources/providers.py:posta_offices): PM/CS/PP
    classification, per-Hungarian-day opening hours with the reference's
    close=from1 single-interval bug, duplicate-day drop, Csütörtök lunch
    break, substring-membership nonstop counting (≥7 → True else NULL),
    hupostapo digit→'. számú' branch rewrite, housenumber len<16 setter
    guard, street/street-type composition with synthesized original.
    Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import posta_offices

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "posta.xml"
    )
    return posta_offices(spark, path)


def _q_live_tags_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 live-tag enrichment (online_poi_matching.py:238-324) set-wide:
    matched rows read through the poi_osm_cache dimension, API-table
    fallback on miss, relations always live-fetched by abs(osm_id) and
    never cached, fetch failures leave tags NULL, and the cache write-back
    (fetched ways/nodes + way `nd` member nodes batch-resolved, existing
    keys skipped) — returned as a second, 'cache_append'-tagged row set.
    Inputs derived from TPC-H tables with bit-identical SQL arithmetic."""
    from osm_poi_matchmaker_spark.operators.enrich import attach_live_tags

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))

    ok = F.col("o_orderkey")
    matched = orders.where(ok % 11 == 0).select(
        ok.alias("page_id"),
        F.when(ok % 4 == 3, -(F.col("o_custkey") % 80) - 1)
        .otherwise(F.col("o_custkey") % 80)
        .alias("osm_id"),
        F.when(ok % 4 == 1, F.lit("way"))
        .when(ok % 4 == 3, F.lit("relation"))
        .otherwise(F.lit("node"))
        .alias("node_type"),
    )
    nk = F.col("n_nationkey")
    cache = nation.select(
        (nk * 2).alias("osm_id"),
        F.when(nk % 2 == 0, F.lit("node")).otherwise(F.lit("way")).alias("node_type"),
        F.concat(F.lit("name=Cached "), nk.cast("string")).alias("live_tags"),
        (nk % 5).alias("osm_version"),
    )
    ids = customer.select((F.col("c_custkey") % 80).alias("id")).distinct()
    types = spark.createDataFrame(
        [("node", 0), ("way", 1), ("relation", 2)], ["node_type", "ord"]
    )
    i, o = F.col("id"), F.col("ord")
    api = (
        ids.crossJoin(types)
        .where((i + o) % 9 != 0)
        .select(
            i.alias("osm_id"),
            "node_type",
            F.concat(
                F.lit("name=Api "), F.col("node_type"), F.lit(" "), i.cast("string")
            ).alias("live_tags"),
            (i % 7).alias("osm_version"),
            F.when(
                F.col("node_type") == "way",
                F.array((i + 1) % 80, (i + 7) % 80, (i + 13) % 80),
            ).alias("nd"),
        )
    )
    enriched, appends = attach_live_tags(matched, cache, api)
    return enriched.select(
        F.lit("live").alias("kind"),
        "page_id",
        "osm_id",
        "node_type",
        "osm_live_tags",
        F.lit(None).cast("long").alias("osm_version"),
    ).unionByName(
        appends.select(
            F.lit("cache_append").alias("kind"),
            F.lit(None).cast("long").alias("page_id"),
            "osm_id",
            "node_type",
            F.col("live_tags").alias("osm_live_tags"),
            F.col("osm_version").cast("long"),
        )
    )


def _q_provider_posta_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_posta_json (dataproviders/hu_posta_json.py:71-106): the JSON
    Posta feed as one projection — type→code mapping with the
    'mobilposta' substring split (which never sets public_holiday_open),
    unknown types keeping code/pho NULL, RAW coordinates (no
    check_hu_boundary in this variant), strip+clean_postcode, raw name
    through the clean_branch setter chain. Fixed fixture → golden-row
    oracle."""
    from osm_poi_matchmaker_spark.sources.providers import posta_json_offices

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "posta_json.json",
    )
    return posta_json_offices(spark, path)


def _q_provider_foxpost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_foxpost (dataproviders/hu_foxpost.py:129-189): parcel-locker
    feed as one projection — variant→code map (unknown variants keep
    NULL code but emit; falsy variants drop), 'kültéri' description →
    nonstop with no day parsing, missing paymentOptions / NULL `open`
    under a truthy non-kültéri description → row dropped (the reference's
    per-record except), clean_opening_hours regex+zfill(5) per day, and
    the waxeye address overwrite that kills the feed's zip/city fields.
    Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import foxpost_lockers

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "foxpost.json",
    )
    return foxpost_lockers(spark, path)


def _q_provider_mobiliti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mobiliti_ev (dataproviders/hu_mobiliti_ev.py:49-140): EV-charger
    feed — the evses port fold with per-class quantity accumulation and
    last-port-wins output/current/voltage, per-record drops (NULL evses /
    plugType / power / current / voltage, NULL quantity onto a non-None
    count), and the guarded-setter state LEAK: dropped records' counts,
    currents and voltages carry into the next added record because the
    per-record None re-inits are no-ops (only the *_output strings reset)
    and counts keep summing across the leak. Street extraction runs on
    the full address string (prefix kept). Ordered posexplode feed +
    single-group applyInPandas scan. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mobiliti_chargers

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mobiliti_ev.json",
    )
    return mobiliti_chargers(spark, path)


def _q_provider_shell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_shell (dataproviders/hu_shell.py:50-113): fuel-station feed as a
    fully declarative projection — HU country filter, the
    capitalize-all-but-last-two-tokens street rewrite (pure array exprs),
    city fallback to the station name through clean_city(x.title()),
    empty-vs-absent website/postcode/telephone defaults, 24/7 amenity →
    nonstop+public_holiday_open, the unconditional fuel_* True family and
    amenity-driven boolean setters (never False — absent stays NULL), and
    row drops on missing address/amenities. Fixed fixture → golden-row
    oracle."""
    from osm_poi_matchmaker_spark.sources.providers import shell_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "shell.json",
    )
    return shell_stations(spark, path)


def _q_provider_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_fire_station (dataproviders/hu_fire_station.py:94-160): HTML →
    first <script> containing 'office_Map_data' → greedy single-line
    array regex → per-record category→code map where a NULL name DROPS
    categories 1/2/3 after the code assignment, leaking that code into
    following unmapped-category records (running-segment window, no
    Python in the carry); the name 'assignment' is a == comparison and
    never stored; waxeye address split + phone/email cleaners. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import fire_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "fire_station.html",
    )
    pages = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("html")
    )
    return fire_stations(pages)


def _q_provider_mkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mkb_bank (dataproviders/hu_mkb_bank.py:62-156): branch/ATM TSV —
    FIOKATM→bank vs ATM code split with inverted pho/nonstop defaults,
    the pandas-NaN 'nan' literal stored for empty day cells (whitespace-
    only cells are the only NULLs), phone EXTRACTED from the description
    text after replace_html_newlines, decimal-comma coordinates, row
    drops on missing coords (NaN.replace) or empty Megjegyzés (the
    'Akadálymentesen' in None probe), city through raw clean_string (no
    clean_city). Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mkb_banks

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mkb_bank.tsv",
    )
    return mkb_banks(spark, path)


def _q_provider_mav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mav (dataproviders/hu_mav.py:55-106): the provider layer over
    the S14 GTFS source — constant code, clean_string'd name/additional
    ref, check_hu_boundary fix (while the formatted `original` string
    keeps the RAW pre-fix coordinate order and Python float rendering).
    Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mav_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mav_gtfs.zip",
    )
    return mav_stations(spark, path)


def _q_provider_gls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_gls (dataproviders/hu_gls.py:75-133): the branch chain with
    setter re-reads (a None intermediate drops the record), email through
    the PHONE cleaner (copy-paste bug → NULL), the dead
    len('name'.split('|')) description branch, locker/shop code split
    with name=branch for shops, [lat,lon] location array, raw per-day
    hour tuples (last entry per day wins). Fixed fixture → golden-row
    oracle."""
    from osm_poi_matchmaker_spark.sources.providers import gls_points

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "gls.json",
    )
    return gls_points(spark, path)


def _q_provider_mol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mol (dataproviders/hu_mol.py:80-131): ' Sziget ' waterway-fuel
    name check, Fresh-Corner-without-SHOP/AD_BLUE/TOLL classification,
    explicit True/False service booleans (vs shell's set-True-or-NULL),
    the dead pho=True overwritten by False, drops on NULL
    name/services/gpsPosition. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mol_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mol.json",
    )
    return mol_stations(spark, path)


def _q_provider_kh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_kh_bank (dataproviders/hu_kh_bank.py:55-90): per-record-varying
    first-key payload extraction (Python dict order — pandas UDF, not
    from_json), all-or-nothing abort on any record error, the guarded
    address block that leaves NULLs instead of overwriting on a blank
    address, provider-name-driven bank/ATM variant. Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import kh_bank_pois

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "kh_bank.json",
    )
    return kh_bank_pois(spark, path, "K&H Bank")


def _q_provider_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real poi_common dimension: per-provider types() brand metadata
    (poi_code, tags JSON with the payment sets from libs/osm_tag_sets.py,
    search/avoid regexes, per-brand distances) harvested from all 42
    reference dataproviders into resources/poi_common.jsonl, deduped
    first-insert-wins by module-enable order exactly like
    get_or_create_common (dao/data_handlers.py:401). Both engines read
    the same JSONL resource through independent parsers."""
    from osm_poi_matchmaker_spark.sources.poi_common import poi_common_dim

    return poi_common_dim(spark)


def _q_brand_tag_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 tag merge (libs/file_output.py:442-694) fed by the REAL
    poi_common payloads: for every matched page whose brand has a
    harvested types() row, merge the brand common tags with per-POI
    overrides ({name, website}) and apply the contact rewrite —
    'website' becomes lowercased contact:website unless the brand
    payload already ships one (then the plain key drops). Rendered as
    a sorted k=v join for an order-insensitive hash compare."""
    from osm_poi_matchmaker_spark.functions.tags import merge_tags_udf
    from osm_poi_matchmaker_spark.sources.poi_common import (
        brand_code_bridge,
        poi_common_dim,
        tags_map,
    )
    from pyspark.sql import types as _T

    dim = poi_common_dim(spark).select(
        F.col("poi_code").alias("common_code"), tags_map().alias("brand_tags")
    )
    m = (
        _match(spark, sf_dir)
        .join(F.broadcast(brand_code_bridge(spark)), "poi_code", "left")
        .join(F.broadcast(dim), "common_code", "left")
        .where(F.col("brand_tags").isNotNull())
    )
    override = F.map_from_arrays(
        F.array(F.lit("name"), F.lit("website")),
        F.array(F.col("name"), F.col("url")),
    )
    merged = merge_tags_udf(
        F.lit(None).cast(_T.MapType(_T.StringType(), _T.StringType())),
        F.col("brand_tags"),
        override,
        F.lit(False),
    )
    rendered = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(merged),
                lambda e: F.concat(e.key, F.lit("="), e.value),
            )
        ),
        "|",
    )
    return m.select("page_id", rendered.alias("merged"))


def _q_provider_aldi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_aldi (dataproviders/hu_aldi.py:54-98): HU filter, the dayIdx
    probe with the mi-=7 Sunday fold and FIRST-match-wins break, raw
    city through clean_string (no clean_city), the phone setter's
    clean_phone_to_str over clean_string, drops on NULL openUntilSorted/
    openingHours. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import aldi_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "aldi.json",
    )
    return aldi_stores(spark, path)


def _q_provider_dm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_dm (dataproviders/hu_dm.py:50-97): strip().upper() country
    check, street split(',')[0].title() extraction, the str.format
    'None' website quirk AND clean_string eating the path's leading
    slash, the hours aggregate-fold where empty timeRanges aborts
    keeping prior days while NULL timeRanges drops the record,
    out-of-range weekDays skipped, last same-day entry wins. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import dm_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "dm.json",
    )
    return dm_stores(spark, path)


def _q_provider_penny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_penny_market (dataproviders/hu_penny_market.py:52-82): street =
    clean_string(street.split(',')[0]).title() → better_2, with drops
    when the first segment clean_strings to None (.title() raises) or
    address/street are NULL. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import penny_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "penny.json",
    )
    return penny_stores(spark, path)


def _q_provider_pepco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_pepco (dataproviders/hu_pepco.py:52-103): exact-name city gate
    against the admin_level-8 set (broadcast semi-join), the DEAD
    opening-hours probe (int keys vs string keys — no day ever set) that
    still drops records missing the key, NULL-coordinate drops. Fixed
    fixture + fixed city dim → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import pepco_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "pepco.json",
    )
    dim = spark.createDataFrame([("Budapest",), ("Szeged",)], ["name"])
    return pepco_stores(spark, path, dim)


def _q_provider_obi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_obi (dataproviders/hu_obi.py:47-78): zip .strip() NULL drop,
    guarded phone/website, clean_email, no day parsing. Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import obi_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "obi.json",
    )
    return obi_stores(spark, path)


def _q_provider_ofotert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_ofotert (dataproviders/hu_ofotert.py:54-87): inner-try day loop
    that aborts on NULL arrays / short arrays / NULL elements keeping
    prior days, the vacuous tuple-truthiness guard, clean_string phone.
    Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import ofotert_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "ofotert.json",
    )
    return ofotert_stores(spark, path)


def _q_provider_oil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_oil (dataproviders/hu_oil.py:51-81): the branch bug — a LIST
    through clean_string stringifies to its repr and [1] picks the quote
    character, so branch is always the literal apostrophe; raw-strip
    website with literal default; store/id NULL drops. Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import oil_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "oil.json",
    )
    return oil_stations(spark, path)


def _q_provider_omv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_omv (dataproviders/hu_omv.py:57-98): one open_hours range
    fanned to all seven days, the 00:00-24:00 → nonstop+pho flip with
    NULLed days, (y,x)=(lat,lon) coordinates, unconditional fuel family.
    Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import omv_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "omv.json",
    )
    return omv_stations(spark, path)


def _q_provider_kulcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_kulcs_patika (dataproviders/hu_kulcs_patika.py:49-79): a
    record with "poi": null only loses ITSELF (None.get raises inside
    the per-record try, :61); the loop only aborts when a list element
    is null/non-dict — poi_data.get raises OUTSIDE the try — modeled
    as a min-position window over null structs. NULL patika drops just
    its record, name-vs-branch split on the 'Kulcs patika' substring,
    waxeye address split. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import kulcs_patika_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "kulcs_patika.json",
    )
    return kulcs_patika_stores(spark, path)


def _q_provider_deichmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_deichmann (dataproviders/hu_deichmann.py:58-99): clean_street
    raw street (no better_2), original from the TOP-LEVEL street key,
    double-try day loop aborting on any error while keeping prior days,
    branch from address.appartment, ref from the name field. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import deichmann_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "deichmann.json",
    )
    return deichmann_stores(spark, path)


def _q_provider_yves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_yves_rocher (dataproviders/hu_yves_rocher.py:52-90): the dead
    day probe (NULL hours still drops), phone;mobile combination chain.
    Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import yves_rocher_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "yves_rocher.json",
    )
    return yves_rocher_stores(spark, path)


def _q_provider_benu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_benu (dataproviders/hu_benu.py:51-90): brand-substring
    name-vs-branch split, START-anchored PATTERN_FULL_URL website match
    (mid-text URLs → NULL), extract_all_address postcode/city with the
    street overwritten from better_2(address_street). Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import benu_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "benu.json",
    )
    return benu_stores(spark, path)


def _q_provider_easybox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_easybox (dataproviders/hu_easybox.py:53-79): countryId==237 HU
    filter, better_2 street split, clean_string'd branch/original. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import easybox_lockers

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "easybox.json",
    )
    return easybox_lockers(spark, path)


def _q_provider_sber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_sber_bank (dataproviders/hu_sber_bank.py:53-121): two record
    streams from one document (ATM + branch), kerület→county city swap,
    the '{} {}'.format(street, houseNumber.split('.')[0]) composite with
    its literal-'None' quirk, branch day entries with ''→None and
    skipped NULL entries, drops on NULL houseNumber/openTime. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import sber_bank_pois

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "sber.json",
    )
    return sber_bank_pois(spark, path)


def _q_provider_nemzeti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_nemzetidohanybolt (dataproviders/hu_nemzetidohanybolt.py:40-55):
    NO per-record try — a record missing the city/lat/address KEY
    truncates the feed (min-position window over a MapType parse),
    missing VALUES under .get keys flow as NULLs. Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import (
        nemzeti_dohanybolt_stores,
    )

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "nemzeti.json",
    )
    return nemzeti_dohanybolt_stores(spark, path)


def _q_provider_cib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_cib_bank (dataproviders/hu_cib_bank.py:57-95): IN_SERVICE
    filter, name-driven bank/ATM variant, clean_street street with
    streetNo housenumber (no extraction), NULL-location drops. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import cib_bank_pois

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "cib.json",
    )
    return cib_bank_pois(spark, path, "CIB Bank")


def _q_provider_magnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_magnet_bank (dataproviders/hu_magnet_bank.py:55-85): the
    address guard wraps the field block but add() sits outside it, so
    NULL-address records emit ALL-NULL rows; type 1 → ATM, 0/2 → bank
    with email + the hardcoded phone; unknown types keep NULLs; waxeye
    address split. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import magnet_bank_pois

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "magnet.json",
    )
    return magnet_bank_pois(spark, path)


def _q_provider_avia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_avia (dataproviders/hu_avia.py:50-100): markers JS variable
    extracted with use_replace=True (apostrophes → double quotes before
    the parse), raw-title city overwritten by the waxeye split when cim
    is non-empty, formatted website path, '1'-string service flags →
    explicit True/False family. Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import avia_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "avia.html",
    )
    pages = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("html")
    )
    return avia_stations(pages)


def _q_provider_mobil_petrol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mobil_petrol (dataproviders/hu_mobil_petrol.py:49-98): the
    totem_stations dict iterated in document order, and the locals()
    LEAK — open_from/open_to persist across loop iterations, so a
    non-nonstop record with no matching range inherits the last matched
    range from an earlier record (carry-forward window); '0-24' →
    nonstop+pho with no days; NULL services/location drop. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mobil_petrol_stations

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mobil_petrol.html",
    )
    pages = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("html")
    )
    return mobil_petrol_stations(pages)


def _q_provider_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_ccc (dataproviders/hu_ccc.py:62-87): store list from the text
    of <div id="pos-list-json">, better_2 housenumber overwritten by the
    dot-stripped house_number (NULL → drop), dead openings field. Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import ccc_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "ccc.html",
    )
    pages = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("html")
    )
    return ccc_stores(pages)


def _q_provider_jysk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_jysk (dataproviders/hu_jysk.py:48-80): index-page react-props
    ATTRIBUTE JSON + per-store detail pages (the reference's per-record
    HTTP fetch becomes a broadcast join on storeId; missing detail →
    dropped), raw-name branch overwritten by clean_branch(shop_name).
    Fixed fixtures → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import jysk_stores

    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures")
    idx = spark.read.text(os.path.join(base, "jysk_index.html"), wholetext=True).select(
        F.col("value").alias("html")
    )
    det = spark.createDataFrame(
        [
            ("J001", open(os.path.join(base, "jysk_j001.html"), encoding="utf-8").read()),
            ("J002", open(os.path.join(base, "jysk_j002.html"), encoding="utf-8").read()),
        ],
        ["ref", "html"],
    )
    return jysk_stores(idx, det)


def _q_provider_tom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_tom_market (dataproviders/hu_tom_market.py:45-82): company-
    suffix names (' e.v.', ' kft.', ' bt'…) skip the record entirely;
    empty names keep the record with a NULL branch. Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import tom_market_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "tom_market.json",
    )
    return tom_market_stores(spark, path)


def _q_provider_rossmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_rossmann (dataproviders/hu_rossmann.py:53-95): Next.js
    application/json script payload, newline-split 7-line openings with
    both-halves-or-nothing day parsing, short lists dropping the record,
    NULL openings keeping it with NULL days. Fixed fixture → golden-row
    oracle."""
    from osm_poi_matchmaker_spark.sources.providers import rossmann_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "rossmann.html",
    )
    pages = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("html")
    )
    return rossmann_stores(pages)


def _q_provider_pingvin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_pingvin_patika (dataproviders/hu_pingvin_patika.py:58-88):
    pharmacies JS variable (the quote-escape replaces are Python no-ops),
    4-way city/street split, description = last <p> of the per-record
    content HTML (missing content parses the literal 'lxml' default —
    no <p> → unset). Fixed fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import pingvin_patika_stores

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "pingvin.html",
    )
    pages = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("html")
    )
    return pingvin_patika_stores(pages)


def _q_provider_bubi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mol_bubi (dataproviders/hu_mol_bubi.py:51-104): dash-split
    name → ref/branch/description with the split[2]-first IndexError
    guard, constant Budapest city, nonstop+pho True. Fixed fixture →
    golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mol_bubi_docks

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mol_bubi.json",
    )
    return mol_bubi_docks(spark, path)


def _q_provider_plugee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_mol_plugee_ev (dataproviders/hu_mol_plugee_ev.py:50-92):
    semicolon CSV with skiprows=1, comma-decimal coordinates whose
    isinstance-float guard keeps NULL-coordinate rows, guarded int
    socket counts + clean_string outputs. Fixed fixture → golden-row
    oracle."""
    from osm_poi_matchmaker_spark.sources.providers import mol_plugee_chargers

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mol_plugee.csv",
    )
    return mol_plugee_chargers(spark, path)


def _q_provider_volanbusz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_volanbusz (dataproviders/hu_volanbusz.py:52-98) — byte-identical
    to hu_mav except the constant code. Fixed fixture → golden-row
    oracle."""
    from osm_poi_matchmaker_spark.sources.providers import volanbusz_stops

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "mav_gtfs.zip",
    )
    return volanbusz_stops(spark, path)


def _q_atp_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_alltheplaces spider registry (hu_alltheplaces.py:227-351) as one
    plan over the insights JSON: falsy brand chain, first-brand-wins per
    spider, poi_code sanitize+truncate with collision skip, keyword
    poi_type cascade, common/search-name derivation (trailing 2-char
    segment drop via an aggregate expr, str.title fallback). Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import alltheplaces_types

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "atp_insights.json",
    )
    return alltheplaces_types(spark, path)


def _q_atp_pois(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hu_alltheplaces feature importer (hu_alltheplaces.py:467-556) as one
    plan over a spider GeoJSON: Point-only, country-chain/bbox HU filter,
    boundary swap, name/ref/phone/website falsy chains through the
    POIDatasetRaw setters, addr:street-vs-combined address preference
    (incl. the `'{} {}'.format(street, None)` → 'X None' quirk). Fixed
    fixture → golden-row oracle."""
    from osm_poi_matchmaker_spark.sources.providers import alltheplaces_pois

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "atp_spider.geojson",
    )
    return alltheplaces_pois(spark, path, "tesco_hu")


def _q_zipcodes_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 postal-code XML dim source (dataproviders/hu_generic.py:60-77);
    the fixture is fixed, so the oracle carries its literal rows."""
    from osm_poi_matchmaker_spark.sources.readers import read_zipcodes_xml

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "zipcodes.xml",
    )
    return read_zipcodes_xml(spark, path)


def _q_street_types_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Street-type vocabulary XML dim (dataproviders/hu_generic.py:79-103):
    None-text skip + strip, whitespace-only element survives as ''."""
    from osm_poi_matchmaker_spark.sources.readers import read_street_types_xml

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "street_types.xml",
    )
    return read_street_types_xml(spark, path)


def _q_poi_patch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Address-patch dim (hu_generic.py:105-123 + data_handlers.py:632-658):
    tab-separated read, NaN->None->str() quirks ('None' literals, pandas
    float rendering of gapped int columns)."""
    from osm_poi_matchmaker_spark.sources.readers import read_poi_patch_csv

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "poi_patch.csv",
    )
    return read_poi_patch_csv(spark, path)


# F20 tag-merge goldens (libs/file_output.py:442-694 semantics; the same
# cases as tests/test_tags.py): layer precedence, contact:* rewrite,
# existing-contact preservation, email/website lowercasing, addr-tag drop,
# None-value skip.
_TAG_MERGE_CASES = [
    (1, {"shop": "old", "name": "Live"}, {"shop": "convenience"}, {"name": "X"},
     False, "name=X|shop=convenience"),
    (2, {"phone": "+36 1 234 5678"}, None, None, False,
     "contact:phone=+36 1 234 5678"),
    (3, {"phone": "OLD", "contact:phone": "KEEP"}, None, None, False,
     "contact:phone=KEEP"),
    (4, {"website": "HTTPS://X.HU/A", "email": "A@B.HU"}, None, None, False,
     "contact:email=a@b.hu|contact:website=https://x.hu/a"),
    (5, {"addr:city": "Bp", "name": "X"}, None, None, True, "name=X"),
    (6, {"a": None}, {"b": "1"}, None, False, "b=1"),
]


def _q_tag_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 tag-map merge + contact rewrite over MapType columns via the
    Arrow UDF; the merged map renders as a sorted k=v join so the hash
    compare is order-insensitive."""
    from osm_poi_matchmaker_spark.functions.tags import merge_tags_udf

    src = spark.createDataFrame(
        [(i, lv, cm, ov, da) for i, lv, cm, ov, da, _ in _TAG_MERGE_CASES],
        "case_id int, live map<string,string>, common map<string,string>, "
        "override map<string,string>, drop_addr boolean",
    )
    merged = merge_tags_udf("live", "common", "override", "drop_addr")
    rendered = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(merged),
                lambda e: F.concat(e.key, F.lit("="), e.value),
            )
        ),
        "|",
    )
    return src.select("case_id", rendered.alias("merged"))


# F15 relationer goldens (libs/osm.py:69-81; reference test_osm.py:16-31).
_RELATIONER_CASES = [
    (1, ["w25291279", "outer", "w25291280", "inner"],
     '[{"type":"way","ref":"25291279","role":"outer"},'
     '{"type":"way","ref":"25291280","role":"inner"}]'),
    (2, ["r555643", "", "r555642", ""],
     '[{"type":"relation","ref":"555643","role":""},'
     '{"type":"relation","ref":"555642","role":""}]'),
    (3, ["n123", "admin_centre"],
     '[{"type":"node","ref":"123","role":"admin_centre"}]'),
    (4, ["x9", "oddball"], '[{"type":"unknown","ref":"9","role":"oddball"}]'),
    (5, [], "[]"),
]


def _q_relation_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 relation-member decoder as pure array expressions: pair up the
    flat [ref, role, ...] list with sequence+transform, decode the n/w/r
    prefix with a CASE chain, render to_json for a stable compare — no
    Python in the plan."""
    src = spark.createDataFrame(
        [(i, m) for i, m, _ in _RELATIONER_CASES],
        "case_id int, members array<string>",
    )
    m = F.col("members")
    n_pairs = F.floor(F.size(m) / 2).cast("int")
    # sequence is guarded so empty lists stay empty (sequence(0,-1) would
    # infer a negative step).
    pairs = F.when(
        n_pairs > 0,
        F.transform(
            F.sequence(F.lit(0), n_pairs - 1),
            lambda i: F.struct(
                F.when(F.substring(F.element_at(m, i * 2 + 1), 1, 1) == "n", "node")
                .when(F.substring(F.element_at(m, i * 2 + 1), 1, 1) == "w", "way")
                .when(F.substring(F.element_at(m, i * 2 + 1), 1, 1) == "r", "relation")
                .otherwise("unknown")
                .alias("type"),
                F.substring(F.element_at(m, i * 2 + 1), 2, 2147483647).alias("ref"),
                F.element_at(m, i * 2 + 2).alias("role"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<type:string,ref:string,role:string>>"))
    return src.select("case_id", F.to_json(pairs).alias("members_json"))


# F17/F18 goldens (libs/compare_strings.py:14-26, libs/file_output_helper.py:13-29;
# reference tests test_file_output_helper.py:15-36).
_OSM_MISC_CASES = [
    ("compare", None, "x", " NEW "),
    ("compare", "", "x", " NEW "),
    ("compare", "x", None, " DEL "),
    ("compare", "x", "", " DEL "),
    ("compare", "x", "y", " MOD "),
    ("compare", "x", "x", " EQU "),
    ("compare", None, None, " EQU "),
    ("url_tag", "https://www.mkb.hu", "", "https://www.mkb.hu"),
    ("url_tag", "https://www.mkb.hu", None, "https://www.mkb.hu"),
    ("url_tag", "", "", None),
    ("url_tag", None, "", None),
    ("url_tag", "", None, None),
    ("url_tag", None, None, None),
    (
        "url_tag",
        "https://www.mkb.hu",
        "https://lny.io/MKB-WEB-HEREND",
        "https://lny.io/mkb-web-herend",
    ),
]


def _q_osm_misc_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 compare_strings as a pure column expression (preserving the
    reference's str(None)=='None' equality quirk) + F18 url_tag_generator
    via its Arrow UDF, over the reference golden rows."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import url_tag_udf

    src = spark.createDataFrame(
        [(k, a, b) for k, a, b, _ in _OSM_MISC_CASES], ["kind", "a", "b"]
    )
    a, b = F.col("a"), F.col("b")
    a_empty = a.isNull() | (a == "")
    b_empty = b.isNull() | (b == "")
    cmp_expr = (
        F.when(a_empty & ~b_empty, " NEW ")
        .when(~a_empty & b_empty, " DEL ")
        .when(
            F.coalesce(a, F.lit("None")) == F.coalesce(b, F.lit("None")), " EQU "
        )
        .otherwise(" MOD ")
    )
    result = F.when(F.col("kind") == "compare", cmp_expr).otherwise(
        url_tag_udf("a", "b")
    )
    return src.select("kind", "a", "b", result.alias("result"))


def _osm_misc_oracle_sql() -> str:
    def lit(v):
        return "CAST(NULL AS STRING)" if v is None else "'" + v.replace("'", "''") + "'"

    rows = ", ".join(
        f"({lit(k)}, {lit(a)}, {lit(b)}, {lit(r)})" for k, a, b, r in _OSM_MISC_CASES
    )
    return "SELECT * FROM (VALUES " + rows + ") AS t(kind, a, b, result)"


def _q_geojson_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 GeoJSON FeatureCollection source with the HU country/bbox filter
    (dataproviders/hu_alltheplaces.py:66-160); the oracle is DuckDB's own
    independent JSON parse of the same fixture plus the same filter."""
    from osm_poi_matchmaker_spark.sources.readers import read_geojson_features

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tests", "fixtures", "sample.geojson",
    )
    feats = read_geojson_features(spark, path, hu_only=True)
    return feats.select(
        "lat", "lon",
        F.col("properties.name").alias("name"),
        F.col("properties.addr_country").alias("addr_country"),
    )


def _waxeye_goldens() -> list:
    import json as _json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "waxeye_goldens.json")
    with open(path) as f:
        return [g for g in _json.load(f) if g["original"]]


def _q_hu_address_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: structured (postcode, city, street, hn, csn) parse via the
    from-scratch PEG-equivalent parser (hu_address_peg.py); oracle carries
    goldens captured behaviorally from the reference waxeye parser."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import parse_address_udf

    src = spark.createDataFrame(
        [(g["original"],) for g in _waxeye_goldens()], ["original"]
    )
    ex = src.withColumn("ex", parse_address_udf(F.col("original")))
    return ex.select(
        "original",
        F.col("ex.postcode").alias("postcode"),
        F.col("ex.city").alias("city"),
        F.col("ex.street").alias("street"),
        F.col("ex.housenumber").alias("housenumber"),
        F.col("ex.conscriptionnumber").alias("conscriptionnumber"),
    )


def _hu_address_parse_oracle_sql() -> str:
    def lit(v):
        return "CAST(NULL AS STRING)" if v is None else "'" + v.replace("'", "''") + "'"

    rows = ", ".join(
        "(" + ", ".join(lit(x) for x in [g["original"], *g["expected"]]) + ")"
        for g in _waxeye_goldens()
    )
    return (
        "SELECT * FROM (VALUES " + rows
        + ") AS t(original, postcode, city, street, housenumber, conscriptionnumber)"
    )


# --- §2 relational coverage (scans/filters/aggs/windows/set-ops/slicing) ---

def _q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family aggregation (decimal-exact sums for engine-portable hashes)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal aggregation = order-independent exactness; cast to
            # double at the edge so both engines hand pandas float64
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_top_orders_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-family: top-3 orders per customer by totalprice (row_number)."""
    from pyspark.sql.window import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rnk")
    )


def _q_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 semi/anti analogue of dedup-on-insert: keys not already present."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderstatus") == "F"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def _q_union_event_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION ALL of typed arms with an arm tag (node/way/relation shape)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = e.where(F.col("event_type") == "click").select(
        "event_id", F.lit("click_arm").alias("arm"), F.round("value", 2).alias("value_r")
    )
    b = e.where(F.col("event_type") == "error").select(
        "event_id", F.lit("error_arm").alias("arm"), F.round("value", 2).alias("value_r")
    )
    return a.unionByName(b)


def _q_export_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7: postcode-sliced export groups — global order + row_number +
    200-row slices (libs/export.py:144-166). Numbering via the two-phase
    global_row_number (one task per key-range bucket), not a
    single-partition window."""
    from osm_poi_matchmaker_spark.plans.export import global_row_number

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        global_row_number(o, [], "o_orderkey", out="_rn", bucket_shift=10)
        .withColumn("rn", F.col("_rn") - 1)
        .withColumn("slice", F.floor(F.col("rn") / 200))
        .groupBy("slice")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
    )


def _q_distinct_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct brand codes of the harvested set (create_db.py:162)."""
    return _pages_geo(spark, sf_dir).select("name").distinct()


def _q_dedup_first_per_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: dropDuplicates-keep-first analogue, deterministic (min page_id
    per city — hu_generic.py:46 semantics with a pinned order)."""
    return (
        _pages_geo(spark, sf_dir)
        .groupBy("city")
        .agg(F.min("page_id").alias("first_page"), F.count(F.lit(1)).alias("n"))
    )


def _q_fuzzy_street(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: top-5 nearby roads by trigram/levenshtein name match within
    600 m (codegen-only similarity — no UDF)."""
    from osm_poi_matchmaker_spark.operators.fuzzy import fuzzy_street_match

    return fuzzy_street_match(
        _pages_geo(spark, sf_dir), synth.roads_df(spark, sf_dir), radius_m=600.0
    )


def _q_building_relocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: unmatched (new) POIs snap onto a same-address building within
    60 m; target point from the reference's name-derived fraction."""
    from osm_poi_matchmaker_spark.operators.relocate import relocate_new_pois

    matched = _match(spark, sf_dir)
    new_keys = matched.where(F.col("poi_new")).select("page_id")
    new_pois = _pages_geo(spark, sf_dir).join(new_keys, "page_id")
    return relocate_new_pois(new_pois, synth.buildings_df(spark, sf_dir))


def _q_qc_in_water(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: in-water QC flag via the broadcast PIP join against water
    polygons (reference flags matches < 1 m from water)."""
    from osm_poi_matchmaker_spark.operators.pip import point_in_polygon

    water = synth.water_polygons_df(spark)
    located = point_in_polygon(_pages_geo(spark, sf_dir), water)
    return located.select(
        "page_id", (F.col("poly_id") != -1).alias("in_water")
    )


def _q_poi_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_star: trigram/levenshtein name-address fuzzy dedup over POI
    records, candidates generated spatially (coarse-cell adjacency).
    Input = extracted pages ∪ a deterministically jittered twin of each
    (~9 m offset) so every record has at least one true near-duplicate."""
    from osm_poi_matchmaker_spark.operators.dedup import poi_fuzzy_dedup_pairs

    pg = _pages_geo(spark, sf_dir).select(
        "page_id", "name", "street", "housenumber", "lat", "lon"
    )
    twin = pg.select(
        (F.col("page_id") + 10000000).alias("page_id"),
        "name",
        "street",
        "housenumber",
        (F.col("lat") + 0.00008).alias("lat"),
        "lon",
    )
    return poi_fuzzy_dedup_pairs(pg.unionByName(twin))


def _q_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → decode+featurize via
    mapInPandas. The decode stub is md5-seeded (operators/multimodal.py),
    so the full 16-float feature vector is value-checkable: each float is
    digest_byte/255 in float32, recovered exactly by round(x*255) and
    re-hexed — feat_hex equality against DuckDB's md5() proves every byte
    of every vector survived the Arrow round-trip."""
    from osm_poi_matchmaker_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_and_featurize,
        synth_assets,
    )

    decoded = decode_and_featurize(synth_assets(synth.pages(spark, sf_dir)))
    feat_hex = F.lower(
        F.concat_ws(
            "",
            *[
                F.lpad(
                    F.hex(F.round(F.col("feature")[i] * 255).cast("int")), 2, "0"
                )
                for i in range(FEATURE_DIM)
            ],
        )
    )
    return decoded.select(
        "asset_id", "kind", "width", "height", feat_hex.alias("feat_hex")
    )


def _q_osm_xml_name_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 name/addr flag semantics (libs/file_output.py:455-695) over the
    REAL harvested poi_common flags: preserve_original_name saves the
    live OSM name and writes it back over the provider name (:463,606);
    the bus_stop branch prefers the non-empty live name outright (:614);
    export_poi_name=False pops the name, as does the literal string
    'None' (:688-691); do_not_export_addr_tags strips the addr:* keys
    (:543). Unbridged brands take the column defaults (export true,
    preserve/drop false). The common-tag 'name' fallback is unreachable
    here because matched pages always carry a provider name — noted,
    not modeled."""
    from osm_poi_matchmaker_spark.sources.poi_common import (
        brand_code_bridge,
        poi_common_dim,
    )

    m = _match(spark, sf_dir).where(~F.col("poi_new"))
    pois = synth.osm_pois(spark, sf_dir).select(
        "osm_id",
        F.col("name").alias("live_name"),
        F.col("addr_city").alias("o_city"),
        F.col("addr_street").alias("o_street"),
    )
    dim = poi_common_dim(spark).select(
        F.col("poi_code").alias("common_code"),
        "preserve_original_name",
        "export_poi_name",
        "do_not_export_addr_tags",
        F.col("poi_type").alias("common_type"),
    )
    j = (
        m.join(pois, "osm_id")
        .join(F.broadcast(brand_code_bridge(spark)), "poi_code", "left")
        .join(F.broadcast(dim), "common_code", "left")
    )
    preserve = F.coalesce("preserve_original_name", F.lit(False))
    export_name = F.coalesce("export_poi_name", F.lit(True))
    drop_addr = F.coalesce("do_not_export_addr_tags", F.lit(False))
    is_bus = F.coalesce(F.col("common_type") == "bus_stop", F.lit(False))
    preserved = F.when(preserve & F.col("live_name").isNotNull(), F.col("live_name"))
    resolved = F.when(
        is_bus,
        F.coalesce(F.nullif("live_name", F.lit("")), preserved, F.col("name")),
    ).otherwise(F.coalesce(preserved, F.col("name")))
    xml_name = F.when(export_name & (resolved != "None"), resolved)
    return j.select(
        "page_id",
        "poi_code",
        xml_name.alias("xml_name"),
        F.when(~drop_addr, F.col("o_city")).alias("addr_city"),
        F.when(~drop_addr, F.col("o_street")).alias("addr_street"),
    )


def _q_asset_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: deterministic PNG/JPEG/WAV/OPMV payloads
    are encoded in one mapInPandas stage, shipped through Arrow as
    binary, decoded with the pure-Python codecs (zlib inflate +
    all-filter PNG reader, baseline-JPEG Huffman+DCT reader, stdlib
    wave, PNG-frame container) and featurized into exact-dyadic 16-dim
    vectors (integer sums / powers of two — zero float tolerance; the
    JPEG fixtures are constant-block images whose baseline round trip
    is bit-exact, keeping the feature closed-form despite the lossy
    format). The oracle recomputes every feature in closed form from
    the same pixel/sample arithmetic, so a single wrong byte anywhere
    in encode → decode → featurize breaks the hash."""
    from osm_poi_matchmaker_spark.operators.multimodal import (
        decode_and_featurize_real,
        synth_media_assets,
    )

    decoded = decode_and_featurize_real(
        synth_media_assets(synth.pages(spark, sf_dir))
    )
    return decoded.select(
        "asset_id", "kind", F.posexplode("feature").alias("k", "feat")
    ).withColumn("feat", F.col("feat").cast("double"))


def _q_asset_decode_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color JPEG decode (VERDICT r3 ask #3): 3-component baseline
    sequential YCbCr with 4:2:0 chroma subsampling — encoder AND
    decoder from scratch (operators/multimodal.py), integer fixed-point
    color transforms so the closed-form oracle reproduces every decoded
    byte with pure integer SQL. Fixtures are MCU-constant 32×32 RGB
    images (DC-only blocks + constant 2×2 chroma neighborhoods →
    bit-exact round trip); the UDF re-checks MCU constancy after decode
    and emits -1 on any violation, so a wrong byte anywhere in the
    color pipeline (forward transform, subsample, interleave, chroma
    Huffman tables, upsample, inverse transform) breaks the hash."""
    from osm_poi_matchmaker_spark.operators.multimodal import color_decode_values

    return color_decode_values(synth.pages(spark, sf_dir))


def _q_asset_decode_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-JPEG sampling layouts (VERDICT r4 ask #5): the 4:2:0 round
    trip of asset_decode_color re-run per layout — 4:2:2 (horizontal
    chroma pairs, 16×8 MCUs, 2 Y blocks per MCU) and 4:4:4 (no
    subsample, 8×8 MCUs) alongside 4:2:0 — on the same MCU-constant
    fixtures. Decoded constants are layout-invariant (a constant patch
    survives any box-mean subsample exactly), so the shared closed-form
    integer oracle pins all three entropy-stream geometries; odd ids
    carry DRI/RSTn restart markers in every layout."""
    from osm_poi_matchmaker_spark.operators.multimodal import color_layout_values

    return color_layout_values(synth.pages(spark, sf_dir))


def _q_poi_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: row-identity hash of the extracted address key (sha256 twin of
    the reference's sha512 — same canonicalization, oracle-checkable)."""
    from osm_poi_matchmaker_spark.functions.hashing import poi_hash_256

    pg = _pages_geo(spark, sf_dir)
    return pg.select(
        "page_id",
        poi_hash_256(
            F.col("name"), F.col("city"), F.col("street"), F.col("housenumber"), F.col("csn")
        ).alias("poi_hash"),
    )


def _q_cell_histogram_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-cell histogram via salted two-stage aggregation — results
    identical to the plain groupBy (the oracle IS the plain groupBy)."""
    from osm_poi_matchmaker_spark.operators.skew import salted_count

    pg = _pages_geo(spark, sf_dir)
    return salted_count(pg, "cell_id", n_salts=16, salt_source=F.col("page_id"), out="n_pages")


def _q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (same fn drives the
    Structured Streaming path — see streaming/events.py)."""
    from osm_poi_matchmaker_spark.streaming.events import windowed_event_stats

    return windowed_event_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond reference, SURVEY §2.3 J11): attribute each
    'view' event to the latest prior-or-equal 'click' of the same user —
    one shuffle per key, no quadratic within-key blow-up
    (operators/temporal.py). DuckDB's native ASOF JOIN is the oracle."""
    from osm_poi_matchmaker_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return asof_join(
        views,
        clicks,
        keys=["user_id"],
        left_time="ts",
        right_time="click_ts",
        carry=["click_id", "click_ts", "click_value"],
        prefix="",
    )


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join (beyond reference): every 'error' event
    falling inside the half-open 30-minute window after a 'click' of the
    same user. Time-bucketed equi-join (the time-axis analogue of the
    spatial tiling layer), exact predicate post-filter."""
    from osm_poi_matchmaker_spark.operators.temporal import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
        )
    )
    return range_join(
        errors,
        clicks,
        keys=["user_id"],
        point_time="ts",
        start="w_start",
        end="w_end",
        bucket_width_s=1800,
    ).select("user_id", "click_id", "error_id", "ts", "w_start")


def _q_raster_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster↔vector (north_rule): boundary rectangles rasterized to a
    per-cell mask (cell covered iff its center is inside), joined back
    vector-side so each geotagged page gets coverage by cell lookup."""
    from osm_poi_matchmaker_spark.operators.raster import coverage_join, rasterize_rects
    from osm_poi_matchmaker_spark.tiling import coarse_cell_id

    polys = synth.postcode_polygons_df(spark, sf_dir)
    mask = rasterize_rects(
        polys.select("poly_id", "lat_min", "lat_max", "lon_min", "lon_max"), mult=32
    )
    pts = (
        _pages_geo(spark, sf_dir)
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("page_id", coarse_cell_id(F.col("lat"), F.col("lon"), 32).alias("cell_id"))
    )
    return coverage_join(pts, mask).select("page_id", "cell_id", "covered", "poly_id")


def _q_zonal_page_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (the classic raster-GIS aggregation, and the
    north_rule's raster↔vector read-back direction): the page cell
    histogram aggregated per rasterized water zone — n_cells / total /
    min / max / mean pages per covered cell. One cell equi-join + one
    partial-agg groupBy; the raster side is the occupied-cell histogram,
    never the page table."""
    from osm_poi_matchmaker_spark.operators.raster import rasterize_rects, zonal_stats

    water = synth.water_polygons_df(spark).select(
        "poly_id", "lat_min", "lat_max", "lon_min", "lon_max"
    )
    mask = rasterize_rects(water, mult=640)  # base-grid namespace
    hist = (
        _pages_geo(spark, sf_dir)
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    return zonal_stats(hist, mask, value="n_pages")


def _q_compact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal multi-resolution cover of the occupied page cells — the
    H3 ``compact`` analogue (tiling.compact_cells): complete 2×2 sibling
    groups collapse into their parent, 3 levels up. The compacted mask
    is what a coverage layer ships as at scale (solid interiors become
    a few coarse cells; only boundaries stay fine)."""
    from osm_poi_matchmaker_spark.tiling import compact_cells

    occ = (
        _pages_geo(spark, sf_dir)
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("cell_id")
    )
    return compact_cells(occ, levels=3)


def _q_addr_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-match enrichment (online_poi_matching.py:64-199): matched
    pages' address fields overwritten with OSM truth — keyed join to the
    OSM table, PIP postcode of the OSM point, smart_postcode_check
    preference chain, per-field overwrite + changed_from_osm flag."""
    from osm_poi_matchmaker_spark.operators.enrich import enrich_matched_from_osm

    pg = _pages_geo(spark, sf_dir).where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    pois = synth.osm_pois(spark, sf_dir)
    # the memoized match checkpoint IS the cascade output left-joined onto
    # pages (osm_id null for unmatched) — enrich left-joins it by page_id,
    # so unmatched rows behave identically to being absent from `best`;
    # cascade winners are per-page independent, so the coord filter commutes
    best = _match(spark, sf_dir).select("page_id", "osm_id", "node_type")
    return enrich_matched_from_osm(
        pg,
        best,
        pois,
        synth.postcode_polygons_df(spark, sf_dir),
        synth.city_dim_df(spark, sf_dir),
    )


def _q_osm_xml_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 OSM-XML sink (libs/file_output.py:317-784) as an oracle-checked
    render: one ``<node>`` fragment per match-output row, matched rows
    keeping their osm_id and new POIs getting negative DECREASING ids in
    pinned page_id order (file_output.py:337,764). Coordinates are
    rendered as e5-grid integers so the Spark and DuckDB string casts
    agree byte-for-byte (double→string formatting differs between
    engines; the synthetic placement grid is exact at e5). Matched rows
    carry the REAL poi_common tag payload (payment:* sets, brand/
    operator metadata harvested from the reference types() methods)
    joined broadcast by the winner's poi_code and rendered as escaped
    <tag> lines in key order."""
    from osm_poi_matchmaker_spark.plans.export import osm_xml_nodes
    from osm_poi_matchmaker_spark.sources.poi_common import (
        brand_code_bridge,
        poi_common_dim,
        tags_map,
    )

    dim = poi_common_dim(spark).select(
        F.col("poi_code").alias("common_code"), tags_map().alias("brand_tags")
    )
    m = (
        _match(spark, sf_dir)
        .join(F.broadcast(brand_code_bridge(spark)), "poi_code", "left")
        .join(F.broadcast(dim), "common_code", "left")
        .withColumn("lat_s", F.round(F.col("lat") * 100000).cast("long").cast("string"))
        .withColumn("lon_s", F.round(F.col("lon") * 100000).cast("long").cast("string"))
    )
    return osm_xml_nodes(
        m, tag_cols=["name", "url"], lat="lat_s", lon="lon_s",
        tag_map="brand_tags",
    )


def _q_osm_xml_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2's per-object comment block (libs/file_output.py:413-441) as a
    column expression: OSM link comment (only for positive ids,
    file_output.py:415-416), original-coordinates comment with the
    lat-first WKT quirk (libs/geo.py:20), the distance comment with its
    asymmetric spacing — matched rows ``{d} m`` with no trailing space,
    new POIs the literal ``Non exist \\n`` INSIDE the comment
    (file_output.py:425-433) — and the ``#map=18/lat/lon`` link
    (file_output.py:222-234). Coordinates render on the e5 integer grid
    (same convention as osm_xml_render); distance as floored whole
    metres so cross-engine float repr cannot drift."""
    from osm_poi_matchmaker_spark.plans.export import osm_xml_comment_block

    m = (
        _match(spark, sf_dir)
        .withColumn("lat_s", F.round(F.col("lat") * 100000).cast("long").cast("string"))
        .withColumn("lon_s", F.round(F.col("lon") * 100000).cast("long").cast("string"))
        .withColumn("dist_m", F.floor(F.col("distance")).cast("long"))
    )
    return m.select(
        "page_id",
        osm_xml_comment_block(
            F.col("osm_id"),
            F.col("node_type"),
            F.col("lat_s"),
            F.col("lon_s"),
            F.col("dist_m"),
        ).alias("comments"),
    )


def _q_osm_xml_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 full-object render (libs/file_output.py:132-205, 363-409): every
    MATCHED row rendered as its real OSM object — nodes with lat/lon
    attributes, ways with their ``<nd ref>`` list (S6 join to the
    planet_osm_ways analogue), relations with relationer-style
    ``<member>`` rows — all with add_osm_node/add_osm_way attribute
    order, the version→'99999' default, and tag lines. One plan
    composing the match cascade, the way-nodes join, and the renderer;
    version is a deterministic function of osm_id (NULL every 5th id to
    exercise the default), timestamp a fixed literal (the reference
    stamps now() when the OSM timestamp is unknown — non-deterministic,
    pinned here for the oracle)."""
    from osm_poi_matchmaker_spark.plans.export import osm_xml_object

    m = (
        _match(spark, sf_dir)
        .where(F.col("osm_id").isNotNull())
        .withColumn("lat_s", F.round(F.col("lat") * 100000).cast("long").cast("string"))
        .withColumn("lon_s", F.round(F.col("lon") * 100000).cast("long").cast("string"))
    )
    ways = synth.ways_df(spark, sf_dir)
    m = m.join(ways, m.osm_id == ways.way_id, "left")
    nd_block = F.when(
        (F.col("node_type") == "way") & F.col("nodes").isNotNull(),
        F.concat(
            F.array_join(
                F.transform(
                    F.col("nodes"),
                    lambda n: F.concat(
                        F.lit('  <nd ref="'), n.cast("string"), F.lit('"/>')
                    ),
                ),
                "\n",
            ),
            F.lit("\n"),
        ),
    ).otherwise(F.lit(""))
    oid = F.col("osm_id")
    member_block = F.when(
        F.col("node_type") == "relation",
        F.concat(
            F.lit('  <member type="way" ref="'),
            (oid * 2).cast("string"),
            F.lit('" role="outer"/>\n  <member type="way" ref="'),
            (oid * 2 + 1).cast("string"),
            F.lit('" role="inner"/>\n'),
        ),
    ).otherwise(F.lit(""))
    tags = F.concat(
        F.coalesce(
            F.concat(F.lit('  <tag k="name" v="'), F.col("name"), F.lit('"/>\n')),
            F.lit(""),
        ),
        F.coalesce(
            F.concat(F.lit('  <tag k="url" v="'), F.col("url"), F.lit('"/>\n')),
            F.lit(""),
        ),
    )
    version = F.when(oid % 5 == 0, F.lit(None)).otherwise(oid % 9 + 1)
    frag = osm_xml_object(
        F.col("node_type"),
        oid,
        F.col("lat_s"),
        F.col("lon_s"),
        version,
        F.lit("2026-01-01T00:00:00Z"),
        F.concat(nd_block, member_block),
        tags,
    )
    return m.select("page_id", frag.alias("xml"))


def _q_ascii_numcoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ascii_numcoder`` (libs/file_output.py:103-110) over customer
    names — pure array expressions (split/transform/ascii/array_join),
    no Python in the plan. The reference's always-False digit guard
    (``i in range(0,10,1)`` with ``i`` a str) is preserved: every char
    renders as str(ord(c))."""
    from osm_poi_matchmaker_spark.plans.export import ascii_numcoder_expr

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return c.select(
        F.col("c_custkey").alias("cust_id"),
        ascii_numcoder_expr(F.col("c_name")).alias("numcoded"),
    )


def _q_geojson_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 GeoJSON sink (libs/file_output.py:237-314) as an oracle-checked
    render: one Feature string per match-output row via ``to_json`` —
    JVM-side Jackson, no Python in the plan. Nullable props are coalesced
    (name→'', osm_id→-1) because Spark's to_json omits null fields while
    DuckDB emits them; the double→JSON shortest-repr of the two engines
    agrees byte-for-byte (verified over the full grid)."""
    from osm_poi_matchmaker_spark.plans.export import geojson_feature

    m = (
        _match(spark, sf_dir)
        .withColumn("name_c", F.coalesce("name", F.lit("")))
        .withColumn("osm_id_c", F.coalesce("osm_id", F.lit(-1)))
    )
    return m.select(
        "page_id", geojson_feature(m, ["name_c", "osm_id_c"]).alias("feature")
    )


def _q_opening_hours_compile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/A3 opening-hours compiler (libs/opening_hours.py:17-155) over a
    deterministic class grid derived from customer keys: same-hours weeks
    (consecutive-run render), mixed weekday/Saturday weeks, non-stop,
    closed (open==close → None), ragged Mo,We,Su sets, and 00:00-24:00
    weeks (string-collapse path) — each crossed with the lunch-break split
    and the PH open/off suffix. Runs the Arrow-batched pandas UDF; the
    oracle carries the closed-form expected string per class."""
    from osm_poi_matchmaker_spark.functions.spark_udfs import opening_hours_udf

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k")
    )
    cls = F.col("k") % 6
    ho = F.format_string("%02d:00", (F.lit(6) + F.col("k") % 4).cast("int"))
    null_s = F.lit(None).cast("string")

    def day_open(d: int):
        return (
            F.when(cls == 0, ho)
            .when(cls == 1, F.lit("08:00") if d != 6 else null_s)
            .when(cls == 3, ho)
            .when(cls == 4, ho if d in (0, 2, 6) else null_s)
            .when(cls == 5, F.lit("00:00"))
            .otherwise(null_s)
        )

    def day_close(d: int):
        c1 = F.lit("17:00") if d < 5 else (F.lit("12:00") if d == 5 else null_s)
        return (
            F.when(cls == 0, F.lit("18:00"))
            .when(cls == 1, c1)
            .when(cls == 3, ho)
            .when(cls == 4, F.lit("18:00") if d in (0, 2, 6) else null_s)
            .when(cls == 5, F.lit("24:00"))
            .otherwise(null_s)
        )

    has_lunch = F.col("k") % 7 == 3
    return c.select(
        F.col("k").alias("cust_id"),
        opening_hours_udf(
            cls == 2,
            F.array(*[day_open(d) for d in range(7)]),
            F.array(*[day_close(d) for d in range(7)]),
            F.when(has_lunch, F.lit("12:00")).otherwise(null_s),
            F.when(has_lunch, F.lit("12:30")).otherwise(null_s),
            F.when(F.col("k") % 3 == 0, F.lit(True)).when(
                F.col("k") % 3 == 1, F.lit(False)
            ),
        ).alias("opening_hours"),
    )


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via built-in session_window (the stateful
    applyInPandasWithState twin is exercised in tests/test_sessions.py)."""
    from osm_poi_matchmaker_spark.streaming.sessions import sessionize_batch

    return sessionize_batch(spark.read.parquet(f"{sf_dir}/events.parquet"), gap_minutes=30)


# Round-5 window: the 12 new round-5 operators, every entry whose code
# path was touched this round (BPE empty-doc left join, polygon_geometry
# multi-ring guard, generalized color-JPEG decoder, cents-parameterized
# IVF family), the flagship cascade + geospatial core, and a rotation of
# entries last driver-checked in round 1.
_R5_WINDOW = [
    # round-5-new operators
    "ivf_kmeans_centroids", "ann_topk_ivf_kmeans", "ann_recall_kmeans",
    "pq_codebooks", "ann_topk_ivf_pq", "ann_recall_pq",
    "asset_decode_layouts", "ann_topk_filtered", "ann_knn_join",
    "ann_index_stats", "ann_index_append", "ann_nprobe_curve",
    # code paths touched in round 5 — re-verify
    "bpe_merges", "bpe_tokenize", "asset_decode_color",
    "asset_decode_real", "district_geometry", "enclave_geometry",
    "ann_topk_exact", "ann_topk_lsh", "ann_topk_ivf", "ann_topk_sq8",
    "ann_topk_ivf_sq8", "ann_recall", "semantic_dedup", "semantic_probe",
    "dedup_embedding_cosine",
    # flagship cascade + geospatial core
    "match_cascade", "match_cascade_bounded", "match_cascade_planet",
    "knn_nearest", "geotag_extract", "cell_assign", "cell_histogram",
    "pip_postcode", "pip_city", "pip_district", "pip_enclave",
    "building_relocation", "fuzzy_street", "fuzzy_city", "match_lineage",
    # rotation: last driver-checked in round 1
    "way_nodes", "relation_members", "osm_xml_render", "geojson_render",
    "opening_hours_compile", "hu_address_extract", "hu_address_parse",
    "scalar_cleaners", "poi_hash",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _all_queries()
    ordered = {k: q[k] for k in _R5_WINDOW}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "provider_types": _q_provider_types,
        "brand_tag_merge": _q_brand_tag_merge,
        "asset_decode_real": _q_asset_decode_real,
        "asset_decode_color": _q_asset_decode_color,
        "asset_decode_layouts": _q_asset_decode_layouts,
        "osm_xml_name_flags": _q_osm_xml_name_flags,
        "match_cascade": _q_match_cascade,
        # round-2 corpus-pipeline flagships — kept inside the driver's
        # verified window alongside the geospatial core
        "lsh_arrival_dedup": _q_lsh_arrival_dedup,
        "corpus_gate": _q_corpus_gate,
        "corpus_release": _q_corpus_release,
        "bigram_lm_score": _q_bigram_lm_score,
        "bm25_topk": _q_bm25_topk,
        "leakage_safe_split": _q_leakage_safe_split,
        "match_cascade_bounded": _q_match_cascade_bounded,
        "match_cascade_planet": _q_match_cascade_planet,
        "osm_xml_render": _q_osm_xml_render,
        "hu_address_parse": _q_hu_address_parse,
        "tag_merge": _q_tag_merge,
        "opening_hours_compile": _q_opening_hours_compile,
        "geojson_render": _q_geojson_render,
        "scalar_cleaners": _q_scalar_cleaners,
        "pip_postcode": _q_pip_postcode,
        "pip_city": _q_pip_city,
        "pip_district": _q_pip_district,
        "pip_enclave": _q_pip_enclave,
        "enclave_geometry": _q_enclave_geometry,
        "district_geometry": _q_district_geometry,
        "page_quadkeys": _q_page_quadkeys,
        "qc_in_water": _q_qc_in_water,
        "provider_tesco": _q_provider_tesco,
        "provider_spar": _q_provider_spar,
        "provider_cba": _q_provider_cba,
        "provider_posta": _q_provider_posta,
        "provider_atp_types": _q_atp_types,
        "provider_atp_pois": _q_atp_pois,
        "provider_posta_json": _q_provider_posta_json,
        "provider_foxpost": _q_provider_foxpost,
        "provider_mobiliti": _q_provider_mobiliti,
        "provider_shell": _q_provider_shell,
        "provider_fire": _q_provider_fire,
        "provider_mkb": _q_provider_mkb,
        "provider_mav": _q_provider_mav,
        "provider_gls": _q_provider_gls,
        "provider_mol": _q_provider_mol,
        "provider_kh": _q_provider_kh,
        "provider_aldi": _q_provider_aldi,
        "provider_dm": _q_provider_dm,
        "provider_penny": _q_provider_penny,
        "provider_pepco": _q_provider_pepco,
        "provider_obi": _q_provider_obi,
        "provider_ofotert": _q_provider_ofotert,
        "provider_oil": _q_provider_oil,
        "provider_omv": _q_provider_omv,
        "provider_kulcs": _q_provider_kulcs,
        "provider_deichmann": _q_provider_deichmann,
        "provider_yves": _q_provider_yves,
        "provider_benu": _q_provider_benu,
        "provider_easybox": _q_provider_easybox,
        "provider_sber": _q_provider_sber,
        "provider_avia": _q_provider_avia,
        "provider_mobil_petrol": _q_provider_mobil_petrol,
        "provider_ccc": _q_provider_ccc,
        "provider_jysk": _q_provider_jysk,
        "provider_tom": _q_provider_tom,
        "provider_rossmann": _q_provider_rossmann,
        "provider_pingvin": _q_provider_pingvin,
        "provider_bubi": _q_provider_bubi,
        "provider_plugee": _q_provider_plugee,
        "provider_volanbusz": _q_provider_volanbusz,
        "provider_nemzeti": _q_provider_nemzeti,
        "provider_cib": _q_provider_cib,
        "provider_magnet": _q_provider_magnet,
        "hu_address_extract": _q_hu_address_extract,
        "coord_fixes": _q_coord_fixes,
        "smart_postcode": _q_smart_postcode,
        "csv_source": _q_csv_source,
        "gtfs_stops_source": _q_gtfs_stops_source,
        "geojson_source": _q_geojson_source,
        "osm_misc_goldens": _q_osm_misc_goldens,
        "doc_rolling_fingerprint": _q_doc_rolling_fingerprint,
        "complex_opening_hours": _q_complex_opening_hours,
        "js_var_extract": _q_js_var_extract,
        "zipcodes_xml_source": _q_zipcodes_xml_source,
        "street_types_xml_source": _q_street_types_xml_source,
        "poi_patch_source": _q_poi_patch_source,
        "excel_source": _q_excel_source,
        "relation_members": _q_relation_members,
        "doc_split": _q_doc_split,
        "doc_stratified_sample": _q_doc_stratified_sample,
        "live_tags_cache": _q_live_tags_cache,
        "geotag_extract": _q_geotag_extract,
        "cell_assign": _q_cell_assign,
        "cell_histogram": _q_cell_histogram,
        "zonal_page_stats": _q_zonal_page_stats,
        "compact_cells": _q_compact_cells,
        "hotspot_cells": _q_hotspot_cells,
        "cell_kde": _q_cell_kde,
        "kde_pyramid": _q_kde_pyramid,
        "match_lineage": _q_match_lineage,
        "addr_overwrite": _q_addr_overwrite,
        "match_rollup": _q_match_rollup,
        "knn_nearest": _q_knn_nearest,
        "poi_dbscan": _q_poi_dbscan,
        "poi_dbscan_probe": _q_poi_dbscan_probe,
        "nearest_competitor": _q_nearest_competitor,
        "brand_colocation": _q_brand_colocation,
        "idw_field": _q_idw_field,
        "poi_cluster_footprints": _q_poi_cluster_footprints,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_components": _q_dedup_components,
        "dedup_keep_best": _q_dedup_keep_best,
        "decontaminate": _q_decontaminate,
        "decontaminate_spans": _q_decontaminate_spans,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_substring": _q_dedup_substring,
        "dedup_substring_rewrite": _q_dedup_substring_rewrite,
        "lsh_index_probe": _q_lsh_index_probe,
        "quality_weighted_sample": _q_quality_weighted_sample,
        "doc_chunks": _q_doc_chunks,
        "lsh_agreement": _q_lsh_agreement,
        "doc_stats": _q_doc_stats,
        "repetition_stats": _q_repetition_stats,
        "vocab_topk": _q_vocab_topk,
        "bpe_merges": _q_bpe_merges,
        "bpe_tokenize": _q_bpe_tokenize,
        "boilerplate_ngrams": _q_boilerplate_ngrams,
        "pii_redact": _q_pii_redact,
        "url_normalize": _q_url_normalize,
        "url_templates": _q_url_templates,
        "host_pagerank": _q_host_pagerank,
        "frontier_schedule": _q_frontier_schedule,
        "robots_filter": _q_robots_filter,
        "domain_stats": _q_domain_stats,
        "domain_quantiles": _q_domain_quantiles,
        "pack_sequences": _q_pack_sequences,
        "crawl_delta": _q_crawl_delta,
        "ann_topk_exact": _q_ann_topk_exact,
        "ann_topk_lsh": _q_ann_topk_lsh,
        "ann_topk_ivf": _q_ann_topk_ivf,
        "ann_topk_sq8": _q_ann_topk_sq8,
        "ann_topk_ivf_sq8": _q_ann_topk_ivf_sq8,
        "ivf_kmeans_centroids": _q_ivf_kmeans_centroids,
        "ann_topk_ivf_kmeans": _q_ann_topk_ivf_kmeans,
        "ann_recall_kmeans": _q_ann_recall_kmeans,
        "pq_codebooks": _q_pq_codebooks,
        "ann_topk_ivf_pq": _q_ann_topk_ivf_pq,
        "ann_recall_pq": _q_ann_recall_pq,
        "ann_topk_filtered": _q_ann_topk_filtered,
        "ann_knn_join": _q_ann_knn_join,
        "ann_index_stats": _q_ann_index_stats,
        "ann_index_append": _q_ann_index_append,
        "ann_nprobe_curve": _q_ann_nprobe_curve,
        "ann_recall": _q_ann_recall,
        "dedup_embedding_cosine": _q_dedup_embedding_cosine,
        "semantic_dedup": _q_semantic_dedup,
        "semantic_probe": _q_semantic_probe,
        "dedup_prefix_jaccard": _q_dedup_prefix_jaccard,
        "tfidf_topk": _q_tfidf_topk,
        "html_text_parity": _q_html_text_parity,
        "ordered_scan": _q_ordered_scan,
        "osm_timestamps": _q_osm_timestamps,
        "way_nodes": _q_way_nodes,
        "way_lengths": _q_way_lengths,
        "nearest_way": _q_nearest_way,
        "way_simplify": _q_way_simplify,
        "int_sanitize": _q_int_sanitize,
        "fuzzy_city": _q_fuzzy_city,
        "agg_pricing_summary": _q_agg_pricing_summary,
        "top_orders_window": _q_top_orders_window,
        "anti_customers_no_orders": _q_anti_customers_no_orders,
        "union_event_arms": _q_union_event_arms,
        "export_slices": _q_export_slices,
        "distinct_brands": _q_distinct_brands,
        "dedup_first_per_city": _q_dedup_first_per_city,
        "cell_histogram_salted": _q_cell_histogram_salted,
        "tile_pyramid": _q_tile_pyramid,
        "tile_top_brands": _q_tile_top_brands,
        "events_windowed": _q_events_windowed,
        "events_sessionize": _q_events_sessionize,
        "events_asof": _q_events_asof,
        "events_range_join": _q_events_range_join,
        "raster_coverage": _q_raster_coverage,
        "fuzzy_street": _q_fuzzy_street,
        "poi_hash": _q_poi_hash,
        "building_relocation": _q_building_relocation,
        "poi_fuzzy_dedup": _q_poi_fuzzy_dedup,
        "asset_features": _q_asset_features,
        "osm_xml_comments": _q_osm_xml_comments,
        "osm_xml_objects": _q_osm_xml_objects,
        "ascii_numcoder": _q_ascii_numcoder,
    }


# ---------------------------------------------------------------- oracles

_CELL = synth_sql.CELL_SQL.format(lat="lat", lon="lon")
_GEO_FILTER = "lat IS NOT NULL AND lon IS NOT NULL"


def _quadkey_oracle_sql(base: str, zoom: int = 12, parent_zoom: int = 6) -> str:
    """page_quadkeys twin: the same rational tile arithmetic
    (tx = floor((lon+180)/360·2^z) clamped, MSB-first base-4 digits,
    dyadic tile bounds) — expression order identical to
    tiling.quadkey_tiles so every double is bit-equal."""
    n = 1 << zoom
    digits = " || ".join(
        f"CAST(((ty >> {i}) & 1) * 2 + ((tx >> {i}) & 1) AS VARCHAR)"
        for i in range(zoom - 1, -1, -1)
    )
    w, h = 360.0 / n, 180.0 / n  # dyadic — exact double literals
    return (
        f"{base}, qt AS ("
        "  SELECT page_id,"
        f"    LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {float(n)}) AS BIGINT), {n - 1}) AS tx,"
        f"    LEAST(CAST(FLOOR((90.0 - lat) / 180.0 * {float(n)}) AS BIGINT), {n - 1}) AS ty"
        f"  FROM pages_x WHERE {_GEO_FILTER}), "
        f"qk AS (SELECT page_id, tx, ty, {digits} AS q FROM qt) "
        "SELECT page_id, tx AS tile_x, ty AS tile_y, q AS quadkey,"
        f"  substr(q, 1, {parent_zoom}) AS parent_quadkey,"
        f"  ROUND(CAST(tx AS DOUBLE) * {w!r} - 180.0, 9) AS tile_lon_min,"
        f"  ROUND(CAST(tx AS DOUBLE) * {w!r} - 180.0 + {w!r}, 9) AS tile_lon_max,"
        f"  ROUND(90.0 - CAST(ty AS DOUBLE) * {h!r} - {h!r}, 9) AS tile_lat_min,"
        f"  ROUND(90.0 - CAST(ty AS DOUBLE) * {h!r}, 9) AS tile_lat_max "
        "FROM qk"
    )


def _enclave_ep_cte() -> str:
    """The enclave/county ring vertex table (poly_id, name, ring,
    xs_e6, ys_e6) — the same integer-e6 values
    synth.enclave_polygons_df builds its WKT from."""
    from osm_poi_matchmaker_spark.synth import DLAT_E6, DLON_E6, LAT0_E6, LON0_E6

    x0o, x1o = LON0_E6 + DLON_E6, LON0_E6 + 3 * DLON_E6
    y0o, y1o = LAT0_E6 + 2 * DLAT_E6, LAT0_E6 + 4 * DLAT_E6
    x0h, x1h = LON0_E6 + 2 * DLON_E6, LON0_E6 + 2 * DLON_E6 + DLON_E6 // 2
    y0h, y1h = LAT0_E6 + 3 * DLAT_E6, LAT0_E6 + 3 * DLAT_E6 + DLAT_E6 // 2

    def rect(x0, y0, x1, y1):
        xs = f"[{x0}, {x1}, {x1}, {x0}, {x0}]"
        ys = f"[{y0}, {y0}, {y1}, {y1}, {y0}]"
        return xs, ys

    oxs, oys = rect(x0o, y0o, x1o, y1o)
    hxs, hys = rect(x0h, y0h, x1h, y1h)
    return (
        "ep AS (SELECT * FROM (VALUES "
        f"  (0, 'county', 0, {oxs}, {oys}),"
        f"  (0, 'county', 1, {hxs}, {hys}),"
        f"  (1, 'enclave', 0, {hxs}, {hys})"
        ") AS t(poly_id, name, ring, xs_e6, ys_e6))"
    )


def _enclave_oracle_sql(base: str) -> str:
    """pip_enclave twin: per-ring even-odd crossing parity XOR'd across
    rings (a hole point is odd for BOTH the outer and the hole ring of
    the donut → outside the county, inside the enclave). Doubles parse
    through identical decimal strings."""
    return (
        f"{base}, {_enclave_ep_cte()}, "
        "epolys AS (SELECT poly_id, name, ring,"
        "  list_transform(xs_e6, v -> CAST(concat(CAST(v // 1000000 AS VARCHAR), '.',"
        "    lpad(CAST(v % 1000000 AS VARCHAR), 6, '0')) AS DOUBLE)) AS xs,"
        "  list_transform(ys_e6, v -> CAST(concat(CAST(v // 1000000 AS VARCHAR), '.',"
        "    lpad(CAST(v % 1000000 AS VARCHAR), 6, '0')) AS DOUBLE)) AS ys"
        "  FROM ep), "
        "rp AS ("
        "  SELECT p.page_id, q.poly_id, q.name,"
        "    (len(list_filter(range(1, len(q.xs)), i ->"
        "        ((q.ys[i] > p.lat) <> (q.ys[i+1] > p.lat)) AND"
        "        p.lon < q.xs[i] + (p.lat - q.ys[i]) * (q.xs[i+1] - q.xs[i])"
        "                / (q.ys[i+1] - q.ys[i])"
        "    )) % 2) = 1 AS odd"
        f"  FROM (SELECT page_id, lat, lon FROM pages_x WHERE {_GEO_FILTER}) p, epolys q), "
        "inpoly AS (SELECT page_id, poly_id, name,"
        "  (SUM(CASE WHEN odd THEN 1 ELSE 0 END) % 2) = 1 AS inside"
        "  FROM rp GROUP BY 1, 2, 3) "
        "SELECT page_id, CAST(COALESCE("
        "  (list(poly_id ORDER BY name, poly_id) FILTER (WHERE inside))[1], -1) AS INT"
        ") AS poly_id FROM inpoly GROUP BY page_id"
    )


def _enclave_geometry_oracle_sql() -> str:
    """enclave_geometry twin: exact per-ring BIGINT shoelace over
    ring-local shifted e6 ints, ring-ordered double combination
    (outer +, holes −) — the same fold order as
    polygon_geometry_rings' array_sort'd aggregate."""
    cross = "xs2[i]*ys2[i+1] - xs2[i+1]*ys2[i]"
    return (
        f"WITH {_enclave_ep_cte()}, "
        "er AS (SELECT poly_id, name, ring,"
        "  list_transform(xs_e6, v -> CAST(v - list_min(xs_e6) AS BIGINT)) AS xs2,"
        "  list_transform(ys_e6, v -> CAST(v - list_min(ys_e6) AS BIGINT)) AS ys2,"
        "  CAST(list_min(xs_e6) AS DOUBLE) / 1e6 AS x0,"
        "  CAST(list_min(ys_e6) AS DOUBLE) / 1e6 AS y0"
        "  FROM ep), "
        "eg AS (SELECT poly_id, name, ring,"
        f"  list_sum(list_transform(range(1, len(xs2)), i -> {cross})) AS a2,"
        "  list_sum(list_transform(range(1, len(xs2)),"
        f"    i -> CAST(xs2[i] + xs2[i+1] AS DOUBLE) * CAST({cross} AS DOUBLE))) AS cxn,"
        "  list_sum(list_transform(range(1, len(xs2)),"
        f"    i -> CAST(ys2[i] + ys2[i+1] AS DOUBLE) * CAST({cross} AS DOUBLE))) AS cyn,"
        "  x0, y0 FROM er), "
        "eg2 AS (SELECT poly_id, name, ring, abs(a2) AS a2a,"
        "  x0 + cxn / (3.0 * CAST(a2 AS DOUBLE)) / 1e6 AS cx,"
        "  y0 + cyn / (3.0 * CAST(a2 AS DOUBLE)) / 1e6 AS cy FROM eg), "
        "comb AS (SELECT poly_id, name, COUNT(*) AS n_rings,"
        "  list_sum(list(CASE WHEN ring = 0 THEN a2a ELSE -a2a END ORDER BY ring))"
        "    AS area2_e12,"
        "  list_sum(list(CAST(CASE WHEN ring = 0 THEN a2a ELSE -a2a END AS DOUBLE)"
        "    * cx ORDER BY ring)) AS nx,"
        "  list_sum(list(CAST(CASE WHEN ring = 0 THEN a2a ELSE -a2a END AS DOUBLE)"
        "    * cy ORDER BY ring)) AS ny"
        "  FROM eg2 GROUP BY 1, 2) "
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, name,"
        "  CAST(n_rings AS INT) AS n_rings, CAST(area2_e12 AS BIGINT) AS area2_e12,"
        "  ROUND((CAST(area2_e12 AS DOUBLE) / 2e12) * 110.574"
        "    * (111.32 * cos(radians(ny / CAST(area2_e12 AS DOUBLE)))), 3) AS area_km2,"
        "  ROUND(nx / CAST(area2_e12 AS DOUBLE), 6) AS centroid_lon,"
        "  ROUND(ny / CAST(area2_e12 AS DOUBLE), 6) AS centroid_lat "
        "FROM comb"
    )


def _district_ctes() -> str:
    """dp/polys/cand CTE fragment shared by the pip_district and
    district_geometry oracles: the district polygon vertex tables
    (integer-e6, the same values synth.district_polygons_df builds its
    WKT strings from), their double parse through identical decimal
    strings, and the per-(point, polygon) even-odd ray-cast verdict."""
    return (
        "dp AS ("
        "  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,"
        "         printf('d%02d', n_nationkey) AS name,"
        "         [x0, x0+1360000, x0+1360000, x0+680000, x0+680000, x0, x0] AS xs_e6,"
        "         [y0, y0, y0+290000, y0+290000, y0+580000, y0+580000, y0] AS ys_e6"
        "  FROM (SELECT n_nationkey,"
        "               16099995 + (n_nationkey % 5) * 1360000 AS x0,"
        "               45699995 + (n_nationkey // 5) * 580000 AS y0"
        "        FROM nation)"
        "  UNION ALL"
        "  SELECT 25, 'metro',"
        "         [16099995, 22899995, 22899995, 16099995, 16099995],"
        "         [45699995, 45699995, 48599995, 48599995, 45699995]"
        "), polys AS (SELECT poly_id, name,"
        "  list_transform(xs_e6, v -> CAST(concat(CAST(v // 1000000 AS VARCHAR), '.',"
        "    lpad(CAST(v % 1000000 AS VARCHAR), 6, '0')) AS DOUBLE)) AS xs,"
        "  list_transform(ys_e6, v -> CAST(concat(CAST(v // 1000000 AS VARCHAR), '.',"
        "    lpad(CAST(v % 1000000 AS VARCHAR), 6, '0')) AS DOUBLE)) AS ys"
        "  FROM dp), "
        "cand AS ("
        "  SELECT p.page_id, q.poly_id, q.name,"
        "    (len(list_filter(range(1, len(q.xs)), i ->"
        "        ((q.ys[i] > p.lat) <> (q.ys[i+1] > p.lat)) AND"
        "        p.lon < q.xs[i] + (p.lat - q.ys[i]) * (q.xs[i+1] - q.xs[i])"
        "                / (q.ys[i+1] - q.ys[i])"
        "    )) % 2) = 1 AS inside"
        f"  FROM (SELECT page_id, lat, lon FROM pages_x WHERE {_GEO_FILTER}) p, polys q)"
    )


def _addr_overwrite_oracle_sql(match_base: str) -> str:
    """DuckDB twin of operators/enrich.enrich_matched_from_osm."""

    def pc(x: str) -> str:  # smart_postcode_check sentinel skip
        return f"NULLIF(NULLIF(NULLIF(NULLIF({x}, ''), '0'), 'None'), 'NaN')"

    def ow(osm_c: str, cur: str) -> str:
        return (
            f"CASE WHEN osm_id IS NOT NULL AND {osm_c} IS NOT NULL AND {osm_c} <> '' "
            f"THEN {osm_c} ELSE {cur} END AS {cur}"
        )

    def ch(osm_c: str, cur: str) -> str:
        return (
            f"({osm_c} IS NOT NULL AND {osm_c} <> '' AND {osm_c} IS DISTINCT FROM {cur})"
        )

    coord = "osm_id IS NOT NULL AND o_lat <> lat AND o_lon <> lon"
    return (
        f"{match_base}, "
        "dim AS (SELECT DISTINCT CONCAT('City', CAST(s_suppkey % 50 AS STRING)) AS city,"
        " CAST(1000 + s_suppkey % 50 AS STRING) AS provider_postcode FROM supplier), "
        "m AS (SELECT px.page_id, px.lat, px.lon, px.city, px.street, px.housenumber,"
        " px.csn, b.osm_id, b.node_type"
        f" FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id WHERE {_GEO_FILTER}), "
        "mo AS (SELECT m.*, o.addr_city AS o_city, o.addr_street AS o_street,"
        " o.addr_housenumber AS o_hn, o.addr_conscriptionnumber AS o_csn,"
        " o.addr_postcode AS o_pc, o.lat AS o_lat, o.lon AS o_lon"
        " FROM m LEFT JOIN pois o ON m.osm_id = o.osm_id AND m.node_type = o.node_type), "
        # The postcode tiles form a regular 5x5 grid, so the PIP lookup is
        # closed-form tile arithmetic here (no boundary hits possible: page
        # coords have 5 decimals, tile edges 6). The equivalent range JOIN
        # (o_lat BETWEEN lat_min AND lat_min+0.58 ...) intermittently spun
        # forever in DuckDB's IE_JOIN when the left side carries NULLs from
        # the unmatched-pages LEFT JOIN — avoid it.
        "mq AS (SELECT mo.*, CASE WHEN"
        " FLOOR((mo.o_lat - 45.699995) / 0.58) BETWEEN 0 AND 4 AND"
        " FLOOR((mo.o_lon - 16.099995) / 1.36) BETWEEN 0 AND 4"
        " THEN CAST(1000 + CAST(FLOOR((mo.o_lat - 45.699995) / 0.58) AS INT) * 5"
        " + CAST(FLOOR((mo.o_lon - 16.099995) / 1.36) AS INT) AS STRING)"
        " END AS q_pc FROM mo), "
        "md AS (SELECT mq.*, d.provider_postcode FROM mq LEFT JOIN dim d ON mq.city = d.city) "
        "SELECT page_id, osm_id, osm_id IS NULL AS poi_new, "
        f"CASE WHEN {coord} THEN o_lat ELSE lat END AS lat, "
        f"CASE WHEN {coord} THEN o_lon ELSE lon END AS lon, "
        "CASE WHEN osm_id IS NOT NULL THEN "
        f"COALESCE({pc('o_pc')}, {pc('q_pc')}, {pc('provider_postcode')}) "
        "ELSE provider_postcode END AS postcode, "
        f"{ow('o_city', 'city')}, "
        f"{ow('o_street', 'street')}, "
        f"{ow('o_hn', 'housenumber')}, "
        f"{ow('o_csn', 'csn')}, "
        "(osm_id IS NOT NULL AND ("
        f"{ch('o_hn', 'housenumber')} OR {ch('o_city', 'city')} OR "
        f"{ch('o_street', 'street')} OR {ch('o_csn', 'csn')}"
        ")) AS changed_from_osm FROM md"
    )


def _pagerank_ctes(iterations: int = 4) -> str:
    """Unrolled integer-exact PageRank over the 12-host fixture graph
    (mirrors _q_host_pagerank / operators/linkgraph.py: L = outdeg = 3,
    per-edge mult = 1, unit U_i = n*w*60^i, base term 9*w*60^(i-1))."""
    ctes = [
        "hosts AS (SELECT page_id % 12 AS hid, CAST(COUNT(*) AS BIGINT) "
        "AS weight FROM pages GROUP BY 1)",
        "pr_c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(weight) AS BIGINT) AS w FROM hosts)",
        "pr_e AS (SELECT hid AS src, (hid + o) % 12 AS dst "
        "FROM hosts, (VALUES (1), (2), (5)) AS t(o))",
        "r0 AS (SELECT hid, weight * (SELECT n FROM pr_c) AS r FROM hosts)",
    ]
    for i in range(1, iterations + 1):
        base = f"9 * (SELECT w FROM pr_c) * {60 ** (i - 1)}"
        ctes.append(
            f"r{i} AS (SELECT h.hid, CAST({base} + 17 * COALESCE(SUM(p.r), 0) "
            f"AS BIGINT) AS r "
            f"FROM hosts h LEFT JOIN pr_e e ON e.dst = h.hid "
            f"LEFT JOIN r{i - 1} p ON p.hid = e.src GROUP BY h.hid)"
        )
    return ", ".join(ctes)


def _url_canon_ctes() -> str:
    """DuckDB twin of _messy_url_expr() + functions/urls.url_normalize:
    staged CTEs (nofrag → base/query → scheme/rest → hostport/path →
    host/port → canonical), split_part/regexp in the shared dialect."""
    messy = (
        "CASE WHEN page_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END || '://' || "
        "CASE WHEN page_id % 2 = 1 THEN 'cdn' || CAST(page_id % 7 AS VARCHAR) || '.' "
        "ELSE '' END || "
        "CASE WHEN page_id % 3 = 0 THEN 'CC.Example' ELSE 'cc.example' END || "
        "CASE WHEN page_id % 5 = 0 THEN ':443' ELSE '' END || "
        "'/' || CAST(page_id AS VARCHAR) || "
        "CASE WHEN page_id % 6 = 0 THEN '/' ELSE '' END || "
        "CASE WHEN page_id % 7 = 0 THEN '' "
        "WHEN page_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' "
        "ELSE '?b=2&a=1' END || "
        "CASE WHEN page_id % 4 = 0 THEN '#frag' ELSE '' END"
    )
    return f"""
mu AS (SELECT page_id, {messy} AS messy, text FROM pages),
u1 AS (SELECT page_id, messy, text, split_part(messy, '#', 1) AS nofrag FROM mu),
u2 AS (SELECT *, split_part(nofrag, '?', 1) AS b,
         CASE WHEN contains(nofrag, '?') THEN split_part(nofrag, '?', 2)
              ELSE '' END AS q FROM u1),
u3 AS (SELECT *, lower(split_part(b, '://', 1)) AS scheme,
         split_part(b, '://', 2) AS rest FROM u2),
u4 AS (SELECT *, split_part(rest, '/', 1) AS hostport,
         regexp_replace(rest, '^[^/]*', '') AS pth FROM u3),
u5 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host,
         CASE WHEN contains(hostport, ':') THEN split_part(hostport, ':', 2)
              ELSE '' END AS port FROM u4),
u6 AS (SELECT *,
         CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                       OR (scheme = 'https' AND port = '443'))
              THEN ':' || port ELSE '' END AS port_out,
         CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(pth, '/+$', '') END AS path_out,
         array_to_string(list_sort(list_filter(string_split(q, '&'),
           x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS qs
       FROM u5),
uc AS (SELECT page_id, messy, text, host,
         scheme || '://' || host || port_out || path_out ||
         CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canon_url
       FROM u6)"""


_BINOM5 = (1, 4, 6, 4, 1)
_KDE_VALUES = ", ".join(
    f"({dx}, {dy}, {_BINOM5[dx + 2] * _BINOM5[dy + 2]})"
    for dy in (-2, -1, 0, 1, 2)
    for dx in (-2, -1, 0, 1, 2)
)


def _dbscan_oracle_ctes(
    base: str, where: str = "TRUE", eps: float = 400.0, min_pts: int = 3
) -> str:
    """Shared DBSCAN oracle CTE chain over ``pset`` = filtered pois:
    all-pairs ε-edges, degree core rule, recursive-CTE min-label
    closure (cm = cluster per CORE id), border attach (bd)."""
    from osm_poi_matchmaker_spark import synth_sql

    return (
        base.replace("WITH ", "WITH RECURSIVE ", 1)
        + f", pset AS (SELECT * FROM pois WHERE {where}), "
        f"pr AS (SELECT p.osm_id AS a, o.osm_id AS b FROM pset p "
        f"JOIN pset o ON p.osm_id < o.osm_id AND {synth_sql.HAV} < {eps}), "
        "ed AS (SELECT a, b FROM pr UNION ALL SELECT b AS a, a AS b FROM pr), "
        "dg AS (SELECT a AS id, COUNT(*) AS n FROM ed GROUP BY 1), "
        f"core AS (SELECT dg.id FROM dg WHERE dg.n + 1 >= {min_pts}), "
        "ce AS (SELECT e.a, e.b FROM ed e JOIN core c1 ON c1.id = e.a "
        "JOIN core c2 ON c2.id = e.b), "
        "rc(id, lbl) AS (SELECT id, id FROM core "
        "UNION SELECT e.b, rc.lbl FROM rc JOIN ce e ON e.a = rc.id), "
        "cm AS (SELECT id, MIN(lbl) AS cluster FROM rc GROUP BY 1), "
        "bd AS (SELECT e.a AS id, MIN(c.cluster) AS cluster FROM ed e "
        "JOIN cm c ON c.id = e.b LEFT JOIN core k ON k.id = e.a "
        "WHERE k.id IS NULL GROUP BY 1)"
    )


def oracle_sql() -> dict[str, str]:
    base = synth_sql.base_ctes()
    match_base = base + "," + synth_sql.match_arms_sql()
    hav_px = synth_sql.HAV.replace("p.lat", "px.lat").replace("p.lon", "px.lon")

    # way_lengths fragments: node coords as pure id functions, haversine
    # inline over consecutive node pairs (i-1, i) — mirrors the row-local
    # Spark fold exactly (same op order, left-to-right list_sum).
    from osm_poi_matchmaker_spark.synth import M_LAT as _M_LAT, M_LON as _M_LON

    def _nlat(nid: str) -> str:
        return f"(CAST(4575000 + (({nid}) * {_M_LAT}) % 280000 AS DOUBLE) / 100000.0)"

    def _nlon(nid: str) -> str:
        return f"(CAST(1615000 + (({nid}) * {_M_LON}) % 670000 AS DOUBLE) / 100000.0)"

    def _hav4(la1: str, lo1: str, la2: str, lo2: str) -> str:
        return (
            "(2.0 * 6371000.0 * ASIN(SQRT("
            f"SIN(RADIANS({la2} - {la1}) / 2.0) * SIN(RADIANS({la2} - {la1}) / 2.0) "
            f"+ COS(RADIANS({la1})) * COS(RADIANS({la2})) "
            f"* SIN(RADIANS({lo2} - {lo1}) / 2.0) * SIN(RADIANS({lo2} - {lo1}) / 2.0))))"
        )

    _seg = _hav4(
        _nlat("w * 10 + i - 1"), _nlon("w * 10 + i - 1"),
        _nlat("w * 10 + i"), _nlon("w * 10 + i"),
    )

    # nearest_way fragments: walk geometry + clamped-projection segment
    # distance, op-order-identical to operators/ways.point_segment_dist_m
    def _wlat(i: str) -> str:
        return (
            f"((CAST(4575000 + (w.way_id * {_M_LAT}) % 280000 AS DOUBLE) "
            f"/ 100000.0) + CAST({i} AS DOUBLE) * 0.0011)"
        )

    def _wlon(i: str) -> str:
        return (
            f"((CAST(1615000 + (w.way_id * {_M_LON}) % 670000 AS DOUBLE) "
            f"/ 100000.0) + CAST(({i}) % 2 AS DOUBLE) * 0.0013)"
        )

    def _segdist(ai: str, bi: str) -> str:
        kx = "(111319.4908 * COS(RADIANS(px.lat)))"
        ax = f"(({_wlon(ai)} - px.lon) * {kx})"
        ay = f"(({_wlat(ai)} - px.lat) * 111194.9267)"
        bx = f"(({_wlon(bi)} - px.lon) * {kx})"
        by = f"(({_wlat(bi)} - px.lat) * 111194.9267)"
        dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
        den = f"({dx} * {dx} + {dy} * {dy})"
        t_raw = f"(-({ax} * {dx} + {ay} * {dy}) / {den})"
        t = (
            f"(CASE WHEN {den} > 0.0 THEN "
            f"LEAST(GREATEST({t_raw}, 0.0), 1.0) ELSE 0.0 END)"
        )
        cx = f"({ax} + {t} * {dx})"
        cy = f"({ay} + {t} * {dy})"
        return f"SQRT({cx} * {cx} + {cy} * {cy})"

    _wayseg = _segdist("i - 1", "i")

    # way_simplify fragments: the Douglas-Peucker oracle runs the SAME
    # recursion as operators/ways.simplify_ways but as a DuckDB recursive
    # CTE over (wid, i, j) chords — argmax deviation per chord via
    # list_max of [dev, -k] (max dev, ties to the smallest k, identical
    # to the Spark struct array_max). Walk geometry + clamped-projection
    # distance reuse the nearest_way arithmetic with the POINT being the
    # interior vertex k (kx at ITS latitude), op-order-identical to the
    # Spark side. NB: the kept-set dedup must be an explicit
    # DISTINCT-over-UNION-ALL subquery — inside WITH RECURSIVE, DuckDB
    # treats any CTE's top-level UNION as a base/recursive pair and skips
    # the cross-branch dedup.
    def _dp_wlat(i: str) -> str:
        return (
            f"((CAST(4575000 + (wid * {_M_LAT}) % 280000 AS DOUBLE) "
            f"/ 100000.0) + CAST({i} AS DOUBLE) * 0.0011)"
        )

    def _dp_wlon(i: str) -> str:
        return (
            f"((CAST(1615000 + (wid * {_M_LON}) % 670000 AS DOUBLE) "
            f"/ 100000.0) + CAST(({i}) % 2 AS DOUBLE) * 0.0013)"
        )

    def _dp_dev(k: str, ai: str, bi: str) -> str:
        plat, plon = _dp_wlat(k), _dp_wlon(k)
        kx = f"(111319.4908 * COS(RADIANS({plat})))"
        ax = f"(({_dp_wlon(ai)} - {plon}) * {kx})"
        ay = f"(({_dp_wlat(ai)} - {plat}) * 111194.9267)"
        bx = f"(({_dp_wlon(bi)} - {plon}) * {kx})"
        by = f"(({_dp_wlat(bi)} - {plat}) * 111194.9267)"
        dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
        den = f"({dx} * {dx} + {dy} * {dy})"
        t_raw = f"(-({ax} * {dx} + {ay} * {dy}) / {den})"
        t = (
            f"(CASE WHEN {den} > 0.0 THEN "
            f"LEAST(GREATEST({t_raw}, 0.0), 1.0) ELSE 0.0 END)"
        )
        cx = f"({ax} + {t} * {dx})"
        cy = f"({ay} + {t} * {dy})"
        return f"SQRT({cx} * {cx} + {cy} * {cy})"

    _dp_eps = 65.0
    _way_simplify_sql = f"""
WITH RECURSIVE w AS (
  SELECT CAST(p_partkey AS BIGINT) AS wid, p_partkey % 4 + 2 AS n
  FROM part WHERE p_partkey % 3 = 1),
segs(wid, i, j) AS (
  SELECT wid, 0, n - 1 FROM w
  UNION ALL
  SELECT s.wid, c.ci, c.cj FROM (
    SELECT wid, i, j,
           list_max(list_transform(range(i + 1, j),
             k -> [{_dp_dev('k', 'i', 'j')}, -CAST(k AS DOUBLE)])) AS best
    FROM segs WHERE j > i + 1) s,
    UNNEST([{{'ci': s.i, 'cj': CAST(-s.best[2] AS INT)}},
            {{'ci': CAST(-s.best[2] AS INT), 'cj': s.j}}]) AS u(c)
  WHERE s.best[1] > {_dp_eps}),
kept AS (
  SELECT DISTINCT wid, pos FROM (
    SELECT wid, i AS pos FROM segs
    UNION ALL SELECT wid, j AS pos FROM segs))
SELECT wid AS way_id, CAST(pos AS INT) AS pos,
       wid * 10 + pos AS node_id
FROM kept"""

    # poi_common brand-tag payload CTEs (single source of truth: the same
    # JSONL resource + bridge dict the Spark plan uses)
    from osm_poi_matchmaker_spark.sources.poi_common import BRAND_CODE_TO_COMMON

    bridge_rows = ", ".join(
        f"('{k}', '{v}')" for k, v in sorted(BRAND_CODE_TO_COMMON.items())
    )
    brand_ctes = (
        f"bridge AS (SELECT * FROM (VALUES {bridge_rows}) "
        "AS t(poi_code, common_code)), "
        "brand_entries AS ("
        "  SELECT poi_code AS common_code, k,"
        "    json_extract_string(poi_tags, '$.\"' || k || '\"') AS v"
        "  FROM ("
        "    SELECT poi_code, poi_tags, unnest(json_keys(poi_tags)) AS k"
        "    FROM ("
        f"      SELECT poi_code, poi_tags FROM read_json('{_REPO_DIR}/"
        "osm_poi_matchmaker_spark/resources/poi_common.jsonl',"
        "        format='newline_delimited',"
        "        columns={'poi_code':'VARCHAR','poi_tags':'VARCHAR',"
        "'seq':'INTEGER'})"
        "      QUALIFY row_number() OVER (PARTITION BY poi_code ORDER BY seq) = 1"
        "    )"
        "  )"
        "), "
        "brand_xml AS ("
        "  SELECT common_code,"
        "    string_agg('  <tag k=\"' || k || '\" v=\"' ||"
        "      replace(replace(replace(replace(v,"
        "        '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '\"', '&quot;')"
        "      || '\"/>' || chr(10), '' ORDER BY k) AS brand_lines"
        "  FROM brand_entries GROUP BY common_code"
        ")"
    )
    return {
        "geotag_extract": (
            f"{base} SELECT page_id, url, name, lat, lon, city, street, housenumber, csn, ref, uname "
            f"FROM pages_x WHERE {_GEO_FILTER}"
        ),
        "cell_assign": (
            f"{base} SELECT page_id, {_CELL} AS cell_id FROM pages_x WHERE {_GEO_FILTER}"
        ),
        "cell_histogram": (
            f"{base} SELECT {_CELL} AS cell_id, COUNT(*) AS n_pages "
            f"FROM pages_x WHERE {_GEO_FILTER} GROUP BY 1"
        ),
        "zonal_page_stats": (
            f"{base}, water AS (SELECT * FROM (VALUES"
            " (0, 47.492995, 47.503005, 19.024995, 19.045005),"
            " (1, 46.199995, 46.400005, 17.499995, 17.900005),"
            " (2, 47.799995, 48.000005, 20.499995, 20.800005)"
            ") AS t(poly_id, lat_min, lat_max, lon_min, lon_max)), "
            "rows_y AS (SELECT poly_id, lon_min, lon_max,"
            " unnest(range(CAST(ceil((lat_min + 90.0) * 640.0 - 0.5) AS BIGINT),"
            " CAST(floor((lat_max + 90.0) * 640.0 - 0.5) AS BIGINT) + 1)) AS cy"
            " FROM water), "
            "mask AS (SELECT poly_id, cy * 262144 +"
            " unnest(range(CAST(ceil((lon_min + 180.0) * 640.0 - 0.5) AS BIGINT),"
            " CAST(floor((lon_max + 180.0) * 640.0 - 0.5) AS BIGINT) + 1)) AS cell_id"
            " FROM rows_y), "
            f"hist AS (SELECT {_CELL} AS cell_id, COUNT(*) AS n FROM pages_x"
            f" WHERE {_GEO_FILTER} GROUP BY 1) "
            "SELECT m.poly_id, COUNT(*) AS n_cells,"
            " CAST(SUM(n) AS BIGINT) AS total,"
            " CAST(MIN(n) AS BIGINT) AS v_min, CAST(MAX(n) AS BIGINT) AS v_max,"
            " ROUND(SUM(n) * 1.0 / COUNT(*), 6) AS mean"
            " FROM hist h JOIN mask m ON h.cell_id = m.cell_id GROUP BY 1"
        ),
        "compact_cells": _compact_cells_oracle_sql(),
        "cell_kde": (
            f"{base}, hc AS (SELECT (({_CELL} // 262144) // 32) * 262144 "
            f"+ (({_CELL} % 262144) // 32) AS cell_id, "
            f"COUNT(*) AS n_points FROM pages_x WHERE {_GEO_FILTER} GROUP BY 1), "
            "sp AS (SELECT ((cell_id // 262144) + dy) * 262144 "
            "+ (cell_id % 262144) + dx AS tcell, n_points * w AS mass "
            f"FROM hc, (VALUES {_KDE_VALUES}) AS o(dx, dy, w) "
            "WHERE (cell_id % 262144) + dx >= 0 "
            "AND (cell_id % 262144) + dx < 262144 "
            "AND (cell_id // 262144) + dy >= 0), "
            "sm AS (SELECT tcell, CAST(SUM(mass) AS BIGINT) AS kde_mass_256 "
            "FROM sp GROUP BY 1) "
            "SELECT sm.tcell AS cell_id, "
            "COALESCE(hc.n_points, 0) AS n_points, sm.kde_mass_256 "
            "FROM sm LEFT JOIN hc ON hc.cell_id = sm.tcell"
        ),
        "kde_pyramid": (
            f"{base}, hc AS (SELECT (({_CELL} // 262144) // 32) * 262144 "
            f"+ (({_CELL} % 262144) // 32) AS cell_id, "
            f"COUNT(*) AS n_points FROM pages_x WHERE {_GEO_FILTER} GROUP BY 1), "
            "sp AS (SELECT ((cell_id // 262144) + dy) * 262144 "
            "+ (cell_id % 262144) + dx AS tcell, n_points * w AS mass "
            f"FROM hc, (VALUES {_KDE_VALUES}) AS o(dx, dy, w) "
            "WHERE (cell_id % 262144) + dx >= 0 "
            "AND (cell_id % 262144) + dx < 262144 "
            "AND (cell_id // 262144) + dy >= 0), "
            "sm AS (SELECT tcell, CAST(SUM(mass) AS BIGINT) AS kde_mass_256 "
            "FROM sp GROUP BY 1) "
            "SELECT lvl AS level, "
            "((tcell // 262144) // (1 << lvl)) * 262144 "
            "+ ((tcell % 262144) // (1 << lvl)) AS cell_id, "
            "CAST(SUM(kde_mass_256) AS BIGINT) AS kde_mass_256 "
            "FROM sm CROSS JOIN (SELECT unnest(range(0, 4)) AS lvl) "
            "GROUP BY 1, 2"
        ),
        "hotspot_cells": (
            f"{base}, hc AS (SELECT (({_CELL} // 262144) // 32) * 262144 "
            f"+ (({_CELL} % 262144) // 32) AS cell_id, "
            f"COUNT(*) AS n_points FROM pages_x WHERE {_GEO_FILTER} GROUP BY 1), "
            "hr AS (SELECT ((cell_id // 262144) + dy) * 262144 "
            "+ (cell_id % 262144) + dx AS ncell, n_points "
            "FROM hc, (VALUES (-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), "
            "(-1, 1), (0, 1), (1, 1)) AS o(dx, dy) "
            "WHERE (cell_id % 262144) + dx >= 0 "
            "AND (cell_id % 262144) + dx < 262144 "
            "AND (cell_id // 262144) + dy >= 0), "
            "hrs AS (SELECT ncell, CAST(SUM(n_points) AS BIGINT) AS ring_sum, "
            "COUNT(*) AS n_neighbors, MAX(n_points) AS max_neighbor "
            "FROM hr GROUP BY 1) "
            "SELECT c.cell_id, c.n_points, "
            "COALESCE(r.ring_sum, 0) AS ring_sum, "
            "COALESCE(r.n_neighbors, 0) AS n_neighbors, "
            "c.n_points > COALESCE(r.max_neighbor, 0) AS is_peak "
            "FROM hc c LEFT JOIN hrs r ON r.ncell = c.cell_id "
            "WHERE c.n_points >= 2 "
            "AND c.n_points * 8 > 2 * COALESCE(r.ring_sum, 0)"
        ),
        "match_cascade": (
            f"{match_base} "
            "SELECT px.page_id, b.osm_id, b.node_type, b.stage, b.priority, "
            "ROUND(b.distance, 2) AS distance_m, b.poi_code, "
            "b.page_id IS NULL AS poi_new "
            f"FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id WHERE {_GEO_FILTER}"
        ),
        "match_cascade_bounded": (
            synth_sql.base_ctes() + "," + synth_sql.match_arms_sql(attr_radius=_BOUND_RADIUS_M) + " "
            "SELECT px.page_id, b.osm_id, b.node_type, b.stage, b.priority, "
            "ROUND(b.distance, 2) AS distance_m, b.poi_code, "
            "b.page_id IS NULL AS poi_new "
            f"FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id WHERE {_GEO_FILTER}"
        ),
        "match_cascade_planet": (
            synth_sql.base_ctes() + "," + synth_sql.match_arms_sql(attr_radius=_BOUND_RADIUS_M) + ", "
            "outcome AS ("
            "  SELECT px.page_id, b.osm_id, b.node_type, b.stage, b.priority, "
            "  ROUND(b.distance, 2) AS distance_m, b.poi_code, "
            "  b.page_id IS NULL AS poi_new, px.lat, px.lon "
            f"  FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id WHERE {_GEO_FILTER}), "
            "near AS ("
            "  SELECT page_id, osm_id AS near_osm_id, ROUND(distance, 2) AS near_distance_m FROM ("
            f"    SELECT p.page_id, o.osm_id, {synth_sql.HAV} AS distance "
            f"    FROM (SELECT * FROM outcome WHERE poi_new) p JOIN pois o ON {synth_sql.HAV} < 2000.0 "
            "     QUALIFY ROW_NUMBER() OVER (PARTITION BY p.page_id ORDER BY distance, o.osm_id) = 1)) "
            "SELECT o.page_id, o.osm_id, o.node_type, o.stage, o.priority, "
            "o.distance_m, o.poi_code, o.poi_new, n.near_osm_id, n.near_distance_m "
            "FROM outcome o LEFT JOIN near n ON o.page_id = n.page_id"
        ),
        "match_rollup": (
            f"{match_base} "
            "SELECT b.node_type, b.stage, COUNT(*) AS n "
            f"FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id WHERE {_GEO_FILTER} "
            "GROUP BY ROLLUP(b.node_type, b.stage)"
        ),
        "match_lineage": (
            f"{match_base} "
            "SELECT (cell >> 8) AS cell_bucket, MIN(cell) AS cell_min, MAX(cell) AS cell_max, "
            "COUNT(*) AS input_rows, CAST(COUNT(osm_id) AS BIGINT) AS matched_rows, "
            "CAST(SUM(CASE WHEN osm_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_rows "
            f"FROM (SELECT px.page_id, {_CELL} AS cell, b.osm_id "
            f"      FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id WHERE {_GEO_FILTER}) "
            "GROUP BY 1"
        ),
        "addr_overwrite": _addr_overwrite_oracle_sql(match_base),
        "osm_xml_render": (
            f"{match_base}, {brand_ctes} "
            "SELECT page_id, poi_new, "
            "'<node id=\"' || CAST(xml_id AS VARCHAR) || '\" lat=\"' || lat_s || "
            "'\" lon=\"' || lon_s || '\">' || chr(10) || "
            "COALESCE('  <tag k=\"name\" v=\"' || name || '\"/>' || chr(10), '') || "
            "COALESCE('  <tag k=\"url\" v=\"' || url || '\"/>' || chr(10), '') || "
            "COALESCE(brand_lines, '') || "
            "'</node>' AS xml FROM ("
            "  SELECT px.page_id, (b.page_id IS NULL) AS poi_new, px.name, px.url,"
            "    bx.brand_lines,"
            "    CAST(CAST(ROUND(px.lat * 100000) AS BIGINT) AS VARCHAR) AS lat_s,"
            "    CAST(CAST(ROUND(px.lon * 100000) AS BIGINT) AS VARCHAR) AS lon_s,"
            "    CASE WHEN b.page_id IS NOT NULL THEN b.osm_id"
            "         ELSE -ROW_NUMBER() OVER ("
            "            PARTITION BY (b.page_id IS NULL) ORDER BY px.page_id) END AS xml_id"
            "  FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id"
            "  LEFT JOIN bridge br ON b.poi_code = br.poi_code"
            "  LEFT JOIN brand_xml bx ON br.common_code = bx.common_code"
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')})"
        ),
        "osm_xml_comments": (
            f"{match_base} "
            "SELECT page_id, "
            "CASE WHEN osm_id IS NOT NULL AND osm_id > 0 "
            "     THEN '<!-- OSM link: https://osm.org/' || node_type || '/' || "
            "          CAST(osm_id AS VARCHAR) || ' -->' || chr(10) "
            "     ELSE '' END || "
            "'<!-- Original coordinates: POINT (' || lat_s || ' ' || lon_s || ') -->' || chr(10) || "
            "CASE WHEN dist_m IS NOT NULL "
            "     THEN '<!-- OSM <-> POI distance: ' || CAST(dist_m AS VARCHAR) || ' m-->' || chr(10) "
            "     ELSE '<!-- OSM <-> POI distance: Non exist ' || chr(10) || '-->' || chr(10) END || "
            "'<!-- OSM link: https://osm.org/#map=18/' || lat_s || '/' || lon_s || ' -->' "
            "AS comments FROM ("
            "  SELECT px.page_id, b.osm_id, b.node_type,"
            "    CAST(CAST(ROUND(px.lat * 100000) AS BIGINT) AS VARCHAR) AS lat_s,"
            "    CAST(CAST(ROUND(px.lon * 100000) AS BIGINT) AS VARCHAR) AS lon_s,"
            "    CAST(FLOOR(b.distance) AS BIGINT) AS dist_m"
            "  FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id"
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')})"
        ),
        "osm_xml_objects": (
            f"{match_base}, "
            "ways AS (SELECT CAST(p_partkey AS BIGINT) AS way_id FROM part"
            "  WHERE p_partkey % 3 = 1), "
            "positions AS (SELECT r_regionkey AS pos FROM region), "
            "nd AS (SELECT w.way_id,"
            "  string_agg('  <nd ref=\"' || CAST(w.way_id * 10 + p.pos AS VARCHAR)"
            "    || '\"/>', chr(10) ORDER BY p.pos) || chr(10) AS nd_block"
            "  FROM ways w JOIN positions p ON p.pos <= w.way_id % 4 + 1"
            "  GROUP BY w.way_id), "
            "mm AS (SELECT px.page_id, b.osm_id, b.node_type, px.name, px.url,"
            "  CAST(CAST(ROUND(px.lat * 100000) AS BIGINT) AS VARCHAR) AS lat_s,"
            "  CAST(CAST(ROUND(px.lon * 100000) AS BIGINT) AS VARCHAR) AS lon_s"
            "  FROM pages_x px JOIN best b ON px.page_id = b.page_id"
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')}) "
            "SELECT mm.page_id, "
            "CASE WHEN mm.node_type = 'node'"
            "  THEN '<node action=\"modify\" id=\"' || CAST(mm.osm_id AS VARCHAR)"
            "    || '\" lat=\"' || mm.lat_s || '\" lon=\"' || mm.lon_s"
            "  ELSE '<' || mm.node_type || ' action=\"modify\" id=\"'"
            "    || CAST(mm.osm_id AS VARCHAR) END"
            " || '\" user=\"osm_poi_matchmaker\" uid=\"8635934\" version=\"'"
            " || CASE WHEN mm.osm_id % 5 = 0 THEN '99999'"
            "         ELSE CAST(mm.osm_id % 9 + 1 AS VARCHAR) END"
            " || '\" timestamp=\"2026-01-01T00:00:00Z\">' || chr(10)"
            " || CASE WHEN mm.node_type = 'way' THEN COALESCE(nd.nd_block, '')"
            "         WHEN mm.node_type = 'relation' THEN"
            "           '  <member type=\"way\" ref=\"' || CAST(mm.osm_id * 2 AS VARCHAR)"
            "           || '\" role=\"outer\"/>' || chr(10)"
            "           || '  <member type=\"way\" ref=\"' || CAST(mm.osm_id * 2 + 1 AS VARCHAR)"
            "           || '\" role=\"inner\"/>' || chr(10)"
            "         ELSE '' END"
            " || COALESCE('  <tag k=\"name\" v=\"' || mm.name || '\"/>' || chr(10), '')"
            " || COALESCE('  <tag k=\"url\" v=\"' || mm.url || '\"/>' || chr(10), '')"
            " || '</' || mm.node_type || '>' AS xml "
            "FROM mm LEFT JOIN nd ON mm.osm_id = nd.way_id"
        ),
        "ascii_numcoder": (
            "SELECT c_custkey AS cust_id, "
            "array_to_string(list_transform(string_split(c_name, ''), "
            "  x -> CAST(ascii(x) AS VARCHAR)), '') AS numcoded "
            "FROM customer"
        ),
        "geojson_render": (
            f"{match_base} "
            "SELECT px.page_id, to_json(struct_pack("
            "  type := 'Feature',"
            "  geometry := struct_pack(type := 'Point', coordinates := [px.lon, px.lat]),"
            "  properties := struct_pack("
            "    name_c := COALESCE(px.name, ''),"
            "    osm_id_c := COALESCE(b.osm_id, -1))"
            "))::VARCHAR AS feature "
            "FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id "
            f"WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')}"
        ),
        "opening_hours_compile": (
            "WITH oh AS (SELECT c_custkey AS k, c_custkey % 6 AS cls,"
            "  printf('%02d:00', 6 + c_custkey % 4) AS ho,"
            "  (c_custkey % 7 = 3) AS has_lunch,"
            "  CASE WHEN c_custkey % 3 = 0 THEN '; PH open'"
            "       WHEN c_custkey % 3 = 1 THEN '; PH off' ELSE '' END AS ph"
            "  FROM customer) "
            "SELECT k AS cust_id, CASE cls"
            "  WHEN 0 THEN (CASE WHEN has_lunch"
            "    THEN 'Mo-Su ' || ho || '-12:00,12:30-18:00'"
            "    ELSE 'Mo-Su ' || ho || '-18:00' END) || ph"
            "  WHEN 1 THEN (CASE WHEN has_lunch"
            "    THEN 'Mo-Fr 08:00-12:00,12:30-17:00; Sa 08:00-12:00,12:30-12:00'"
            "    ELSE 'Mo-Fr 08:00-17:00; Sa 08:00-12:00' END) || ph"
            "  WHEN 2 THEN '24/7'"
            "  WHEN 3 THEN NULL"
            "  WHEN 4 THEN (CASE WHEN has_lunch"
            "    THEN 'Mo,We,Su ' || ho || '-12:00,12:30-18:00'"
            "    ELSE 'Mo,We,Su ' || ho || '-18:00' END) || ph"
            "  WHEN 5 THEN (CASE WHEN has_lunch"
            "    THEN 'Mo-Su 00:00-12:00,12:30-24:00' || ph"
            "    ELSE '24/7' || ph END)"
            "  END AS opening_hours FROM oh"
        ),
        "poi_dbscan": (
            # All-pairs ε-join is fine for the oracle at sf0.01; the
            # engine side must NOT do this (cell-ring self-join). The
            # recursive CTE is the closure twin of min-label propagation.
            _dbscan_oracle_ctes(base)
            + " SELECT o.osm_id, "
            "CASE WHEN cm.id IS NOT NULL THEN 'core' "
            "WHEN bd.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role, "
            "COALESCE(cm.cluster, bd.cluster) AS cluster "
            "FROM pset o LEFT JOIN cm ON cm.id = o.osm_id "
            "LEFT JOIN bd ON bd.id = o.osm_id"
        ),
        "idw_field": (
            f"{base} SELECT page_id, n_sources, est FROM ("
            "  SELECT px.page_id, COUNT(*) AS n_sources, "
            "  ROUND(SUM((CAST(ABS(o.osm_id) % 97 AS DOUBLE)) * "
            f"  (1.0 / (1.0 + ({hav_px} / 100.0) * ({hav_px} / 100.0)))) "
            f"  / SUM(1.0 / (1.0 + ({hav_px} / 100.0) * ({hav_px} / 100.0))), 6) AS est "
            f"  FROM pages_x px JOIN pois o ON {hav_px} < 2000.0 "
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')} "
            "  GROUP BY px.page_id)"
        ),
        "poi_cluster_footprints": (
            _dbscan_oracle_ctes(base)
            + ", rl AS (SELECT o.osm_id, "
            "CASE WHEN cm.id IS NOT NULL THEN 'core' "
            "WHEN bd.id IS NOT NULL THEN 'border' END AS role, "
            "COALESCE(cm.cluster, bd.cluster) AS cluster, o.lat, o.lon "
            "FROM pset o LEFT JOIN cm ON cm.id = o.osm_id "
            "LEFT JOIN bd ON bd.id = o.osm_id) "
            "SELECT cluster, COUNT(*) AS n_members, "
            "CAST(SUM(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT) AS n_core, "
            "ROUND(MIN(lat), 6) AS lat_min, ROUND(MAX(lat), 6) AS lat_max, "
            "ROUND(MIN(lon), 6) AS lon_min, ROUND(MAX(lon), 6) AS lon_max, "
            "ROUND(AVG(lat), 6) AS lat_centroid, ROUND(AVG(lon), 6) AS lon_centroid "
            "FROM rl WHERE cluster IS NOT NULL GROUP BY 1"
        ),
        "poi_dbscan_probe": (
            # settled = 90% of the POI table clustered; batch = the
            # osm_id%10==0 arrivals probed against settled CORES only.
            _dbscan_oracle_ctes(base, where="osm_id % 10 <> 0")
            + f", pb AS (SELECT p.osm_id AS id, MIN(c.cluster) AS cluster "
            f"FROM pois p JOIN pset o ON {synth_sql.HAV} < 400.0 "
            "JOIN cm c ON c.id = o.osm_id "
            "WHERE p.osm_id % 10 = 0 GROUP BY 1) "
            "SELECT p.osm_id, CASE WHEN pb.cluster IS NOT NULL "
            "THEN 'assigned' ELSE 'unassigned' END AS status, pb.cluster "
            "FROM pois p LEFT JOIN pb ON pb.id = p.osm_id "
            "WHERE p.osm_id % 10 = 0"
        ),
        "knn_nearest": (
            f"{base} SELECT page_id, osm_id, ROUND(distance, 2) AS distance_m FROM ("
            f"  SELECT px.page_id, o.osm_id, {hav_px} AS distance "
            f"  FROM pages_x px JOIN pois o ON {hav_px} < 2000.0 "
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')} "
            "   QUALIFY ROW_NUMBER() OVER (PARTITION BY px.page_id ORDER BY distance, o.osm_id) = 1"
            ")"
        ),
        "bpe_merges": oracles_docs.bpe_merges_sql(),
        "bpe_tokenize": oracles_docs.bpe_tokenize_sql(),
        "dedup_exact": oracles_docs.dedup_exact_sql(),
        "dedup_ngram_jaccard": oracles_docs.ngram_jaccard_sql(threshold=0.5),
        "dedup_minhash_lsh": oracles_docs.minhash_lsh_sql(num_perm=8, bands=4),
        "dedup_components": oracles_docs.dedup_components_sql(num_perm=8, bands=4),
        "dedup_keep_best": oracles_docs.dedup_keep_best_sql(num_perm=8, bands=4),
        "decontaminate": oracles_docs.decontaminate_sql(n=8, modulus=17, residue=3),
        "decontaminate_spans": oracles_docs.decontaminate_spans_sql(
            n=4, modulus=17, residue=3
        ),
        "dedup_simhash": oracles_docs.simhash_sql(),
        "dedup_substring": oracles_docs.substring_spans_sql(k=8),
        "dedup_substring_rewrite": oracles_docs.substring_rewrite_sql(k=8),
        "lsh_index_probe": oracles_docs.lsh_index_probe_sql(batch_mod=7),
        "quality_weighted_sample": oracles_docs.quality_weighted_sample_sql(),
        "doc_chunks": oracles_docs.chunk_documents_sql(ctx=64, stride=48),
        "lsh_agreement": oracles_docs.lsh_agreement_sql(),
        "lsh_arrival_dedup": oracles_docs.lsh_arrival_dedup_sql(num_perm=8, bands=4),
        "bm25_topk": oracles_docs.bm25_topk_sql(),
        "doc_stats": oracles_docs.doc_stats_sql(),
        "repetition_stats": oracles_docs.repetition_stats_sql(),
        "bigram_lm_score": oracles_docs.bigram_lm_score_sql(),
        "vocab_topk": oracles_docs.vocab_topk_sql(),
        "leakage_safe_split": oracles_docs.leakage_safe_split_sql(num_perm=8, bands=4),
        "corpus_gate": oracles_docs.corpus_gate_sql(),
        "corpus_release": oracles_docs.corpus_release_sql(num_perm=8, bands=4),
        "boilerplate_ngrams": oracles_docs.boilerplate_ngrams_sql(top_k=20),
        "pii_redact": oracles_docs.pii_redact_sql(),
        "url_templates": (
            base + ", tu AS (SELECT "
            "CASE WHEN page_id % 3 = 0 THEN 'shop.example' "
            "WHEN page_id % 3 = 1 THEN 'news.example' "
            "ELSE 'blog.example' END AS h, "
            "CASE WHEN page_id % 4 = 0 THEN '/store/' || CAST(page_id AS VARCHAR) || '/details' "
            "WHEN page_id % 4 = 1 THEN '/blog/' || CAST(page_id % 12 AS VARCHAR) || '/post-' || CAST(page_id AS VARCHAR) "
            "WHEN page_id % 4 = 2 THEN '/product-' || CAST(page_id AS VARCHAR) || '.html' "
            "ELSE '/about/team' END AS p FROM pages), "
            "tp AS (SELECT lower(split_part(h, ':', 1)) AS host, "
            "regexp_replace(CASE WHEN p = '' THEN '/' ELSE p END, "
            "'[0-9]+', '{n}', 'g') AS template FROM tu) "
            "SELECT host, template, COUNT(*) AS n_pages "
            "FROM tp GROUP BY 1, 2"
        ),
        "host_pagerank": (
            f"{base}, {_pagerank_ctes(4)} "
            "SELECT 'host' || CAST(hid AS VARCHAR) AS node, "
            "r AS rank_num, "
            f"(SELECT n * w FROM pr_c) * {60 ** 4} AS rank_unit, "
            f"CAST(r AS DOUBLE) / CAST((SELECT n * w FROM pr_c) * {60 ** 4} "
            "AS DOUBLE) AS rank_frac FROM r4"
        ),
        "frontier_schedule": (
            f"{base}, fr AS (SELECT "
            "CASE WHEN page_id % 3 = 0 THEN 'shop.example' "
            "WHEN page_id % 3 = 1 THEN 'news.example' "
            "ELSE 'blog.example' END AS host, "
            "page_id % 100 AS priority, page_id FROM pages), "
            "fs AS (SELECT 'https://' || host || '/p/' || "
            "CAST(page_id AS VARCHAR) AS url, host, priority, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY host "
            "ORDER BY priority DESC, 'https://' || host || '/p/' || "
            "CAST(page_id AS VARCHAR) ASC) - 1 AS BIGINT) AS slot FROM fr) "
            "SELECT url, host, priority, slot, "
            "slot * CASE host WHEN 'shop.example' THEN 500 "
            "WHEN 'news.example' THEN 2000 ELSE 1000 END AS scheduled_ms "
            "FROM fs WHERE slot < 200"
        ),
        "robots_filter": (
            f"{base}, rr AS (SELECT * FROM (VALUES "
            + ", ".join(
                f"('{h}', '{p}', {str(a).upper()})" for h, p, a in _ROBOTS_RULES
            )
            + ") AS t(host, prefix, allow)), "
            "rf AS (SELECT "
            "CASE WHEN page_id % 3 = 0 THEN 'shop.example' "
            "WHEN page_id % 3 = 1 THEN 'news.example' "
            "ELSE 'blog.example' END AS host, "
            "CASE WHEN page_id % 4 = 0 THEN '/store/' || CAST(page_id AS VARCHAR) || '/details' "
            "WHEN page_id % 4 = 1 THEN '/blog/' || CAST(page_id % 12 AS VARCHAR) || '/post-' || CAST(page_id AS VARCHAR) "
            "WHEN page_id % 4 = 2 THEN '/product-' || CAST(page_id AS VARCHAR) || '.html' "
            "ELSE '/about/' || CAST(page_id AS VARCHAR) END AS path "
            "FROM pages), "
            "rfu AS (SELECT 'https://' || host || path AS url, host, path FROM rf), "
            "rm AS (SELECT url, allow, prefix, ROW_NUMBER() OVER ("
            "PARTITION BY url ORDER BY LENGTH(prefix) DESC, allow DESC, "
            "prefix DESC) AS rn "
            "FROM rfu JOIN rr USING (host) WHERE starts_with(path, prefix)) "
            "SELECT f.url, f.host, f.path, "
            "COALESCE(m.allow, TRUE) AS allowed, m.prefix AS rule_prefix "
            "FROM rfu f LEFT JOIN (SELECT * FROM rm WHERE rn = 1) m "
            "USING (url)"
        ),
        "url_normalize": (
            f"{base},{_url_canon_ctes()} "
            "SELECT page_id, messy AS url_raw, canon_url FROM uc"
        ),
        "domain_quantiles": (
            f"{base},{_url_canon_ctes()} "
            "SELECT host, COUNT(*) AS n_pages, "
            "ROUND(quantile_cont(length(text), 0.5), 6) AS p50_len, "
            "ROUND(quantile_cont(length(text), 0.9), 6) AS p90_len, "
            "ROUND(quantile_cont(length(text), 0.99), 6) AS p99_len "
            "FROM uc GROUP BY 1"
        ),
        "domain_stats": (
            f"{base},{_url_canon_ctes()} "
            "SELECT host, regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain, "
            "count(*) AS n_pages, count(DISTINCT canon_url) AS n_urls, "
            "round(avg(length(text)), 6) AS avg_text_len "
            "FROM uc GROUP BY 1, 2"
        ),
        "pack_sequences": oracles_docs.pack_sequences_sql(ctx=512),
        "crawl_delta": (
            f"{base}, "
            "po AS (SELECT url, md5(text) AS old_hash FROM pages "
            "WHERE page_id % 11 <> 3), "
            "pn AS (SELECT url, md5(CASE WHEN page_id % 7 = 2 "
            "THEN text || ' [rev2]' ELSE text END) AS new_hash "
            "FROM pages WHERE page_id % 13 <> 5) "
            "SELECT COALESCE(po.url, pn.url) AS url, "
            "CASE WHEN old_hash IS NULL THEN 'added' "
            "WHEN new_hash IS NULL THEN 'removed' "
            "WHEN old_hash <> new_hash THEN 'changed' "
            "ELSE 'unchanged' END AS status, old_hash, new_hash "
            "FROM po FULL OUTER JOIN pn ON po.url = pn.url"
        ),
        "doc_rolling_fingerprint": oracles_docs.rolling_fingerprint_sql(),
        "ann_topk_exact": oracles_docs.ann_exact_sql(k=5, query_mod=50),
        "ann_topk_lsh": oracles_docs.ann_lsh_sql(k=5, bits=6, bands=16, query_mod=50),
        "ann_topk_ivf": oracles_docs.ann_ivf_sql(
            k=5, centroid_mod=100, nprobe=2, query_mod=50
        ),
        "ann_topk_sq8": oracles_docs.ann_sq8_sql(k=5, query_mod=50),
        "ann_topk_ivf_sq8": oracles_docs.ann_ivf_sq8_sql(
            k=5, centroid_mod=100, nprobe=2, query_mod=50
        ),
        "ann_recall": oracles_docs.ann_recall_sql(k=5, query_mod=50),
        "ivf_kmeans_centroids": oracles_docs.kmeans_cents_sql(
            centroid_mod=100, iters=3
        ),
        "ann_topk_ivf_kmeans": oracles_docs.ann_ivf_kmeans_sql(
            k=5, centroid_mod=100, nprobe=2, query_mod=50, iters=3
        ),
        "ann_recall_kmeans": oracles_docs.ann_recall_kmeans_sql(
            k=5, query_mod=50, centroid_mod=100, iters=3
        ),
        "pq_codebooks": oracles_docs.pq_codebooks_sql(
            dim=64, m=8, sub_mod=5, iters=2
        ),
        "ann_topk_ivf_pq": oracles_docs.ann_ivf_pq_sql(
            k=5, centroid_mod=100, cents_iters=3, nprobe=2,
            dim=64, m=8, sub_mod=5, pq_iters=2, refine=40, query_mod=50,
        ),
        "ann_recall_pq": oracles_docs.ann_recall_pq_sql(
            k=5, query_mod=50
        ),
        "ann_topk_filtered": oracles_docs.ann_ivf_filtered_sql(
            k=5, centroid_mod=100, nprobe=2, query_mod=50
        ),
        "ann_knn_join": oracles_docs.ann_knn_join_sql(
            k=5, centroid_mod=100, nprobe=2
        ),
        "ann_index_stats": oracles_docs.ivf_index_stats_sql(centroid_mod=100),
        "ann_nprobe_curve": oracles_docs.ann_nprobe_curve_sql(
            k=5, query_mod=50, centroid_mod=100
        ),
        "ann_index_append": oracles_docs.ivf_index_append_sql(
            centroid_mod=100, batch_mod=7
        ),
        "dedup_embedding_cosine": oracles_docs.embedding_cosine_dup_sql(
            threshold=0.35, bits=4
        ),
        "semantic_dedup": oracles_docs.semantic_dedup_sql(
            centroid_mod=100, threshold=0.3
        ),
        "semantic_probe": oracles_docs.semantic_probe_sql(
            batch_mod=7, centroid_mod=100, threshold=0.3
        ),
        "dedup_prefix_jaccard": oracles_docs.prefix_jaccard_sql(threshold=0.9),
        "tfidf_topk": oracles_docs.tfidf_topk_sql(k=5),
        "html_text_parity": (
            # Invariant oracle: the engine-side extraction must reproduce
            # the stored text for every page (BASELINE.json byte parity).
            f"{base} SELECT page_id, TRUE AS text_matches FROM pages"
        ),
        "hu_address_extract": _hu_address_oracle_sql(),
        "scalar_cleaners": _scalar_cleaners_oracle_sql(),
        "coord_fixes": _coord_fixes_oracle_sql(),
        "smart_postcode": (
            "SELECT * FROM (VALUES "
            + ", ".join(
                f"('{p}', '{o}', '{q}', '{r}')" for p, o, q, r in _SMART_POSTCODE_CASES
            )
            + ") AS t(poi_pc, osm_pc, query_pc, result)"
        ),
        "csv_source": (
            "SELECT * FROM read_csv('"
            + os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tests", "fixtures", "sample.tsv",
            )
            + "', delim='\t', header=true)"
        ),
        "gtfs_stops_source": (
            "SELECT * FROM (VALUES "
            "('S1', 'Budapest-Nyugati', 47.5106, 19.0568), "
            "('S2', 'Szeged', 46.2419, 20.1439)"
            ") AS t(stop_id, stop_name, stop_lat, stop_lon)"
        ),
        "osm_misc_goldens": _osm_misc_oracle_sql(),
        "zipcodes_xml_source": (
            "SELECT * FROM (VALUES ('1011', 'Budapest'), ('9737', 'Buk')) "
            "AS t(city_post_code, city_name)"
        ),
        "street_types_xml_source": (
            "SELECT * FROM (VALUES ('utca'), ('körút'), ('tér'), (''), "
            "('sétány')) AS t(street_type)"
        ),
        "poi_patch_source": (
            "SELECT * FROM (VALUES "
            "('*', '2030.0', 'Erd', 'Fo ter', '3.0', 'None', 'None', "
            "'2030', 'Erd', 'Fo ter', '3', 'None', 'None'), "
            "('hutestbrand', '7626.0', 'Pecs', 'Kiraly utca', 'None', 'None', "
            "'Old name', '7626', 'Pecs', 'Kiraly utca', '11', 'None', 'New name'), "
            "('*', 'None', 'Gyor', 'Arany Janos utca', '2.0', 'hrsz 4/1', 'None', "
            "'9021', 'Gyor', 'Arany Janos utca', '2', 'None', 'None')"
            ") AS t(poi_code, orig_postcode, orig_city, orig_street, "
            "orig_housenumber, orig_conscriptionnumber, orig_name, "
            "new_postcode, new_city, new_street, new_housenumber, "
            "new_conscriptionnumber, new_name)"
        ),
        "doc_split": (
            "SELECT doc_id, lang, CASE"
            " WHEN ((doc_id * 48271) % 2147483647) % 1000 < 900 THEN 'train'"
            " WHEN ((doc_id * 48271) % 2147483647) % 1000 < 950 THEN 'val'"
            " ELSE 'test' END AS split FROM documents"
        ),
        "doc_stratified_sample": (
            "SELECT doc_id, lang FROM documents"
            " WHERE ((doc_id * 48271) % 2147483647) % 1000 < CASE lang"
            "   WHEN 'en' THEN 250 WHEN 'de' THEN 800 WHEN 'fr' THEN 800"
            "   WHEN 'es' THEN 800 WHEN 'zh' THEN 500 ELSE 0 END"
        ),
        "provider_tesco": (
            "SELECT * FROM (VALUES "
            "('10001', 'hutescoexp', 'Budapest', 'Tesco Fogarasi', "
            " 'https://tesco.hu/aruhazak/aruhaz/budapest-fogarasi/', 47.5005, 19.1007, "
            " 'Fogarasi út', '15', NULL, '1148', '+36 1 467 8800', "
            " '06:00', '22:00', '07:00', '20:00'), "
            "('10002', 'husmrktexp', 'Győr', 'Tesco Győr Expressz', "
            " 'https://tesco.hu/aruhazak/aruhaz/gyor-expressz/', 47.6875, 17.6504, "
            " 'Baross Gábor út', '10-12', NULL, '9021', NULL, "
            " '06:30', '21:00', NULL, NULL), "
            "('10003', 'hutescoext', 'Miskolc', 'Tesco Extra Miskolc', "
            " NULL, 48.1035, 19.0735, "
            " 'Pesti út', '9', NULL, '3526', '+36 46 123 456', "
            " NULL, NULL, NULL, NULL), "
            "('10004', 'hutescosup', 'Szeged', 'Tesco Szeged', "
            " 'https://tesco.hu/aruhazak/aruhaz/szeged-aruhaz/', 46.253, 20.1414, "
            " 'Rókusi körút', '42-64', NULL, '6724', NULL, "
            " NULL, NULL, NULL, NULL), "
            "('10005', 'husmrktsup', 'Levél', 'Tesco Levél', "
            " 'https://tesco.hu/aruhazak/aruhaz/level/', 47.8934, 17.2011, "
            " 'Fő utca', '1', NULL, '9221', NULL, "
            " NULL, NULL, NULL, NULL)"
            ") AS t(ref, code, city, branch, website, lat, lon, street, "
            "housenumber, conscriptionnumber, postcode, phone, "
            "mo_open, mo_close, su_open, su_close)"
        ),
        "provider_spar": (
            "SELECT * FROM (VALUES "
            "('husparsup', '0101', 'Budapest', '1061', 'Spar szupermarket', "
            " 'https://www.spar.hu/uzletek/spar-szupermarket-budapest/0101', "
            " 47.5027, 19.0634, 'Andrássy út', '12', NULL, 'Andrássy út 12.', false), "
            "('husparecon', '2041', 'Budapest', '1062', 'Spar expressz', "
            " 'https://www.spar.hu/uzletek/spar-expressz-budapest/2041', "
            " 47.5107, 19.0563, 'Teréz körút', '55-57', NULL, 'Teréz körút 55-57.', false), "
            "('husparisup', '1033', 'Miskolc', '3527', 'Interspar hipermarket', "
            " 'https://www.spar.hu/uzletek/interspar-miskolc/1033', "
            " 48.1122, 20.7895, 'József Attila utca', '87', NULL, 'József Attila utca 87.', false), "
            "('husparsup', '5600', 'Békéscsaba', '5600', 'Spar market', NULL, "
            " 46.6791, 21.0907, 'Szarvasi út', '68', NULL, 'Szarvasi út 68/2.', false), "
            "('huspardcon', '7100', 'Szekszárd', '7100', 'DESpar', "
            " 'https://www.spar.hu/uzletek/despar-szekszard/7100', "
            " 46.3474, 18.7062, 'Arany János utca', '6-8', NULL, 'Arany János utca 6-8.', false), "
            "('husparsup', NULL, 'Tótkomlós', '5940', 'Spar partner Tótkomlós', "
            " 'https://www.spar.hu/uzletek/spar-partner-totkomlos', "
            " 46.4123, 20.7345, 'Fő út', '1', NULL, 'Fő út 1.', false)"
            ") AS t(code, ref, city, postcode, branch, website, lat, lon, "
            "street, housenumber, conscriptionnumber, original, public_holiday_open)"
        ),
        "live_tags_cache": (
            "WITH matched AS ("
            " SELECT o_orderkey AS page_id,"
            "  CASE WHEN o_orderkey % 4 = 3 THEN -(o_custkey % 80) - 1"
            "       ELSE o_custkey % 80 END AS osm_id,"
            "  CASE o_orderkey % 4 WHEN 1 THEN 'way' WHEN 3 THEN 'relation'"
            "       ELSE 'node' END AS node_type"
            " FROM orders WHERE o_orderkey % 11 = 0), "
            "cache AS ("
            " SELECT n_nationkey * 2 AS osm_id,"
            "  CASE WHEN n_nationkey % 2 = 0 THEN 'node' ELSE 'way' END AS node_type,"
            "  'name=Cached ' || CAST(n_nationkey AS VARCHAR) AS live_tags,"
            "  n_nationkey % 5 AS osm_version FROM nation), "
            "ids AS (SELECT DISTINCT c_custkey % 80 AS id FROM customer), "
            "api AS ("
            " SELECT id AS osm_id, t.node_type,"
            "  'name=Api ' || t.node_type || ' ' || CAST(id AS VARCHAR) AS live_tags,"
            "  id % 7 AS osm_version,"
            "  CASE WHEN t.node_type = 'way'"
            "   THEN [(id+1)%80, (id+7)%80, (id+13)%80] END AS nd"
            " FROM ids CROSS JOIN (VALUES ('node', 0), ('way', 1), ('relation', 2))"
            "  AS t(node_type, ord) WHERE (id + t.ord) % 9 <> 0), "
            "j AS ("
            " SELECT m.page_id, m.osm_id, m.node_type,"
            "  c.live_tags AS c_tags, c.osm_id AS c_id,"
            "  a.live_tags AS a_tags, a.osm_version AS a_version,"
            "  a.nd AS a_nd, a.osm_id AS a_id"
            " FROM matched m"
            " LEFT JOIN cache c ON m.node_type <> 'relation'"
            "  AND m.osm_id = c.osm_id AND m.node_type = c.node_type"
            " LEFT JOIN api a ON CASE WHEN m.node_type = 'relation'"
            "  THEN ABS(m.osm_id) = a.osm_id AND a.node_type = 'relation'"
            "  ELSE m.osm_id = a.osm_id AND m.node_type = a.node_type END), "
            "fetched AS (SELECT DISTINCT osm_id, node_type, a_tags, a_version, a_nd"
            " FROM j WHERE node_type <> 'relation' AND c_id IS NULL AND a_id IS NOT NULL), "
            "member_rows AS ("
            " SELECT a.osm_id, 'node' AS node_type, a.live_tags, a.osm_version"
            " FROM (SELECT DISTINCT u.n_id FROM fetched f, UNNEST(f.a_nd) AS u(n_id)"
            "       WHERE f.node_type = 'way') mm"
            " JOIN api a ON a.osm_id = mm.n_id AND a.node_type = 'node'), "
            "appends AS ("
            " SELECT DISTINCT osm_id, node_type, live_tags, osm_version FROM ("
            "  SELECT osm_id, node_type, a_tags AS live_tags, a_version AS osm_version"
            "  FROM fetched"
            "  UNION ALL SELECT * FROM member_rows) x"
            " WHERE NOT EXISTS (SELECT 1 FROM cache c"
            "  WHERE c.osm_id = x.osm_id AND c.node_type = x.node_type)) "
            "SELECT 'live' AS kind, page_id, osm_id, node_type,"
            " CASE WHEN node_type = 'relation' THEN a_tags"
            "      ELSE COALESCE(c_tags, a_tags) END AS osm_live_tags,"
            " CAST(NULL AS BIGINT) AS osm_version FROM j "
            "UNION ALL "
            "SELECT 'cache_append', CAST(NULL AS BIGINT), osm_id, node_type,"
            " live_tags, osm_version FROM appends"
        ),
        "provider_posta_json": (
            "SELECT * FROM (VALUES "
            "('hupostapo', false, '1041', 'Budapest', 'Budapest 4 posta', "
            " 47.5614, 19.0891, 'István út', '18', CAST(NULL AS STRING), 'István út 18.'), "
            "('hupostamp', CAST(NULL AS BOOLEAN), '4002', 'Debrecen', 'Debrecen mobilposta', "
            " 47.5316, 21.6273, 'Balmazújvárosi út', '10', CAST(NULL AS STRING), 'Balmazújvárosi út 10.'), "
            "('hupostacse', true, '1062', 'Budapest', 'Csekkautomata Nyugati', "
            " 19.0571, 47.5107, 'Teréz körút', '55', CAST(NULL AS STRING), 'Teréz körút 55.'), "
            "('hupostacso', true, '1082', 'Budapest', 'MPL Csomagautomata Corvin', "
            " 47.4859, 19.0764, 'Futó utca', '37', CAST(NULL AS STRING), 'Futó utca 37.'), "
            "('hupostapp', false, '6722', 'Szeged', 'PostaPont Szeged', "
            " 46.2497, 20.1442, 'Tisza Lajos körút', '47', CAST(NULL AS STRING), 'Tisza Lajos körút 47.'), "
            "(CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), '9999', 'Sehol', 'Ismeretlen', "
            " 47.0, 19.0, 'Senki utca', '0', CAST(NULL AS STRING), 'Senki utca 0.')"
            ") AS t(code, public_holiday_open, postcode, city, branch, lat, lon, "
            "street, housenumber, conscriptionnumber, original)"
        ),
        "provider_foxpost": (
            "SELECT * FROM (VALUES "
            "('hufoxpocso', 47.5316, 21.6273, '4029', 'Debrecen', "
            " 'Foxpost Debrecen Fórum', 'Az áruház földszintjén', "
            " CAST(NULL AS BOOLEAN), 'HU0021', false, 'Csapó utca', '30', "
            " CAST(NULL AS STRING), '4029 Debrecen, Csapó utca 30.', "
            " '08:00', '20:00', '08:00', '20:00', '08:00', '20:00', "
            " '08:00', '20:00', '08:00', '20:00', '09:00', '14:00', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING)), "
            "('hufoxpzcso', 47.4756, 19.047, '1117', 'Budapest', "
            " 'Foxpost Z-BOX Október huszonharmadika', "
            " 'kültéri, a bejárat mellett', true, 'HU0155', false, "
            " 'Október huszonharmadika utca', '8-10', CAST(NULL AS STRING), "
            " '1117 Budapest, Október huszonharmadika utca 8-10.', "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL), "
            "('hupackecso', 47.6853, 16.5905, '9400', 'Sopron', "
            " 'Packeta Z-BOX Sopron', CAST(NULL AS STRING), "
            " CAST(NULL AS BOOLEAN), 'ZB9001', false, 'Várkerület', '1', "
            " CAST(NULL AS STRING), '9400 Sopron, Várkerület 1.', "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL), "
            "('hupacketpp', 46.0763, 18.2281, '7621', 'Pécs', "
            " 'Packeta Z-Pont Pécs', 'A trafikban', CAST(NULL AS BOOLEAN), "
            " 'ZP0777', false, 'Király utca', '5/a', CAST(NULL AS STRING), "
            " '7621 Pécs, Király u. 5/a', "
            " '07:00', '19:00', '07:00', '19:00', '07:00', '19:00', "
            " '07:00', '19:00', '006:30', '18:30', '08:00', '12:00', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING)), "
            "(CAST(NULL AS STRING), 46.2497, 20.1442, CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'AlzaBox Szeged', CAST(NULL AS STRING), "
            " CAST(NULL AS BOOLEAN), 'AZ0001', false, CAST(NULL AS STRING), "
            " '20', CAST(NULL AS STRING), 'Mars tér 20.', "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL)"
            ") AS t(code, lat, lon, postcode, city, branch, description, "
            "nonstop, ref, public_holiday_open, street, housenumber, "
            "conscriptionnumber, original, mo_open, mo_close, tu_open, "
            "tu_close, we_open, we_close, th_open, th_close, fr_open, "
            "fr_close, sa_open, sa_close, su_open, su_close)"
        ),
        "provider_rossmann": (
            "SELECT * FROM (VALUES "
            "('hurossmche', 47.4979, 19.0546, '1052', 'Budapest', "
            " 'Váci utca', '11', CAST(NULL AS STRING), "
            " '1052 Budapest, Váci utca 11.', false, "
            " '08:00', '20:00', '08:00', '20:00', '08:00', '20:00', "
            " '08:00', '20:00', '08:00', '20:00', '09:00', '14:00', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING)), "
            "('hurossmche', 46.2532, 20.1449, '6722', 'Szeged', "
            " 'Kossuth utca', '5', CAST(NULL AS STRING), "
            " '6722 Szeged, Kossuth utca 5.', false, "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL)"
            ") AS t(code, lat, lon, postcode, city, street, housenumber, "
            "conscriptionnumber, original, public_holiday_open, mo_open, "
            "mo_close, tu_open, tu_close, we_open, we_close, th_open, "
            "th_close, fr_open, fr_close, sa_open, sa_close, su_open, "
            "su_close)"
        ),
        "provider_pingvin": (
            "SELECT * FROM (VALUES "
            "('hupingvpha', 46.2532, 20.1449, 'Szeged', 'Kossuth utca', "
            " '5', CAST(NULL AS STRING), 'Ügyelet: hétvégén zárva', false), "
            "('hupingvpha', 47.4979, 19.0546, 'Budapest', 'Váci utca', "
            " '11', CAST(NULL AS STRING), CAST(NULL AS STRING), false)"
            ") AS t(code, lat, lon, city, street, housenumber, "
            "conscriptionnumber, description, public_holiday_open)"
        ),
        "provider_bubi": (
            "SELECT * FROM (VALUES "
            "('hububibir', 'Budapest', 'Széll Kálmán tér', 'észak', "
            " '0201', true, true, 47.5071, 19.0244, CAST(NULL AS STRING)), "
            "('hububibir', 'Budapest', 'Fővám tér', CAST(NULL AS STRING), "
            " '0512', true, true, 47.4862, 19.059, CAST(NULL AS STRING)), "
            "('hububibir', 'Budapest', 'Hősök utca észak', "
            " CAST(NULL AS STRING), '0999', true, true, "
            " 47.53, 19.09, CAST(NULL AS STRING)), "
            "('hububibir', 'Budapest', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'Karakterek nélkül', true, true, "
            " 47.51, 19.07, CAST(NULL AS STRING)), "
            "('hububibir', 'Budapest', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), true, true, "
            " 47.52, 19.08, CAST(NULL AS STRING))"
            ") AS t(code, city, branch, description, ref, nonstop, "
            "public_holiday_open, lat, lon, postcode)"
        ),
        "provider_plugee": (
            "SELECT * FROM (VALUES "
            "('humolplchs', 'PL-001', '1117', 'Budapest', 'Budafoki út', "
            " '111', CAST(NULL AS STRING), 'Budafoki út 111.', 47.4658, "
            " 19.0423, 1, '50 kW', 1, '50 kW', CAST(NULL AS INTEGER), "
            " CAST(NULL AS STRING), 2, '22 kW', 'ABB', 'Terra 54', 2), "
            "('humolplchs', 'PL-002', '6722', 'Szeged', 'Kossuth utca', "
            " '5', CAST(NULL AS STRING), 'Kossuth utca 5.', "
            " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), 1, '150 kW', "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), 'Siemens', "
            " 'Sicharge', 4)"
            ") AS t(code, ref, postcode, city, street, housenumber, "
            "conscriptionnumber, original, lat, lon, socket_chademo, "
            "socket_chademo_output, socket_type2_combo, "
            "socket_type2_combo_output, socket_type2_cable, "
            "socket_type2_cable_output, socket_type2_cableless, "
            "socket_type2_cableless_output, manufacturer, model, capacity)"
        ),
        "provider_volanbusz": (
            "SELECT * FROM (VALUES "
            "('huvolantra', 'Budapest-Nyugati', 'S1', 47.5106, 19.0568, "
            " 'id=S1 lat=47.5106 lon=19.0568 name=Budapest-Nyugati'), "
            "('huvolantra', 'Szeged', 'S2', 46.2419, 20.1439, "
            " 'id=S2 lat=46.2419 lon=20.1439 name=Szeged'), "
            "('huvolantra', 'Keleti pályaudvar', 'S3', 47.5007, 19.084, "
            " 'id=S3 lat=19.084 lon=47.5007 name=Keleti pályaudvar'), "
            "('huvolantra', 'Győr', 'S4', 47.683, 17.6344, "
            " 'id=S4 lat=47.683 lon=17.6344 name= Győr')"
            ") AS t(code, name, poi_additional_ref, lat, lon, original)"
        ),
        "provider_ccc": (
            "SELECT * FROM (VALUES "
            "('hucccsho', 47.4979, 19.0546, '1052', 'Budapest', "
            " 'Váci utca', '11', CAST(NULL AS STRING), 'Váci utca 11.', "
            " false), "
            "('hucccsho', 46.2532, 20.1449, '6722', 'Szeged', "
            " 'Kossuth utca', '5/B', CAST(NULL AS STRING), "
            " 'Kossuth utca 5.', false)"
            ") AS t(code, lat, lon, postcode, city, street, housenumber, "
            "conscriptionnumber, original, public_holiday_open)"
        ),
        "provider_jysk": (
            "SELECT * FROM (VALUES "
            "('hujyskfur', 47.4658, 19.0423, 'J001', 'Budapest', '1117', "
            " 'Budafoki utca', '+36 1 205 3377', '111', "
            " 'JYSK Budafoki Áruház'), "
            "('hujyskfur', 46.2532, 20.1449, 'J002', 'Szeged', '6722', "
            " 'Kossuth utca', CAST(NULL AS STRING), '5', "
            " 'JYSK Szeged üzletház')"
            ") AS t(code, lat, lon, ref, city, postcode, street, phone, "
            "housenumber, branch)"
        ),
        "provider_tom": (
            "SELECT * FROM (VALUES "
            "('hutommacon', 'Tom Market Astoria', 47.4939, 19.0603, "
            " 'Rákóczi út', '12', CAST(NULL AS STRING), 'Budapest', "
            " '1072', 'Rákóczi út 12.', '+36 1 266 1111', false), "
            "('hutommacon', CAST(NULL AS STRING), 47.6828, 17.6342, "
            " 'Alkotmány utca', '16', CAST(NULL AS STRING), 'Győr', "
            " '9021', 'Alkotmány utca 16', CAST(NULL AS STRING), false)"
            ") AS t(code, branch, lat, lon, street, housenumber, "
            "conscriptionnumber, city, postcode, original, phone, "
            "public_holiday_open)"
        ),
        "provider_avia": (
            "SELECT * FROM (VALUES "
            "('huaviafu', 'Budapest', 'A101', 47.4658, 19.0423, '1117', "
            " 'Budafoki út', '111', CAST(NULL AS STRING), "
            " '/toltoallomas/?id=A101', '1117 Budapest, Budafoki út 111.', "
            " '+36 1 205 3377', 'bp111@avia.hu', false, "
            " true, true, true, false, false, true, true, false, true, "
            " false), "
            "('huaviafu', 'Szeged kút', CAST(NULL AS STRING), 46.2532, "
            " 20.1449, CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), false, "
            " false, true, false, true, true, false, false, true, false, "
            " true)"
            ") AS t(code, city, ref, lat, lon, postcode, street, "
            "housenumber, conscriptionnumber, website, original, phone, "
            "email, public_holiday_open, fuel_octane_95, fuel_diesel, "
            "fuel_octane_98, fuel_lpg, fuel_e85, rent_lpg_bottles, "
            "compressed_air, restaurant, food, truck)"
        ),
        "provider_mobil_petrol": (
            "SELECT * FROM (VALUES "
            "('humobpefu', 'https://mobilpetrol.hu/kut/1', 'Budapest', "
            " 'Budafoki út 111.', 47.4658, 19.0423, CAST(NULL AS STRING), "
            " 'Budafoki út', '111', CAST(NULL AS STRING), "
            " '+36 1 205 3377', CAST(NULL AS BOOLEAN), false, "
            " '06:00', '22:00', '06:00', '22:00', '06:00', '22:00', "
            " '06:00', '22:00', '06:00', '22:00', '06:00', '22:00', "
            " '06:00', '22:00'), "
            "('humobpefu', CAST(NULL AS STRING), 'Szeged', "
            " 'Kossuth utca 5.', 46.2532, 20.1449, CAST(NULL AS STRING), "
            " 'Kossuth utca', '5', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), true, true, "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL), "
            "('humobpefu', CAST(NULL AS STRING), 'Győr', "
            " 'Alkotmány utca 16', 47.6828, 17.6342, CAST(NULL AS STRING), "
            " 'Alkotmány utca', '16', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), false, "
            " '06:00', '22:00', '06:00', '22:00', '06:00', '22:00', "
            " '06:00', '22:00', '06:00', '22:00', '06:00', '22:00', "
            " '06:00', '22:00'), "
            "('humobpefu', CAST(NULL AS STRING), 'Pécs', "
            " 'Király utca 66.', 46.0766, 18.2311, CAST(NULL AS STRING), "
            " 'Király utca', '66', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), false, "
            " '05:00', '22:00', '05:00', '22:00', '05:00', '22:00', "
            " '05:00', '22:00', '05:00', '22:00', '05:00', '22:00', "
            " '05:00', '22:00')"
            ") AS t(code, website, city, original, lat, lon, postcode, "
            "street, housenumber, conscriptionnumber, phone, nonstop, "
            "public_holiday_open, mo_open, mo_close, tu_open, tu_close, "
            "we_open, we_close, th_open, th_close, fr_open, fr_close, "
            "sa_open, sa_close, su_open, su_close)"
        ),
        "provider_sber": (
            "SELECT * FROM (VALUES "
            "('husberatm', true, '1062', 'Budapest', 47.5079, 19.0655, "
            " 'Rákóczi út', '1-3', CAST(NULL AS STRING), 'Rákóczi út 1-3', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL), "
            "('husberatm', false, '6722', 'Szeged', 46.2546, 20.1483, "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'None 12', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL), "
            "('husberbank', false, '9022', 'Győr', 47.6828, 17.6342, "
            " 'Alkotmány utca', '16', CAST(NULL AS STRING), "
            " 'Alkotmány utca 16', 'gyor@sberbank.hu', '+36 96 550 750', "
            " '08:00', '17:00', '08:00', '17:00', NULL, NULL, NULL, NULL, "
            " '08:00', '16:00', NULL, NULL, NULL, NULL)"
            ") AS t(code, public_holiday_open, postcode, city, lat, lon, "
            "street, housenumber, conscriptionnumber, original, email, "
            "phone, mo_open, mo_close, tu_open, tu_close, we_open, "
            "we_close, th_open, th_close, fr_open, fr_close, sa_open, "
            "sa_close, su_open, su_close)"
        ),
        "provider_nemzeti": (
            "SELECT * FROM (VALUES "
            "('hunemdotob', '1062', 'Budapest', 'Andrássy út 98.', 47.5097, "
            " 19.0702, 'Andrássy út', '98', CAST(NULL AS STRING), false), "
            "('hunemdotob', CAST(NULL AS STRING), 'Szeged', "
            " 'Kossuth utca 5.', 46.2532, 20.1449, 'Kossuth utca', '5', "
            " CAST(NULL AS STRING), false)"
            ") AS t(code, postcode, city, original, lat, lon, street, "
            "housenumber, conscriptionnumber, public_holiday_open)"
        ),
        "provider_cib": (
            "SELECT * FROM (VALUES "
            "('hucibbank', false, 47.5079, 19.0655, 'Budapest', '1062', "
            " '98', 'Andrássy utca', 'CIB Oktogon fiók', '+36 1 423 1000', "
            " 'oktogon@cib.hu', '1062 Budapest, Andrássy út 98.'), "
            "('hucibbank', false, 47.6828, 17.6342, 'Győr', '9022', '16', "
            " 'Medve utca', 'CIB Győr fiók', CAST(NULL AS STRING), "
            " 'gyor@cib.hu', '9022 Győr, Medve utca 16.')"
            ") AS t(code, public_holiday_open, lat, lon, city, postcode, "
            "housenumber, street, branch, phone, email, original)"
        ),
        "provider_magnet": (
            "SELECT * FROM (VALUES "
            "('humagnatm', true, CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), '1062', 'Budapest', 'Andrássy út', "
            " '98', CAST(NULL AS STRING), 47.5097, 19.0702, "
            " '1062 Budapest, Andrássy út 98.'), "
            "('humagnbank', false, 'info@magnetbank.hu', '+36 1 428 8888', "
            " '1066', 'Budapest', 'Teréz körút', '36', "
            " CAST(NULL AS STRING), 47.5088, 19.0634, "
            " '1066 Budapest, Teréz körút 36.'), "
            "(CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), '6721', 'Szeged', "
            " 'Tisza Lajos körút', '87', CAST(NULL AS STRING), 46.2498, "
            " 20.1477, '6721 Szeged, Tisza Lajos körút 87.'), "
            "(CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS DOUBLE), "
            " CAST(NULL AS DOUBLE), CAST(NULL AS STRING))"
            ") AS t(code, public_holiday_open, email, phone, postcode, "
            "city, street, housenumber, conscriptionnumber, lat, lon, "
            "original)"
        ),
        "provider_deichmann": (
            "SELECT * FROM (VALUES "
            "('hudeichsho', 47.4979, 19.0546, '1052', 'Budapest', "
            " 'Fő utca', '11', '+36 1 266 2200', 'Váci utca 11.', "
            " 'Deichmann Váci', false, 'D-1052', "
            " '09:00', '19:00', '09:00', '19:00', '09:00', '19:00', "
            " '09:00', '19:00', '09:00', '20:00', '09:00', '14:00', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING)), "
            "('hudeichsho', 46.253, 20.1482, '6722', 'Szeged', "
            " 'Váci utca', '3', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), false, 'D-6722', "
            " '10:00', '18:00', NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL), "
            "('hudeichsho', 47.687, 17.634, '9021', 'Győr', "
            " 'Baross Gábor út', '27', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'Deichmann Győr', false, 'D-9021', "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL)"
            ") AS t(code, lat, lon, postcode, city, street, housenumber, "
            "phone, original, branch, public_holiday_open, ref, mo_open, "
            "mo_close, tu_open, tu_close, we_open, we_close, th_open, "
            "th_close, fr_open, fr_close, sa_open, sa_close, su_open, "
            "su_close)"
        ),
        "provider_yves": (
            "SELECT * FROM (VALUES "
            "('huyvesrcos', 47.4979, 19.0546, '1052', 'Váci utca', '11', "
            " CAST(NULL AS STRING), 'Budapest', 'Váci utca 11.', "
            " '+36 1 266 5533;+36 30 123 4567', false), "
            "('huyvesrcos', 46.253, 20.1482, '6722', 'Tisza Lajos körút', "
            " '47', CAST(NULL AS STRING), 'Szeged', "
            " 'Tisza Lajos körút 47.', '+36 70 765 4321', false), "
            "('huyvesrcos', 47.687, 17.634, '9021', 'Kossuth utca', '5', "
            " CAST(NULL AS STRING), 'Győr', 'Kossuth utca 5.', "
            " '+36 96 311 222', false)"
            ") AS t(code, lat, lon, postcode, street, housenumber, "
            "conscriptionnumber, city, original, phone, "
            "public_holiday_open)"
        ),
        "provider_benu": (
            "SELECT * FROM (VALUES "
            "('hubenupha', CAST(NULL AS STRING), "
            " 'BENU Gyógyszertár Budapest Oktogon', "
            " 'https://benu.hu/gyogyszertar/oktogon', '1052', 'Budapest', "
            " 47.5042, 19.0628, 'Andrássy út', '39', CAST(NULL AS STRING), "
            " 'Andrássy út 39.', '+36 1 312 4319', false), "
            "('hubenupha', 'Szent Margit Gyógyszertár', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), '6722', 'Szeged', "
            " 46.2519, 20.1448, 'Tisza Lajos körút', '47', "
            " CAST(NULL AS STRING), 'Tisza Lajos körút 47.', "
            " CAST(NULL AS STRING), false)"
            ") AS t(code, name, branch, website, postcode, city, lat, lon, "
            "street, housenumber, conscriptionnumber, original, phone, "
            "public_holiday_open)"
        ),
        "provider_easybox": (
            "SELECT * FROM (VALUES "
            "('hueasybcso', 47.4979, 19.0546, 'Budapest', "
            " 'easybox Váci utca', 'Váci utca 11.', 'Váci utca', '11', "
            " CAST(NULL AS STRING), false, 'EB-1001'), "
            "('hueasybcso', 46.253, 20.1482, 'Szeged', 'easybox Tisza', "
            " 'Tisza Lajos körút 47.', 'Tisza Lajos körút', '47', "
            " CAST(NULL AS STRING), false, 'EB-1002')"
            ") AS t(code, lat, lon, city, branch, original, street, "
            "housenumber, conscriptionnumber, public_holiday_open, ref)"
        ),
        "provider_ofotert": (
            "SELECT * FROM (VALUES "
            "('huofoteopt', 47.513, 19.0622, '1066', 'Ofotért Teréz körút', "
            " 'Budapest', 'Váci út', '178', CAST(NULL AS STRING), "
            " '+36 1 301 0695', 'Váci út 178.', false, 'OF-001', "
            " '09:00', '17:30', '09:00', '17:30', '09:00', '17:30', "
            " '09:00', '17:30', '09:00', '17:30', NULL, NULL, NULL, NULL), "
            "('huofoteopt', 46.253, 20.1482, '6722', 'Ofotért Szeged', "
            " 'Szeged', 'Budafoki út', '111', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'Budafoki út 111.', false, 'OF-002', "
            " '08:00', '16:00', '08:00', '16:00', NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL), "
            "('huofoteopt', 47.687, 17.634, '9021', 'Ofotért Győr', "
            " 'Győr', 'Szent István út', '10', CAST(NULL AS STRING), "
            " '+36 96 311 316', 'Szent István út 10.', false, 'OF-003', "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL)"
            ") AS t(code, lat, lon, postcode, branch, city, street, "
            "housenumber, conscriptionnumber, phone, original, "
            "public_holiday_open, ref, mo_open, mo_close, tu_open, "
            "tu_close, we_open, we_close, th_open, th_close, fr_open, "
            "fr_close, sa_open, sa_close, su_open, su_close)"
        ),
        "provider_oil": (
            "SELECT * FROM (VALUES "
            "('huoilfu', '1117', 'Budapest', 47.4658, 19.0423, "
            " 'Budafoki út 111.', 'Budafoki út', '111', "
            " CAST(NULL AS STRING), '+36 1 205 3377', true, true, "
            " 'OIL-07', 'https://www.oil-benzinkutak.hu/kut/07', ''''), "
            "('huoilfu', '6722', 'Szeged', 46.253, 20.1482, "
            " 'Váci út 178.', 'Váci út', '178', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), true, true, 'OIL-12', "
            " 'https://www.oil-benzinkutak.hu', '''')"
            ") AS t(code, postcode, city, lat, lon, original, street, "
            "housenumber, conscriptionnumber, phone, fuel_octane_95, "
            "fuel_diesel, ref, website, branch)"
        ),
        "provider_omv": (
            "SELECT * FROM (VALUES "
            "('huomvfu', '1113', 'Budapest', true, true, 47.4725, 19.0312, "
            " 'Budafoki út 111.', 'Budafoki út', '111', "
            " CAST(NULL AS STRING), '+36 1 209 1800', "
            " true, true, true, true, true, "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING)), "
            "('huomvfu', '9027', 'Győr', CAST(NULL AS BOOLEAN), false, "
            " 47.6893, 17.6521, 'Szent István út 10.', 'Szent István út', "
            " '10', CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " true, true, true, true, true, "
            " '06:00', '22:00', '06:00', '22:00', '06:00', '22:00', "
            " '06:00', '22:00', '06:00', '22:00', '06:00', '22:00', "
            " '06:00', '22:00'), "
            "('huomvfu', '6725', 'Szeged', CAST(NULL AS BOOLEAN), false, "
            " 46.2412, 20.1332, 'Váci út 178.', 'Váci út', '178', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " true, true, true, true, true, "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL)"
            ") AS t(code, postcode, city, nonstop, public_holiday_open, "
            "lat, lon, original, street, housenumber, conscriptionnumber, "
            "phone, fuel_octane_95, fuel_diesel, fuel_octane_100, "
            "fuel_diesel_gtl, compressed_air, mo_open, mo_close, tu_open, "
            "tu_close, we_open, we_close, th_open, th_close, fr_open, "
            "fr_close, sa_open, sa_close, su_open, su_close)"
        ),
        "provider_kulcs": (
            "SELECT * FROM (VALUES "
            "('hukulcspha', CAST(NULL AS STRING), 'Kulcs patika Teréz', "
            " '+36 1 311 4439', 47.5088, 19.0634, '1066', 'Budapest', "
            " 'Teréz körút', '36', CAST(NULL AS STRING), false), "
            "('hukulcspha', 'Arany Kígyó Gyógyszertár', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), 46.2498, 20.1477, "
            " '6721', 'Szeged', 'Tisza Lajos körút', '87', "
            " CAST(NULL AS STRING), false), "
            "('hukulcspha', CAST(NULL AS STRING), 'Kulcs patika Elveszett', "
            " CAST(NULL AS STRING), 47.1, 19.1, '1111', 'Budapest', "
            " 'Vak Bottyán utca', '3', CAST(NULL AS STRING), false)"
            ") AS t(code, name, branch, phone, lat, lon, postcode, city, "
            "street, housenumber, conscriptionnumber, public_holiday_open)"
        ),
        "provider_penny": (
            "SELECT * FROM (VALUES "
            "('hupennysup', '6722', 'Szeged', 'sugár út 1, bevásárlópark', "
            " 46.2661, 20.1582, 'Sugár út', '1', CAST(NULL AS STRING), "
            " '+36 80 555 666', 'P101', false), "
            "('hupennysup', '1173', 'Budapest', 'Pesti út 237.', "
            " 47.4839, 19.2631, 'Pesti út', '237', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'P102', false)"
            ") AS t(code, postcode, city, original, lat, lon, street, "
            "housenumber, conscriptionnumber, phone, ref, "
            "public_holiday_open)"
        ),
        "provider_pepco": (
            "SELECT * FROM (VALUES "
            "('hupepcoclo', 'Budapest', 47.5316, 19.0624, 'Szentendrei út', "
            " '227-229', CAST(NULL AS STRING), 'Szentendrei út 227-229.', "
            " '1039', '+36 1 240 1000', false), "
            "('hupepcoclo', 'Szeged', 46.2536, 20.1461, "
            " 'Kossuth Lajos utca', '11-13', CAST(NULL AS STRING), "
            " 'Kossuth Lajos utca 11-13.', '6722', CAST(NULL AS STRING), "
            " false)"
            ") AS t(code, city, lat, lon, street, housenumber, "
            "conscriptionnumber, original, postcode, phone, "
            "public_holiday_open)"
        ),
        "provider_obi": (
            "SELECT * FROM (VALUES "
            "('huobidiy', '1097', 'Budapest', "
            " 'Könyves Kálmán körút 12-14.', 47.4777, 19.0887, "
            " 'Könyves Kálmán körút', '12-14', CAST(NULL AS STRING), "
            " '+36 1 323 2120', 'OBI-015', 'budapest.lurdy@obi.hu', "
            " 'https://www.obi.hu/aruhaz/lurdy'), "
            "('huobidiy', '9023', 'Győr', 'Alkotás utca 53.', 47.6652, "
            " 17.6416, 'Alkotás utca', '53', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'OBI-021', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING))"
            ") AS t(code, postcode, city, original, lat, lon, street, "
            "housenumber, conscriptionnumber, phone, ref, email, website)"
        ),
        "provider_types": (
            "SELECT provider, seq, poi_code, poi_common_name, poi_type, "
            "poi_tags, poi_url_base, poi_search_name, "
            "poi_search_avoid_name, preserve_original_name, "
            "preserve_original_post_code, export_poi_name, "
            "do_not_export_addr_tags, osm_search_distance_perfect, "
            "osm_search_distance_safe, osm_search_distance_unsafe, "
            "additional_ref_name "
            f"FROM read_json('{_REPO_DIR}/osm_poi_matchmaker_spark/"
            "resources/poi_common.jsonl', format='newline_delimited', "
            "columns={'provider':'VARCHAR','seq':'INTEGER',"
            "'poi_code':'VARCHAR','poi_common_name':'VARCHAR',"
            "'poi_type':'VARCHAR','poi_tags':'VARCHAR',"
            "'poi_url_base':'VARCHAR','poi_search_name':'VARCHAR',"
            "'poi_search_avoid_name':'VARCHAR',"
            "'preserve_original_name':'BOOLEAN',"
            "'preserve_original_post_code':'BOOLEAN',"
            "'export_poi_name':'BOOLEAN',"
            "'do_not_export_addr_tags':'BOOLEAN',"
            "'osm_search_distance_perfect':'INTEGER',"
            "'osm_search_distance_safe':'INTEGER',"
            "'osm_search_distance_unsafe':'INTEGER',"
            "'additional_ref_name':'VARCHAR'}) "
            "QUALIFY row_number() OVER (PARTITION BY poi_code ORDER BY seq) = 1"
        ),
        "brand_tag_merge": (
            f"{match_base}, {brand_ctes}, "
            "mp AS ("
            "  SELECT px.page_id, px.name, px.url, br.common_code"
            "  FROM pages_x px JOIN best b ON px.page_id = b.page_id"
            "  JOIN bridge br ON b.poi_code = br.poi_code"
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')}"
            "), "
            "cand AS ("
            "  SELECT mp.page_id, be.k, be.v, 0 AS rk"
            "  FROM mp JOIN brand_entries be USING (common_code)"
            "  UNION ALL SELECT page_id, 'name', name, 1 FROM mp"
            "  UNION ALL SELECT page_id, 'website', url, 1 FROM mp"
            "), "
            "win AS ("
            "  SELECT page_id, k, v FROM cand"
            "  QUALIFY row_number() OVER ("
            "    PARTITION BY page_id, k ORDER BY rk DESC) = 1"
            "), "
            "rw AS ("
            "  SELECT page_id,"
            "    CASE WHEN k = 'website' THEN 'contact:website' ELSE k END AS k2,"
            "    CASE WHEN k = 'website' THEN lower(v) ELSE v END AS v2"
            "  FROM win w"
            "  WHERE NOT (k = 'website' AND EXISTS ("
            "    SELECT 1 FROM win w2 WHERE w2.page_id = w.page_id"
            "    AND w2.k = 'contact:website'))"
            ") "
            "SELECT page_id, string_agg(k2 || '=' || v2, '|' "
            "ORDER BY k2 || '=' || v2) AS merged FROM rw GROUP BY page_id"
        ),
        "provider_aldi": (
            "SELECT * FROM (VALUES "
            "('hualdisup', 'budaörs', 47.4563, 18.9625, 'Malomkő utca', '6', "
            " CAST(NULL AS STRING), '2040', 'Malomkő utca 6.', false, "
            " '+36 80 020 534', "
            " '07:00', '21:00', '07:00', '21:00', '07:00', '21:00', "
            " '07:00', '21:00', '07:00', '21:00', '07:00', '21:00', "
            " '08:00', '18:00'), "
            "('hualdisup', 'Szeged', 46.2548, 20.1489, 'Rókusi körút', "
            " '42-64', CAST(NULL AS STRING), '6724', 'Rókusi körút 42-64.', "
            " false, CAST(NULL AS STRING), "
            " '07:00', '20:00', NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, '09:00', '17:00')"
            ") AS t(code, city, lat, lon, street, housenumber, "
            "conscriptionnumber, postcode, original, public_holiday_open, "
            "phone, mo_open, mo_close, tu_open, tu_close, we_open, we_close, "
            "th_open, th_close, fr_open, fr_close, sa_open, sa_close, "
            "su_open, su_close)"
        ),
        "provider_dm": (
            "SELECT * FROM (VALUES "
            "('hudmche', '1052', 'Budapest', "
            " 'https://www.dm.huuzletek/budapest-deak', "
            " 'Deák Ferenc utca 23., 1. emelet', 47.4979, 19.0546, "
            " 'Deák Ferenc utca', '23', CAST(NULL AS STRING), "
            " '+36 1 266 1200', 'D123', false, "
            " '08:00', '20:00', '08:00', '20:00', NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, '09:00', '14:00'), "
            "('hudmche', '1138', 'Budapest', 'https://www.dm.huuzletek/vaci', "
            " 'váci út 1-3', 47.5312, 19.0654, 'Váci út', '1-3', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), 'D456', false, "
            " '07:00', '19:00', NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL), "
            "('hudmche', '9021', 'Győr', 'https://www.dm.huNone', "
            " 'fő tér 7.', 47.6875, 17.6349, 'Fő tér', '7', "
            " CAST(NULL AS STRING), '+36 96 310 000', 'D321', false, "
            " '08:30', '17:30', NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL)"
            ") AS t(code, postcode, city, website, original, lat, lon, "
            "street, housenumber, conscriptionnumber, phone, ref, "
            "public_holiday_open, mo_open, mo_close, tu_open, tu_close, "
            "we_open, we_close, th_open, th_close, fr_open, fr_close, "
            "sa_open, sa_close, su_open, su_close)"
        ),
        "provider_kh": (
            "SELECT * FROM (VALUES "
            "('hukhbank', false, false, 47.4806, 19.0653, '1095', "
            " 'Budapest', 'Lechner Ödön fasor', '9', CAST(NULL AS STRING), "
            " '1095 Budapest, Lechner Ödön fasor 9.', '+36 1 328 9000'), "
            "('hukhbank', false, false, 47.4961, 19.0496, '1051', "
            " 'Budapest', 'Vigadó tér', '3', CAST(NULL AS STRING), "
            " '1051 Budapest, Vigadó tér 3.', CAST(NULL AS STRING)), "
            "('hukhbank', false, false, 47.5312, 21.6242, "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), '+36 52 123 456'), "
            "('hukhbank', false, false, 47.5316, 19.0624, '4025', "
            " 'Debrecen', 'Piac utca', '22', CAST(NULL AS STRING), "
            " '4025 Debrecen, Piac utca 22.', CAST(NULL AS STRING))"
            ") AS t(code, public_holiday_open, nonstop, lat, lon, postcode, "
            "city, street, housenumber, conscriptionnumber, original, phone)"
        ),
        "provider_mol": (
            "SELECT * FROM (VALUES "
            "('humolfu', '1061', 'Budapest', 'Andrássy út 23.', 47.5062, "
            " 19.0651, 'Andrássy út', '23', CAST(NULL AS STRING), false, "
            " true, true, false, true, true, true, true, true, true, true), "
            "('humolwfu', '1031', 'Budapest', 'Nánási út 1.', 47.567, 19.07, "
            " 'Nánási út', '1', CAST(NULL AS STRING), false, "
            " false, false, false, false, false, true, true, true, true, true), "
            "('humolfaf', '9022', 'Győr', 'Bajcsy-Zsilinszky út 9.', 47.6875, "
            " 17.635, 'Bajcsy-Zsilinszky út', '9', CAST(NULL AS STRING), false, "
            " false, true, true, false, false, true, true, true, true, true), "
            "('humolfu', '9222', 'Hegyeshalom', 'Fő utca 2.', 47.9089, "
            " 17.1572, 'Fő utca', '2', CAST(NULL AS STRING), false, "
            " false, true, false, false, false, true, true, true, true, true)"
            ") AS t(code, postcode, city, original, lat, lon, street, "
            "housenumber, conscriptionnumber, public_holiday_open, truck, "
            "food, rent_lpg_bottles, fuel_adblue, fuel_lpg, fuel_octane_95, "
            "fuel_diesel, fuel_octane_100, fuel_diesel_gtl, compressed_air)"
        ),
        "provider_gls": (
            "SELECT * FROM (VALUES "
            "('huglscso', true, 'Tesco Fogarasi', CAST(NULL AS STRING), "
            " 47.5005, 19.1007, '1148', 'Budapest', 'GLS-1001', "
            " 'Fogarasi út 15.', 'Fogarasi út', '15', CAST(NULL AS STRING), "
            " '+36 1 802 0265', CAST(NULL AS STRING), "
            " 'Bevásárlóközpont földszint', "
            " '08:00', '20:00', '08:00', '20:00', NULL, NULL, NULL, NULL, "
            " NULL, NULL, '09:00', '14:00', NULL, NULL), "
            "('huglspp', false, 'Csomagpont Rossmann', 'Csomagpont Rossmann', "
            " 46.253, 20.1414, '6722', 'Szeged', 'GLS-2002', "
            " 'Kossuth Lajos sugárút 75.', 'Kossuth Lajos sugárút', '75', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " '07:00', '19:00', NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, '08:00', '12:00'), "
            "(CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), 'GLS pont Pécs', "
            " CAST(NULL AS STRING), 46.0727, 18.2323, '7621', 'Pécs', "
            " 'GLS-5005', 'Király utca 66.', 'Király utca', '66', "
            " CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'Ismeretlen típus', "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL)"
            ") AS t(code, public_holiday_open, branch, name, lat, lon, "
            "postcode, city, ref, original, street, housenumber, "
            "conscriptionnumber, phone, email, description, mo_open, "
            "mo_close, tu_open, tu_close, we_open, we_close, th_open, "
            "th_close, fr_open, fr_close, sa_open, sa_close, su_open, "
            "su_close)"
        ),
        "provider_mav": (
            "SELECT * FROM (VALUES "
            "('humavstart', 'Budapest-Nyugati', 'S1', 47.5106, 19.0568, "
            " 'id=S1 lat=47.5106 lon=19.0568 name=Budapest-Nyugati'), "
            "('humavstart', 'Szeged', 'S2', 46.2419, 20.1439, "
            " 'id=S2 lat=46.2419 lon=20.1439 name=Szeged'), "
            "('humavstart', 'Keleti pályaudvar', 'S3', 47.5007, 19.084, "
            " 'id=S3 lat=19.084 lon=47.5007 name=Keleti pályaudvar'), "
            "('humavstart', 'Győr', 'S4', 47.683, 17.6344, "
            " 'id=S4 lat=47.683 lon=17.6344 name= Győr')"
            ") AS t(code, name, poi_additional_ref, lat, lon, original)"
        ),
        "provider_mkb": (
            "SELECT * FROM (VALUES "
            "('humkbbank', false, false, '1054', 'Budapest', 'Váci utca', "
            " '38', CAST(NULL AS STRING), 'Váci utca 38.', 47.4944, 19.0514, "
            " 'fiok.vaci@mkb.hu', 'https://www.mkb.hu/idopont', 'F001', "
            " 'Akadálymentesen megközelíthető.; Telefon: +36 1 268 7066', "
            " '+36 1 268 7066', "
            " '08:00', '17:00', '08:00', '17:00', '08:00', '17:00', "
            " '08:00', '17:00', '08:00', '16:00', 'nan', 'nan', 'nan', 'nan'), "
            "('humkbatm', true, true, '6722', 'szeged', 'Kossuth Lajos utca', "
            " '18', CAST(NULL AS STRING), 'Kossuth Lajos utca 18.', 46.253, "
            " 20.1414, CAST(NULL AS STRING), CAST(NULL AS STRING), 'A101', "
            " 'Bejáratnál', CAST(NULL AS STRING), "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL), "
            "('humkbbank', false, false, '4024', 'Debrecen', "
            " 'Dózsa György út', '84/A', CAST(NULL AS STRING), "
            " 'Dózsa György út 84/a', 47.5289, 21.6254, "
            " 'fiok.debrecen@mkb.hu', CAST(NULL AS STRING), 'F002', "
            " 'Hétvégén zárva. Telefon: 06 62 565 758', '+36 62 565 758', "
            " '7:30', 'nan', '08:00', '17:00', '08:00', '17:00', "
            " '08:00', '17:00', '08:00', CAST(NULL AS STRING), "
            " 'nan', 'nan', 'nan', 'nan')"
            ") AS t(code, public_holiday_open, nonstop, postcode, city, "
            "street, housenumber, conscriptionnumber, original, lat, lon, "
            "email, website, ref, description, phone, mo_open, mo_close, "
            "tu_open, tu_close, we_open, we_close, th_open, th_close, "
            "fr_open, fr_close, sa_open, sa_close, su_open, su_close)"
        ),
        "provider_fire": (
            "SELECT * FROM (VALUES "
            "('hufiremsta', 47.684, 17.625, '9021', 'Győr', "
            " 'Munkácsy Mihály utca', '4', CAST(NULL AS STRING), "
            " '+36 96 512 610', 'gyor.htp@katved.gov.hu', "
            " '9021 Győr, Munkácsy Mihály utca 4.'), "
            "('hufireusta', 47.49, 19.08, '1081', 'Budapest', "
            " 'Dologház utca', '1', CAST(NULL AS STRING), "
            " '+36 1 459 2300', 'fokig@katved.gov.hu', "
            " '1081 Budapest, Dologház utca 1.'), "
            "('hufirelsta', 47.549, 17.755, '9090', 'Pannonhalma', "
            " 'Dózsa György utca', '1', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'pannonhalma.ko@katved.gov.hu', "
            " '9090 Pannonhalma, Dózsa György utca 1.'), "
            "(CAST(NULL AS STRING), 48.104, 20.779, '3525', 'Miskolc', "
            " 'Dózsa György út', '15', CAST(NULL AS STRING), "
            " '+36 46 502 962', CAST(NULL AS STRING), "
            " '3525 Miskolc, Dózsa György út 15.'), "
            "('hufirevsta', 47.33, 17.468, '8500', 'Pápa', "
            " 'Fő utca', '12', CAST(NULL AS STRING), "
            " '+36 89 313 644', 'papa.ote@example.hu', "
            " '8500 Pápa, Fő utca 12.')"
            ") AS t(code, lat, lon, postcode, city, street, housenumber, "
            "conscriptionnumber, phone, email, original)"
        ),
        "provider_shell": (
            "SELECT * FROM (VALUES "
            "('hushellfu', 'https://shell.hu/budaors', '2040', 'Budaörs', "
            " 'Shell Budaörs', true, true, 'KISKŐRÖSI ÚT 4.', 47.46, 18.96, "
            " 'Kiskőrösi út', '4', CAST(NULL AS STRING), '+36 23 415 701', "
            " true, true, true, true, true, true, true, true, true), "
            "('hushellfu', 'https://shell.hu/gyor', '9012', 'Győr', "
            " 'Shell Győr', CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), "
            " 'BUDAPESTI ÚT 154.', 47.653, 17.626, 'Budapesti út', '154', "
            " CAST(NULL AS STRING), '+36 96 555 222', "
            " true, true, true, true, CAST(NULL AS BOOLEAN), true, "
            " CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS BOOLEAN)), "
            "('hushellfu', 'https://shell.hu/', '9155', 'Lébény', "
            " 'Shell M1 Lébény', CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS BOOLEAN), 'M1 AUTÓPÁLYA', 47.7306, 17.3849, "
            " 'm1 autópálya', CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " '+36 96 123 456', true, true, true, true, "
            " CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS BOOLEAN), true, CAST(NULL AS BOOLEAN)), "
            "('hushellfu', 'https://shell.hu/', CAST(NULL AS STRING), "
            " 'Hegyeshalom', 'Hegyeshalom', CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS BOOLEAN), 'FŐ ÚT 1.', 47.9089, 17.1572, "
            " 'Fő út', '1', CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " true, true, true, true, CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), "
            " CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN))"
            ") AS t(code, website, postcode, city, branch, nonstop, "
            "public_holiday_open, original, lat, lon, street, housenumber, "
            "conscriptionnumber, phone, fuel_octane_95, fuel_diesel, "
            "fuel_octane_100, fuel_diesel_gtl, compressed_air, fuel_adblue, "
            "restaurant, food, truck)"
        ),
        "provider_mobiliti": (
            "SELECT * FROM (VALUES "
            "('humobilchs', 'HU-MOB-001', 'Mobiliti Krisztina', '1013', "
            " 'Budapest', '1013 Budapest, Krisztina körút', '37/A', "
            " CAST(NULL AS STRING), '1013 Budapest, Krisztina körút 37/a', "
            " 47.4979, 19.0326, 'ABB', "
            " 3, '11 kW', 16, 230, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " 1, '50 kW', 125, 500, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)), "
            "('humobilchs', '12345', 'Mobiliti Győr Árkád', '9027', 'Győr', "
            " '6722 Szeged, Kálvária sugárút', '23', CAST(NULL AS STRING), "
            " '6722 Szeged, Kálvária sgt. 23.', 47.6832, 17.6351, "
            " CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " 4, '22 kW', 32, 400, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " 2, CAST(NULL AS STRING), 200, 920), "
            "('humobilchs', 'HU-MOB-005', 'Mobiliti Péterfia', '4026', "
            " 'Debrecen', '4026 Debrecen, Péterfia utca', '18', "
            " CAST(NULL AS STRING), '4026 Debrecen, Péterfia utca 18.', "
            " 47.5289, 19.0611, 'EVBox', "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " 2, '50 kW', 125, 500, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)), "
            "('humobilchs', 'HU-MOB-007', 'Mobiliti Sport', '2040', "
            " 'Budaörs', '2040 Budaörs, Sport utca', '2-4', "
            " CAST(NULL AS STRING), '2040 Budaörs, Sport utca 2-4.', "
            " 47.4625, 18.9622, 'ABB', "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " 5, '50 kW', 125, 500, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)), "
            "('humobilchs', 'HU-MOB-008', 'Mobiliti Szentpáli', '3525', "
            " 'Miskolc', '3525 Miskolc, Szentpáli utca', '2-6', "
            " CAST(NULL AS STRING), '3525 Miskolc, Szentpáli utca 2-6.', "
            " 48.1031, 20.7784, 'Wallbox', "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " CAST(NULL AS INTEGER), '100 kW', 250, 400, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)), "
            "('humobilchs', 'HU-MOB-010', 'Mobiliti Hunyadi', '1117', "
            " 'Budapest', '1117 Budapest, Hunyadi János út', '19', "
            " CAST(NULL AS STRING), '1117 Budapest, Hunyadi János út 19.', "
            " 47.4702, 19.0539, 'ABB', "
            " 2, CAST(NULL AS STRING), 32, 400, "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
            " CAST(NULL AS INTEGER), CAST(NULL AS STRING), "
            " CAST(NULL AS INTEGER), CAST(NULL AS INTEGER))"
            ") AS t(code, ref, branch, postcode, city, street, housenumber, "
            "conscriptionnumber, original, lat, lon, manufacturer, "
            "socket_type2_cable, socket_type2_cable_output, "
            "socket_type2_cable_current, socket_type2_cable_voltage, "
            "socket_type2_cableless, socket_type2_cableless_output, "
            "socket_type2_cableless_current, socket_type2_cableless_voltage, "
            "socket_chademo, socket_chademo_output, "
            "socket_chademo_current, socket_chademo_voltage, "
            "socket_type2_combo, socket_type2_combo_output, "
            "socket_type2_combo_current, socket_type2_combo_voltage)"
        ),
        "provider_atp_types": (
            "SELECT * FROM (VALUES "
            "('huatp_hu_sk', 'Hu_Sk', 'shop', '', CAST(NULL AS STRING), 'hu_sk'), "
            "('huatp_lidl_hu', 'Lidl', 'shop', 'lidl', 'Lidl', 'lidl_hu'), "
            "('huatp_megaspider_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa', "
            " 'Longy', 'shop', 'longy', 'Longy', "
            " 'megaspider_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa_one'), "
            "('huatp_mol_bubi_hu', 'Mol Bubi', 'shop', 'mol bubi', CAST(NULL AS STRING), 'mol_bubi_hu'), "
            "('huatp_obi_hu', 'OBI', 'doityourself', 'obi', 'OBI', 'obi_hu'), "
            "('huatp_rossmann_hu_spider', 'Rossmann', 'chemist', 'rossmann', "
            " 'Rossmann', 'Rossmann-HU Spider')"
            ") AS t(poi_code, poi_common_name, poi_type, poi_search_name, "
            "brand_tag, spider)"
        ),
        "provider_atp_pois": (
            "SELECT * FROM (VALUES "
            "('huatp_tesco_hu', 47.5005, 19.1007, 'Tesco Fogarasi', 'tesco_hu', "
            " 'Fogarasi út', '15', CAST(NULL AS STRING), 'Fogarasi út 15', "
            " 'Budapest', '1148', '+36 1 467 8800', CAST(NULL AS STRING), "
            " 'https://tesco.hu/aruhaz', 'T1', 'Mo-Fr 06:00-22:00'), "
            "('huatp_tesco_hu', 47.5321, 19.0556, 'Tesco', 'tesco_hu', "
            " 'Váci út', CAST(NULL AS STRING), CAST(NULL AS STRING), 'Váci út None', "
            " 'Budapest', CAST(NULL AS STRING), '+36 1 236 6000', CAST(NULL AS STRING), "
            " CAST(NULL AS STRING), 'node/123', CAST(NULL AS STRING)), "
            "('huatp_tesco_hu', 47.4979, 19.0402, 'Tesco Expressz Astoria', 'tesco_hu', "
            " 'Rákóczi út', '12', CAST(NULL AS STRING), 'Rákóczi út 12.', "
            " 'Budapest', '1072', CAST(NULL AS STRING), 'astoria@tesco.hu', "
            " 'https://tesco.hu/uzletek/astoria', CAST(NULL AS STRING), CAST(NULL AS STRING))"
            ") AS t(code, lat, lon, name, branch, street, housenumber, "
            "conscriptionnumber, original, city, postcode, phone, email, "
            "website, ref, opening_hours)"
        ),
        "provider_posta": (
            "SELECT * FROM (VALUES "
            "('hupostapo', '1062', 'Budapest', 'Budapest 62. számú posta', "
            " 'Teréz krt 51-53', 'Teréz krt', '51-53', CAST(NULL AS STRING), "
            " 47.5107, 19.0571, '+36 1 487 1000', 'posta62@posta.hu', "
            " CAST(NULL AS BOOLEAN), false, '12:00', '12:30', "
            " '08:00', '08:00', NULL, NULL, NULL, NULL, '08:00', '18:00', "
            " '08:00', '08:00', NULL, NULL, NULL, NULL), "
            "('hupostacso', '1024', 'Budapest', 'Mammut MPL Csomagautomata', "
            " 'Lövőház utca 2-6', 'Lövőház utca', '2-6', CAST(NULL AS STRING), "
            " 47.5095, 19.0247, NULL, NULL, "
            " true, true, NULL, NULL, "
            " '0:00', '0:00', '0:00', '0:00', '0:00', '0:00', '0:00', '0:00', "
            " '0:00', '0:00', '0:00', '0:00', '0:00', '0:00'), "
            "('hupostapp', '9021', 'Győr', 'Győr 1 PostaPont', "
            " 'Bajcsy-Zsilinszky út 38', 'Bajcsy-Zsilinszky út', '38', CAST(NULL AS STRING), "
            " 47.6832, 17.6354, '+36 96 314 324', NULL, "
            " CAST(NULL AS BOOLEAN), false, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, '08:00', '08:00', NULL, NULL), "
            "(CAST(NULL AS STRING), '3525', 'Miskolc', 'Miskolc mobilposta', "
            " 'Hősök tere', 'Hősök tere', CAST(NULL AS STRING), CAST(NULL AS STRING), "
            " 48.1031, 20.7784, NULL, NULL, "
            " CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
            " NULL, NULL, NULL, NULL, NULL, NULL)"
            ") AS t(code, postcode, city, branch, original, street, "
            "housenumber, conscriptionnumber, lat, lon, phone, email, "
            "nonstop, public_holiday_open, lunch_break_start, lunch_break_stop, "
            "mo_open, mo_close, tu_open, tu_close, we_open, we_close, "
            "th_open, th_close, fr_open, fr_close, sa_open, sa_close, "
            "su_open, su_close)"
        ),
        "provider_cba": (
            "SELECT * FROM (VALUES "
            "('hucbacon', 'Budapest', '1033', 'CBA Abc', 'Flórián tér 6-9.', "
            " 47.5355, 19.0449, 'Flórián tér', '6-9', NULL, '+36 1 470 2140', "
            " 'florian@cba.hu', '06:30', '19:00', '06:30', '19:00', NULL, NULL), "
            "('huprimacon', 'Budapest', '1024', 'Príma Mammut', 'Lövőház utca 2-6.', "
            " 47.5095, 19.0247, 'Lövőház utca', '2-6', NULL, NULL, "
            " NULL, '07:00', '21:00', NULL, NULL, '08:00', '18:00'), "
            "('hucbacon', 'Gyöngyös', '3200', 'CBA Kékes', 'Kossuth Lajos utca 1.', "
            " 47.7824, 19.9287, 'Kossuth Lajos utca', '1', NULL, '+36 37 311 111', "
            " 'kekes@cba.hu', NULL, NULL, NULL, NULL, NULL, NULL), "
            "('huprimacon', 'Budapest', '1126', 'Príma Hegyvidék', 'Apor Vilmos tér 11-12.', "
            " 47.4897, 19.0103, 'Apor Vilmos tér', '11-12', NULL, NULL, "
            " 'hegyvidek@prima.hu', '07:00', '20:00', NULL, NULL, NULL, NULL)"
            ") AS t(code, city, postcode, branch, original, lat, lon, street, "
            "housenumber, conscriptionnumber, phone, email, "
            "mo_open, mo_close, tu_open, tu_close, su_open, su_close)"
        ),
        "excel_source": (
            "SELECT * FROM (VALUES "
            "(2000, 'Szentendre'), (2030, 'Érd'), (6000, 'Kecskemét'), "
            "(9400, 'Sopron'), (1011, 'Budapest'), (1052, 'Budapest'), "
            "(3525, 'Miskolc')"
            ") AS t(city_post_code, city_name)"
        ),
        "relation_members": (
            "SELECT * FROM (VALUES "
            + ", ".join(
                f"({i}, '{exp}')" for i, _, exp in _RELATIONER_CASES
            )
            + ") AS t(case_id, members_json)"
        ),
        "tag_merge": (
            "SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{exp}')" for i, *_, exp in _TAG_MERGE_CASES)
            + ") AS t(case_id, merged)"
        ),
        "js_var_extract": (
            "SELECT * FROM (VALUES "
            + ", ".join(
                "('{}', {})".format(
                    v, "CAST(NULL AS STRING)" if p is None
                    else "'" + p.replace("'", "''") + "'"
                )
                for _, v, p in _JS_VAR_CASES
            )
            + ") AS t(varname, payload)"
        ),
        "complex_opening_hours": (
            "SELECT * FROM (VALUES "
            + ", ".join(
                f"('{oh}', {str(x).upper()})" for oh, x in _COMPLEX_OH_CASES
            )
            + ") AS t(oh, is_complex)"
        ),
        "geojson_source": (
            "SELECT * FROM ("
            "  SELECT CAST(f.geometry.coordinates[2] AS DOUBLE) AS lat,"
            "         CAST(f.geometry.coordinates[1] AS DOUBLE) AS lon,"
            "         f.properties.name AS name,"
            "         f.properties.addr_country AS addr_country"
            "  FROM (SELECT unnest(features) AS f FROM read_json_auto('"
            + os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tests", "fixtures", "sample.geojson",
            )
            + "'))) WHERE addr_country = 'HU' OR (addr_country IS NULL"
            "  AND lat BETWEEN 45.7 AND 48.6 AND lon BETWEEN 16.1 AND 22.9)"
        ),
        "hu_address_parse": _hu_address_parse_oracle_sql(),
        "pip_postcode": (
            f"{base}, polys AS ("
            "  SELECT CAST(n_nationkey AS INT) AS poly_id,"
            "         CAST(1000 + n_nationkey AS STRING) AS postcode,"
            "         45.699995 + CAST(FLOOR(n_nationkey / 5.0) AS INT) * 0.58 AS lat_min,"
            "         16.099995 + (n_nationkey % 5) * 1.36 AS lon_min"
            "  FROM nation) "
            "SELECT px.page_id, COALESCE(p.poly_id, -1) AS poly_id, p.postcode "
            "FROM pages_x px LEFT JOIN polys p"
            "  ON px.lat >= p.lat_min AND px.lat <= p.lat_min + 0.58"
            " AND px.lon >= p.lon_min AND px.lon <= p.lon_min + 1.36 "
            f"WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')}"
        ),
        # Ray-cast PIP twin: the SAME even-odd crossing arithmetic as
        # operators/pip._ray_cast ((ya>py)<>(yb>py) AND px < xa +
        # (py-ya)*(xb-xa)/(yb-ya)), over vertex doubles parsed from the
        # SAME integer-e6-built decimal strings as the Spark WKT —
        # bit-equal by construction. Winner = first containing polygon
        # in (name, poly_id) order; -1 when nothing contains.
        "pip_district": (
            f"{base}, {_district_ctes()} "
            "SELECT page_id, CAST(COALESCE("
            "  (list(poly_id ORDER BY name, poly_id) FILTER (WHERE inside))[1], -1) AS INT"
            ") AS poly_id FROM cand GROUP BY page_id"
        ),
        "pip_enclave": _enclave_oracle_sql(base),
        "enclave_geometry": _enclave_geometry_oracle_sql(),
        "page_quadkeys": _quadkey_oracle_sql(base, zoom=12, parent_zoom=6),
        # Shoelace twin: BIGINT cross products over the e6 vertex ints
        # shifted to the polygon-local origin (exact), centroid/area_km2
        # double folds in the same element order as F.aggregate.
        "district_geometry": (
            f"{base}, {_district_ctes()}, "
            "counts AS (SELECT poly_id, COUNT(*) AS n_pages FROM ("
            "  SELECT page_id, COALESCE((list(poly_id ORDER BY name, poly_id)"
            "    FILTER (WHERE inside))[1], -1) AS poly_id FROM cand GROUP BY page_id)"
            "  WHERE poly_id >= 0 GROUP BY poly_id), "
            "sh AS (SELECT poly_id, name,"
            "  list_transform(xs_e6, v -> CAST(v - list_min(xs_e6) AS BIGINT)) AS xs2,"
            "  list_transform(ys_e6, v -> CAST(v - list_min(ys_e6) AS BIGINT)) AS ys2,"
            "  CAST(list_min(xs_e6) AS DOUBLE) / 1e6 AS x0,"
            "  CAST(list_min(ys_e6) AS DOUBLE) / 1e6 AS y0"
            "  FROM dp), "
            "geo AS (SELECT poly_id, name, len(xs2) - 1 AS n_vertices,"
            "  list_sum(list_transform(range(1, len(xs2)),"
            "    i -> xs2[i]*ys2[i+1] - xs2[i+1]*ys2[i])) AS a2,"
            "  list_sum(list_transform(range(1, len(xs2)),"
            "    i -> CAST(xs2[i] + xs2[i+1] AS DOUBLE)"
            "       * CAST(xs2[i]*ys2[i+1] - xs2[i+1]*ys2[i] AS DOUBLE))) AS cxn,"
            "  list_sum(list_transform(range(1, len(xs2)),"
            "    i -> CAST(ys2[i] + ys2[i+1] AS DOUBLE)"
            "       * CAST(xs2[i]*ys2[i+1] - xs2[i+1]*ys2[i] AS DOUBLE))) AS cyn,"
            "  x0, y0 FROM sh), "
            "g2 AS (SELECT poly_id, name, n_vertices, abs(a2) AS area2_e12,"
            "  x0 + cxn / (3.0 * CAST(a2 AS DOUBLE)) / 1e6 AS clon,"
            "  y0 + cyn / (3.0 * CAST(a2 AS DOUBLE)) / 1e6 AS clat FROM geo) "
            "SELECT CAST(g2.poly_id AS BIGINT) AS poly_id, g2.name,"
            "  CAST(n_vertices AS INT) AS n_vertices,"
            "  CAST(area2_e12 AS BIGINT) AS area2_e12,"
            "  ROUND((CAST(area2_e12 AS DOUBLE) / 2e12) * 110.574"
            "        * (111.32 * cos(radians(clat))), 3) AS area_km2,"
            "  ROUND(clon, 6) AS centroid_lon, ROUND(clat, 6) AS centroid_lat,"
            "  CAST(COALESCE(c.n_pages, 0) AS BIGINT) AS n_pages,"
            "  ROUND(CAST(COALESCE(c.n_pages, 0) AS DOUBLE)"
            "    / ROUND((CAST(area2_e12 AS DOUBLE) / 2e12) * 110.574"
            "            * (111.32 * cos(radians(clat))), 3), 4) AS pages_per_km2 "
            "FROM g2 LEFT JOIN counts c ON g2.poly_id = c.poly_id"
        ),
        "way_lengths": (
            "WITH w AS (SELECT CAST(p_partkey AS BIGINT) AS w, "
            "p_partkey % 4 + 2 AS n_nodes FROM part WHERE p_partkey % 3 = 1) "
            "SELECT w AS way_id, CAST(n_nodes AS INT) AS n_nodes, "
            "ROUND(COALESCE(list_sum(list_transform(range(1, n_nodes), "
            f"i -> {_seg})), 0.0), 2) AS length_m FROM w"
        ),
        "brand_colocation": (
            f"{base} SELECT LEAST(p.name, o.name) AS brand_a, "
            "GREATEST(p.name, o.name) AS brand_b, "
            "COUNT(*) AS n_pairs, "
            f"ROUND(MIN({synth_sql.HAV}), 2) AS min_distance_m "
            "FROM pois p JOIN pois o ON p.osm_id < o.osm_id "
            f"AND {synth_sql.HAV} < 250.0 GROUP BY 1, 2"
        ),
        "nearest_competitor": (
            f"{base} SELECT osm_id, competitor_id, competitor_name, "
            "ROUND(d, 2) AS distance_m FROM ("
            "  SELECT p.osm_id, o.osm_id AS competitor_id, "
            f"  o.name AS competitor_name, {synth_sql.HAV} AS d "
            "  FROM pois p JOIN pois o ON p.osm_id <> o.osm_id "
            "  AND p.name IS DISTINCT FROM o.name "
            f"  AND {synth_sql.HAV} < 2000.0 "
            "  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.osm_id "
            "  ORDER BY d, o.osm_id) = 1)"
        ),
        "nearest_way": (
            f"{base}, w AS (SELECT CAST(p_partkey AS BIGINT) AS way_id, "
            "p_partkey % 4 + 2 AS n_nodes FROM part WHERE p_partkey % 3 = 1), "
            "pw AS (SELECT px.page_id, w.way_id, "
            f"list_min(list_transform(range(1, w.n_nodes), i -> {_wayseg})) AS d "
            "FROM pages_x px, w "
            f"WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')}) "
            "SELECT page_id, way_id, ROUND(d, 2) AS distance_m FROM pw "
            "WHERE d < 2000.0 "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY d, way_id) = 1"
        ),
        "way_simplify": _way_simplify_sql,
        "way_nodes": (
            f"{match_base}, "
            "ways AS (SELECT CAST(p_partkey AS BIGINT) AS way_id FROM part"
            "  WHERE p_partkey % 3 = 1), "
            "positions AS (SELECT r_regionkey AS pos FROM region) "
            "SELECT b.page_id, b.osm_id, p.pos, b.osm_id * 10 + p.pos AS node_id "
            "FROM best b JOIN ways w ON b.osm_id = w.way_id"
            " JOIN positions p ON p.pos <= b.osm_id % 4 + 1 "
            "WHERE b.node_type = 'way'"
        ),
        "int_sanitize": (
            "SELECT * FROM (VALUES"
            " (0, '725.0', 725), (1, '725', 725), (2, '7.25', 7),"
            " (3, 'abc', NULL), (4, '', NULL), (5, '   ', NULL),"
            " (6, NULL, NULL), (7, '725.', 725), (8, '.5', 0),"
            " (9, '1.2.3', NULL), (10, '-5', NULL), (11, '0042', 42),"
            " (12, '9 9', NULL), (13, '1e3', NULL), (14, '0', 0),"
            " (15, '00.00', 0)"
            ") AS t(case_id, raw, cleaned)"
        ),
        "osm_timestamps": (
            "SELECT event_id,"
            " strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS osm_timestamp,"
            " strftime(ts, '%Y-%m-%d') AS osm_date"
            " FROM events"
        ),
        "ordered_scan": (
            f"{base} "
            "SELECT page_id, city, street, housenumber,"
            " ROW_NUMBER() OVER (ORDER BY city ASC NULLS FIRST,"
            "   street ASC NULLS FIRST, housenumber ASC NULLS FIRST,"
            "   page_id) AS scan_rank "
            f"FROM pages_x WHERE {_GEO_FILTER}"
        ),
        "pip_city": (
            f"{base}, polys AS ("
            "  SELECT CONCAT('City', lpad(CAST(n_nationkey AS VARCHAR), 2, '0')) AS name,"
            "         45.699995 + CAST(FLOOR(n_nationkey / 5.0) AS INT) * 0.58 AS x_min,"
            "         16.099995 + (n_nationkey % 5) * 1.36 AS y_min,"
            "         0.70 AS dx, 1.36 AS dy"
            "  FROM nation"
            "  UNION ALL"
            "  SELECT CONCAT('Normal', CAST(r_regionkey AS VARCHAR)) AS name,"
            "         16.099995 + r_regionkey * 1.36 AS x_min,"
            "         45.699995 + r_regionkey * 0.58 AS y_min,"
            "         1.36 AS dx, 0.58 AS dy"
            "  FROM region) "
            # swapped probe (libs/osm.py:97): latitude tested on the x axis
            "SELECT px.page_id, min(p.name) AS city_name "
            "FROM pages_x px LEFT JOIN polys p"
            "  ON px.lat >= p.x_min AND px.lat <= p.x_min + p.dx"
            " AND px.lon >= p.y_min AND px.lon <= p.y_min + p.dy "
            f"WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')} "
            "GROUP BY px.page_id"
        ),
        "fuzzy_city": (
            f"{base}, "
            "dim AS (SELECT DISTINCT CAST(s_suppkey % 50 AS INT) AS city_id,"
            "        CONCAT('City', CAST(s_suppkey % 50 AS STRING)) AS city_name,"
            "        CAST(1000 + s_suppkey % 50 AS STRING) AS city_post_code FROM supplier), "
            "inp AS (SELECT page_id,"
            "  CASE WHEN page_id % 7 = 0 THEN replace(city, 'City', 'Cty')"
            # || not CONCAT: DuckDB's CONCAT skips NULLs (NULL||'x' -> 'x')
            # while Spark's concat propagates them — pages without a city
            # (the k%17/k%19 address classes) must stay NULL on both sides
            "       WHEN page_id % 11 = 0 THEN (city || 'x') ELSE city END AS city,"
            "  CAST(1000 + (page_id + CASE WHEN page_id % 13 = 0 THEN 1 ELSE 0 END) % 50 AS STRING) AS postcode"
            f"  FROM pages_x WHERE {_GEO_FILTER}), "
            "j AS (SELECT i.page_id, d.city_id, d.city_name, d.city_post_code,"
            "  levenshtein(lower(i.city), lower(d.city_name)) AS lev,"
            "  CASE WHEN lower(i.city) = lower(d.city_name) AND i.postcode = d.city_post_code THEN 1"
            "       WHEN levenshtein(lower(i.city), lower(d.city_name)) <= 2 AND i.postcode = d.city_post_code THEN 2"
            "       WHEN levenshtein(lower(i.city), lower(d.city_name)) <= 2 THEN 3"
            "       WHEN i.postcode = d.city_post_code THEN 4 END AS tier"
            "  FROM inp i CROSS JOIN dim d) "
            "SELECT page_id, city_id, city_name, city_post_code, tier, lev FROM j "
            "WHERE tier IS NOT NULL "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY tier, lev, city_id) = 1"
        ),
        "agg_pricing_summary": (
            "SELECT l_returnflag, l_linestatus,"
            " CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,"
            " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,"
            " COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "top_orders_window": (
            "SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total, rnk FROM ("
            " SELECT o_custkey, o_orderkey, o_totalprice,"
            "  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk"
            " FROM orders) WHERE rnk <= 3"
        ),
        "anti_customers_no_orders": (
            "SELECT c_custkey FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')"
        ),
        "union_event_arms": (
            "SELECT event_id, 'click_arm' AS arm, ROUND(value, 2) AS value_r"
            " FROM events WHERE event_type = 'click' "
            "UNION ALL "
            "SELECT event_id, 'error_arm' AS arm, ROUND(value, 2) AS value_r"
            " FROM events WHERE event_type = 'error'"
        ),
        "export_slices": (
            "SELECT slice, COUNT(*) AS n_rows, MIN(o_orderkey) AS first_key,"
            " MAX(o_orderkey) AS last_key FROM ("
            " SELECT o_orderkey,"
            "  CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) / 200.0) AS BIGINT) AS slice"
            " FROM orders) GROUP BY slice"
        ),
        "distinct_brands": (
            f"{base} SELECT DISTINCT name FROM pages_x WHERE {_GEO_FILTER}"
        ),
        "dedup_first_per_city": (
            f"{base} SELECT city, MIN(page_id) AS first_page, COUNT(*) AS n"
            f" FROM pages_x WHERE {_GEO_FILTER} GROUP BY city"
        ),
        "cell_histogram_salted": (
            # the oracle is the UNSALTED aggregate — salting must not
            # change results, only the shuffle shape
            f"{base} SELECT {_CELL} AS cell_id, COUNT(*) AS n_pages "
            f"FROM pages_x WHERE {_GEO_FILTER} GROUP BY 1"
        ),
        "tile_top_brands": (
            f"{match_base} "
            "SELECT tile, poi_code, n, rank FROM ("
            "  SELECT tile, poi_code, n, ROW_NUMBER() OVER ("
            "    PARTITION BY tile ORDER BY n DESC, poi_code) AS rank"
            "  FROM (SELECT ((cell // 262144) // 64) * 262144"
            "               + ((cell % 262144) // 64) AS tile,"
            "               b.poi_code, COUNT(*) AS n"
            f"        FROM (SELECT px.page_id, {_CELL} AS cell FROM pages_x px"
            f"              WHERE {_GEO_FILTER}) p"
            "        JOIN best b ON p.page_id = b.page_id"
            "        WHERE b.osm_id IS NOT NULL GROUP BY 1, 2))"
            " WHERE rank <= 3"
        ),
        "tile_pyramid": (
            # direct per-level grouping — must equal the Spark cascade
            # (sum is associative; floor(floor(v/2)/2) == floor(v/4))
            f"{base}, b AS (SELECT {_CELL} AS cell, COUNT(*) AS n"
            f" FROM pages_x WHERE {_GEO_FILTER} GROUP BY 1)"
            " SELECT lvl AS level,"
            " ((cell // 262144) // (1 << lvl)) * 262144"
            " + ((cell % 262144) // (1 << lvl)) AS cell_id,"
            " SUM(n)::BIGINT AS n_pages"
            " FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS lvl)"
            " GROUP BY 1, 2"
        ),
        "events_windowed": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,"
            " event_type, COUNT(*) AS n_events,"
            " CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        "events_sessionize": _sessions_oracle_sql(),
        # DuckDB's native ASOF JOIN (inclusive >=) oracles the union+window
        # implementation; clicks are unique per (user_id, ts) in the
        # synthetic data so the match is deterministic.
        "events_asof": (
            "WITH v AS (SELECT user_id, event_id, ts, value FROM events"
            " WHERE event_type = 'view'),"
            " c AS (SELECT user_id, event_id AS click_id, ts AS click_ts,"
            " value AS click_value FROM events WHERE event_type = 'click') "
            "SELECT v.user_id, v.ts, v.event_id, v.value,"
            " c.click_id, c.click_ts, c.click_value "
            "FROM v ASOF LEFT JOIN c"
            " ON v.user_id = c.user_id AND v.ts >= c.click_ts"
        ),
        "events_range_join": (
            "WITH e AS (SELECT user_id, event_id AS error_id, ts FROM events"
            " WHERE event_type = 'error'),"
            " c AS (SELECT user_id, event_id AS click_id, ts AS w_start,"
            " ts + INTERVAL 30 MINUTE AS w_end FROM events"
            " WHERE event_type = 'click') "
            "SELECT e.user_id, c.click_id, e.error_id, e.ts, c.w_start "
            "FROM e JOIN c ON e.user_id = c.user_id"
            " AND c.w_start <= e.ts AND e.ts < c.w_end"
        ),
        "raster_coverage": (
            f"{base}, polys AS ("
            "  SELECT CAST(n_nationkey AS INT) AS poly_id,"
            "         45.699995 + CAST(FLOOR(n_nationkey / 5.0) AS INT) * 0.58 AS lat_min,"
            "         16.099995 + (n_nationkey % 5) * 1.36 AS lon_min"
            "  FROM nation), "
            "rows_y AS ("
            "  SELECT poly_id, lon_min,"
            "         unnest(range(CAST(ceil((lat_min + 90.0) * 32.0 - 0.5) AS BIGINT),"
            "                      CAST(floor(((lat_min + 0.58) + 90.0) * 32.0 - 0.5) AS BIGINT) + 1)) AS cy"
            "  FROM polys), "
            "mask AS ("
            "  SELECT poly_id, cy * 262144 +"
            "         unnest(range(CAST(ceil((lon_min + 180.0) * 32.0 - 0.5) AS BIGINT),"
            "                      CAST(floor(((lon_min + 1.36) + 180.0) * 32.0 - 0.5) AS BIGINT) + 1)) AS cell_id"
            "  FROM rows_y), "
            "pts AS ("
            "  SELECT page_id,"
            "         CAST(FLOOR((lat + 90.0) * 32.0) AS BIGINT) * 262144"
            "         + CAST(FLOOR((lon + 180.0) * 32.0) AS BIGINT) AS cell_id"
            f"  FROM pages_x WHERE {_GEO_FILTER}) "
            "SELECT p.page_id, p.cell_id, m.poly_id IS NOT NULL AS covered, m.poly_id "
            "FROM pts p LEFT JOIN mask m ON p.cell_id = m.cell_id"
        ),
        # asset_features: the decode stub is md5(payload)-seeded and
        # payload = UTF-8 of '<html><body><p>' || text || '</p></body></html>'
        # (synth.pages_df), so DuckDB's md5() reproduces the full feature
        # vector; kind/width/height re-derive synth_assets' arithmetic.
        "osm_xml_name_flags": (
            f"{match_base}, {brand_ctes}, "
            "flags AS ("
            "  SELECT poi_code AS common_code, preserve_original_name,"
            "    export_poi_name, do_not_export_addr_tags, poi_type"
            f"  FROM read_json('{_REPO_DIR}/osm_poi_matchmaker_spark/"
            "resources/poi_common.jsonl', format='newline_delimited',"
            "    columns={'poi_code':'VARCHAR','seq':'INTEGER',"
            "'preserve_original_name':'BOOLEAN','export_poi_name':'BOOLEAN',"
            "'do_not_export_addr_tags':'BOOLEAN','poi_type':'VARCHAR'})"
            "  QUALIFY row_number() OVER (PARTITION BY poi_code ORDER BY seq) = 1"
            ") "
            "SELECT page_id, poi_code, "
            "CASE WHEN export_name AND resolved != 'None' THEN resolved END"
            "  AS xml_name, "
            "CASE WHEN NOT drop_addr THEN o_city END AS addr_city, "
            "CASE WHEN NOT drop_addr THEN o_street END AS addr_street "
            "FROM ("
            "  SELECT px.page_id, b.poi_code,"
            "    COALESCE(f.export_poi_name, true) AS export_name,"
            "    COALESCE(f.do_not_export_addr_tags, false) AS drop_addr,"
            "    o.addr_city AS o_city, o.addr_street AS o_street,"
            "    CASE WHEN COALESCE(f.poi_type = 'bus_stop', false)"
            "      THEN COALESCE(nullif(o.name, ''),"
            "        CASE WHEN COALESCE(f.preserve_original_name, false)"
            "          AND o.name IS NOT NULL THEN o.name END, px.name)"
            "      ELSE COALESCE("
            "        CASE WHEN COALESCE(f.preserve_original_name, false)"
            "          AND o.name IS NOT NULL THEN o.name END, px.name)"
            "    END AS resolved"
            "  FROM pages_x px JOIN best b ON px.page_id = b.page_id"
            "  JOIN pois o ON b.osm_id = o.osm_id"
            "  LEFT JOIN bridge br ON b.poi_code = br.poi_code"
            "  LEFT JOIN flags f ON br.common_code = f.common_code"
            f"  WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')})"
        ),
        "asset_decode_real": (
            f"{base}, ks AS (SELECT unnest(range(16)) AS k), "
            "dxs AS (SELECT unnest(range(4)) AS dx), "
            "dys AS (SELECT unnest(range(4)) AS dy), "
            "frs AS (SELECT unnest(range(4)) AS f), "
            "js AS (SELECT unnest(range(128)) AS j) "
            "SELECT asset_id, kind, k, feat FROM ("
            # even image ids: PNG pixel-formula means; odd image ids: the
            # JPEG leg — constant 8x8 blocks whose baseline round trip is
            # bit-exact, so the 4x4-block mean IS the block constant
            "  SELECT p.page_id AS asset_id, 'image' AS kind, ks.k,"
            "    CASE WHEN MIN(p.page_id % 2) = 0 THEN"
            "      SUM((p.page_id*31 + (4*(ks.k%4)+dxs.dx)*7"
            "           + (4*(ks.k//4)+dys.dy)*13) % 256) / 16.0"
            "    ELSE MIN(CAST((p.page_id*31 + ((ks.k%4)//2)*7"
            "           + ((ks.k//4)//2)*13) % 256 AS DOUBLE))"
            "    END AS feat"
            "  FROM pages p, ks, dxs, dys WHERE p.page_id % 3 = 0"
            "  GROUP BY 1, 2, 3"
            "  UNION ALL"
            "  SELECT p.page_id, 'audio', ks.k,"
            "    SUM(POWER(((p.page_id*13 + (ks.k*128 + js.j)*17) % 256)"
            "        - 128, 2)) / 128.0"
            "  FROM pages p, ks, js WHERE p.page_id % 3 = 1"
            "  GROUP BY 1, 2, 3"
            "  UNION ALL"
            "  SELECT p.page_id, 'video', ks.k,"
            "    SUM((p.page_id*31 + frs.f*5 + (4*(ks.k%4)+dxs.dx)*7"
            "         + (4*(ks.k//4)+dys.dy)*13) % 256) / 64.0"
            "  FROM pages p, ks, frs, dxs, dys WHERE p.page_id % 3 = 2"
            "  GROUP BY 1, 2, 3"
            ")"
        ),
        # Integer twin of the color-JPEG pipeline: fixture RGB →
        # fixed-point YCbCr (forward) → fixed-point inverse, all
        # non-negative-numerator floor divisions (multimodal.py
        # ycc_forward/ycc_inverse constants verbatim). Chroma subsample
        # of a constant 2×2 block is the identity ((4v+2)//4 = v), so
        # it does not appear.
        "asset_decode_color": (
            f"{base}, ms AS (SELECT unnest(range(4)) AS mcu), "
            "chs AS (SELECT unnest(range(3)) AS channel), "
            "v0 AS (SELECT p.page_id AS asset_id, ms.mcu, chs.channel, "
            "  (p.page_id*31 + (ms.mcu//2)*13 + (ms.mcu%2)*7) AS rb "
            "  FROM pages p, ms, chs), "
            "v1 AS (SELECT asset_id, mcu, channel, "
            "  rb % 256 AS r0, (rb+57) % 256 AS g0, (rb+114) % 256 AS b0 FROM v0), "
            "v2 AS (SELECT asset_id, mcu, channel, "
            "  (19595*r0 + 38470*g0 + 7471*b0 + 32768) // 65536 AS y, "
            "  (8454144 - 11059*r0 - 21709*g0 + 32768*b0) // 65536 AS cb, "
            "  (8454144 + 32768*r0 - 27439*g0 - 5329*b0) // 65536 AS cr FROM v1) "
            "SELECT asset_id, CAST(channel AS INT) AS channel, CAST(mcu AS INT) AS mcu, "
            "CAST(LEAST(GREATEST(CASE channel "
            "  WHEN 0 THEN (65536*y + 91881*cr + 21826432) // 65536 - 512 "
            "  WHEN 1 THEN (65536*y - 22554*cb - 46802*cr + 42464768) // 65536 - 512 "
            "  ELSE (65536*y + 116130*cb + 18722560) // 65536 - 512 END, "
            "0), 255) AS INT) AS val "
            "FROM v2"
        ),
        # Same closed-form integer pipeline × the three sampling
        # layouts: decoded constants are layout-invariant (constant
        # patches survive any box-mean subsample exactly), so the
        # oracle is the 4:2:0 math cross-joined with the layout list —
        # while the Spark side decodes three genuinely different
        # entropy streams per asset.
        "asset_decode_layouts": (
            f"{base}, ms AS (SELECT unnest(range(4)) AS mcu), "
            "chs AS (SELECT unnest(range(3)) AS channel), "
            "ls AS (SELECT unnest(['420', '422', '444']) AS layout), "
            "v0 AS (SELECT p.page_id AS asset_id, ls.layout, ms.mcu, chs.channel, "
            "  (p.page_id*31 + (ms.mcu//2)*13 + (ms.mcu%2)*7) AS rb "
            "  FROM pages p, ls, ms, chs), "
            "v1 AS (SELECT asset_id, layout, mcu, channel, "
            "  rb % 256 AS r0, (rb+57) % 256 AS g0, (rb+114) % 256 AS b0 FROM v0), "
            "v2 AS (SELECT asset_id, layout, mcu, channel, "
            "  (19595*r0 + 38470*g0 + 7471*b0 + 32768) // 65536 AS y, "
            "  (8454144 - 11059*r0 - 21709*g0 + 32768*b0) // 65536 AS cb, "
            "  (8454144 + 32768*r0 - 27439*g0 - 5329*b0) // 65536 AS cr FROM v1) "
            "SELECT asset_id, layout, CAST(channel AS INT) AS channel, "
            "CAST(mcu AS INT) AS mcu, "
            "CAST(LEAST(GREATEST(CASE channel "
            "  WHEN 0 THEN (65536*y + 91881*cr + 21826432) // 65536 - 512 "
            "  WHEN 1 THEN (65536*y - 22554*cb - 46802*cr + 42464768) // 65536 - 512 "
            "  ELSE (65536*y + 116130*cb + 18722560) // 65536 - 512 END, "
            "0), 255) AS INT) AS val "
            "FROM v2"
        ),
        "asset_features": (
            f"{base} SELECT page_id AS asset_id, "
            "CASE page_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, "
            "CAST(64 + page_id % 512 AS INT) AS width, "
            "CAST(64 + (page_id * 7) % 512 AS INT) AS height, "
            "md5(CONCAT('<html><body><p>', text, '</p></body></html>')) AS feat_hex "
            "FROM pages"
        ),
        "fuzzy_street": _fuzzy_street_oracle_sql(),
        "poi_fuzzy_dedup": _poi_fuzzy_dedup_oracle_sql(),
        "building_relocation": _building_relocation_oracle_sql(),
        "qc_in_water": (
            f"{base}, water AS (SELECT * FROM (VALUES"
            " (0, 47.492995, 47.503005, 19.024995, 19.045005),"
            " (1, 46.199995, 46.400005, 17.499995, 17.900005),"
            " (2, 47.799995, 48.000005, 20.499995, 20.800005)"
            ") AS t(poly_id, lat_min, lat_max, lon_min, lon_max)) "
            "SELECT px.page_id, COUNT(w.poly_id) > 0 AS in_water "
            "FROM pages_x px LEFT JOIN water w"
            "  ON px.lat >= w.lat_min AND px.lat <= w.lat_max"
            " AND px.lon >= w.lon_min AND px.lon <= w.lon_max "
            f"WHERE {_GEO_FILTER.replace('lat', 'px.lat').replace('lon', 'px.lon')} "
            "GROUP BY px.page_id"
        ),
        "poi_hash": (
            f"{base} SELECT page_id, sha256(replace(lower("
            "CONCAT(COALESCE(name, ''), COALESCE(city, ''), COALESCE(street, ''),"
            " COALESCE(housenumber, ''), COALESCE(csn, ''))), ' ', '')) AS poi_hash "
            f"FROM pages_x WHERE {_GEO_FILTER}"
        ),
    }


def _compact_cells_oracle_sql(levels: int = 3) -> str:
    """Unrolled per-level twin of tiling.compact_cells: at each level,
    parents with all 4 children present promote; unpromoted cells emit
    at their level; survivors of the last round emit at ``levels``."""
    base = synth_sql.base_ctes()
    parts = [
        f"{base}, c0 AS (SELECT DISTINCT {_CELL} AS cell_id FROM pages_x "
        f"WHERE {_GEO_FILTER})"
    ]

    def parent(col: str) -> str:
        return (
            f"(({col} // 262144) // 2) * 262144 + (({col} % 262144) // 2)"
        )

    for lvl in range(levels):
        parts.append(
            f", p{lvl} AS (SELECT {parent('cell_id')} AS p, COUNT(*) AS n "
            f"FROM c{lvl} GROUP BY 1)"
        )
        parts.append(
            f", k{lvl} AS (SELECT c{lvl}.cell_id FROM c{lvl} "
            f"LEFT JOIN (SELECT p FROM p{lvl} WHERE n = 4) pr{lvl} "
            f"ON pr{lvl}.p = {parent(f'c{lvl}.cell_id')} "
            f"WHERE pr{lvl}.p IS NULL)"
        )
        parts.append(
            f", c{lvl + 1} AS (SELECT p AS cell_id FROM p{lvl} WHERE n = 4)"
        )
    selects = [
        f"SELECT {lvl} AS level, cell_id FROM k{lvl}" for lvl in range(levels)
    ] + [f"SELECT {levels} AS level, cell_id FROM c{levels}"]
    return "".join(parts) + " " + " UNION ALL ".join(selects)


def _building_relocation_oracle_sql() -> str:
    from osm_poi_matchmaker_spark.synth_sql import (
        _lat_e5 as lat_e5_sql,
        _lon_e5 as lon_e5_sql,
    )

    match_base = synth_sql.base_ctes() + "," + synth_sql.match_arms_sql()
    hav = (
        synth_sql.HAV.replace("p.lat", "n.lat")
        .replace("p.lon", "n.lon")
        .replace("o.lat", "bd.lat")
        .replace("o.lon", "bd.lon")
    )
    ibp = "abs(1.0 - ((FLOOR(ascii(substr(n.name, 1, 1)) / 16.0) + 1) / 17.0))"
    return f"""{match_base},
newp AS (SELECT px.* FROM pages_x px LEFT JOIN best b ON px.page_id = b.page_id
         WHERE b.page_id IS NULL AND px.lat IS NOT NULL AND px.lon IS NOT NULL),
bld AS (SELECT CAST(a AS BIGINT) AS building_id,
               CONCAT('Street ', CAST(a % 30 AS STRING)) AS b_street,
               CAST(a % 40 + 1 AS STRING) AS b_housenumber,
               CAST({lat_e5_sql('a')} - 15 AS DOUBLE) / 100000.0 AS lat,
               CAST({lon_e5_sql('a')} + 15 AS DOUBLE) / 100000.0 AS lon
        FROM (SELECT p_partkey AS a FROM part)),
j AS (SELECT n.page_id, bd.building_id, n.name, n.lat AS p_lat, n.lon AS p_lon,
             bd.lat AS b_lat, bd.lon AS b_lon, {hav} AS distance
      FROM newp n JOIN bld bd
        ON lower(n.street) = lower(bd.b_street)
       AND lower(n.housenumber) = lower(bd.b_housenumber)
       AND {hav} < 60.0)
SELECT page_id, building_id,
       ROUND(b_lat + (p_lat - b_lat) * {ibp.replace('n.name', 'name')}, 9) AS new_lat,
       ROUND(b_lon + (p_lon - b_lon) * {ibp.replace('n.name', 'name')}, 9) AS new_lon,
       ROUND(distance, 2) AS distance_m
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY distance, building_id) AS rn
      FROM j) WHERE rn = 1"""


def _poi_fuzzy_dedup_oracle_sql() -> str:
    from osm_poi_matchmaker_spark.functions.textsim import trigram_similarity_sql

    base = synth_sql.base_ctes()
    sim = trigram_similarity_sql("a.name", "b.name")
    lev = "levenshtein(lower(a.street), lower(b.street))"
    # coarse cell (mult 256) coordinates — mirror of tiling.coarse_cell_id
    def cy(t):
        return f"CAST(FLOOR(({t}.lat + 90.0) * 256.0) AS BIGINT)"

    def cx(t):
        return f"CAST(FLOOR(({t}.lon + 180.0) * 256.0) AS BIGINT)"

    return f"""{base},
recs AS (
  SELECT page_id, name, street, housenumber, lat, lon FROM pages_x
  WHERE lat IS NOT NULL AND lon IS NOT NULL
  UNION ALL
  SELECT page_id + 10000000, name, street, housenumber, lat + 0.00008, lon FROM pages_x
  WHERE lat IS NOT NULL AND lon IS NOT NULL)
SELECT a.page_id AS poi_a, b.page_id AS poi_b,
       ROUND({sim}, 6) AS name_sim, {lev} AS street_lev
FROM recs a JOIN recs b
  ON abs({cy('a')} - {cy('b')}) <= 1 AND abs({cx('a')} - {cx('b')}) <= 1
WHERE a.page_id < b.page_id
  AND a.housenumber = b.housenumber
  AND {sim} >= 0.49 AND {lev} <= 3"""


def _sessions_oracle_sql() -> str:
    from osm_poi_matchmaker_spark.streaming.sessions import sessionize_batch_oracle_sql

    return sessionize_batch_oracle_sql(gap_minutes=30)


def _fuzzy_street_oracle_sql() -> str:
    from osm_poi_matchmaker_spark.functions.textsim import trigram_similarity_sql
    from osm_poi_matchmaker_spark.synth_sql import (
        _lat_e5 as lat_e5_sql,
        _lon_e5 as lon_e5_sql,
    )

    base = synth_sql.base_ctes()
    hav = synth_sql.HAV.replace("p.lat", "px.lat").replace("p.lon", "px.lon")
    hav = hav.replace("o.lat", "r.lat").replace("o.lon", "r.lon")
    sim = trigram_similarity_sql("px.street", "r.road_name")
    lev = "levenshtein(lower(px.street), lower(r.road_name))"
    roads = (
        "roads AS (SELECT CAST(a AS BIGINT) AS road_id,"
        " CASE WHEN a % 19 = 0 THEN CONCAT('Boulevard ', CAST(a % 30 AS STRING))"
        "      WHEN a % 17 = 0 THEN CONCAT('Stret ', CAST(a % 30 AS STRING))"
        "      ELSE CONCAT('Street ', CAST(a % 30 AS STRING)) END AS road_name,"
        f" CAST({lat_e5_sql('a')} + 25 AS DOUBLE) / 100000.0 AS lat,"
        f" CAST({lon_e5_sql('a')} AS DOUBLE) / 100000.0 AS lon"
        " FROM (SELECT p_partkey AS a FROM part))"
    )
    return (
        f"{base}, {roads}, "
        "sc AS (SELECT px.page_id, r.road_id, r.road_name,"
        f" ROUND({sim}, 6) AS similarity, {lev} AS lev, {hav} AS distance"
        f" FROM pages_x px JOIN roads r ON {hav} < 600.0"
        f" WHERE px.lat IS NOT NULL AND px.lon IS NOT NULL"
        f"  AND (lower(px.street) = lower(r.road_name) OR {sim} >= 0.49 OR {lev} < 5)) "
        "SELECT page_id, road_id, road_name, similarity, lev,"
        " ROUND(distance, 2) AS distance_m, rnk FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY page_id"
        "  ORDER BY similarity DESC, distance, road_id) AS rnk FROM sc)"
        " WHERE rnk <= 5"
    )


def _hu_address_oracle_sql() -> str:
    def lit(v):
        return "CAST(NULL AS STRING)" if v is None else "'" + v.replace("'", "''") + "'"

    rows = ", ".join(
        f"({lit(o)}, {lit(s)}, {lit(h)}, {lit(c)})" for o, s, h, c in _HU_ADDRESS_GOLDENS
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS t(original, street, housenumber, conscriptionnumber)"
    )
