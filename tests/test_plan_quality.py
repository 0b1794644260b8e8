"""Physical-plan hygiene: these tests fail if a code change silently
regresses scan pushdown, column pruning, or the broadcast of the brand
dimension — the properties that make the plans survive a 100× scale-up."""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_geotag_pushdown_and_pruning(spark):
    plan = plan_of(entry_mod._q_geotag_extract(spark, SF))
    # lang filter reaches the parquet scan
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # html (binary) and warc_ts are never read for the geotag projection
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "html" not in read_schema
    assert "warc_ts" not in read_schema


def test_match_broadcasts_brand_dim(spark):
    plan = plan_of(entry_mod._q_match_cascade(spark, SF), mode="simple")
    assert "BroadcastHashJoin" in plan
    # the cascade must not degenerate into an unconstrained cross join
    assert "CartesianProduct" not in plan


def test_match_one_poi_scan_one_broadcast(spark):
    """The cascade is key rows and one join: the executed broadcast plan
    reads the POI table once, broadcasts one candidate side, and looks
    the brand dimension up as a literal map instead of joining it."""
    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.match import match_cascade

    df = match_cascade(
        geotag_pages(synth.pages(spark, SF)),
        synth.osm_pois(spark, SF),
        synth.poi_common_df(spark),
        brand_rows=synth.BRAND_ROWS,
    )
    assert df.collect()
    final = plan_of(df, mode="simple").split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert sum("FileScan parquet" in l and "osm_pois" in l for l in lines) == 1, final
    assert sum("BroadcastExchange" in l for l in lines) == 1, final
    # the dimension is a VALUES relation: joining it would scan a LocalTableScan
    assert "LocalTableScan" not in final and "poi_name" not in final, final


def test_knn_no_cartesian(spark):
    plan = plan_of(entry_mod._q_knn_nearest(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    # candidate side is broadcast — the point side crosses the join
    # unshuffled, one probe row per point
    assert "BroadcastHashJoin" in plan
    # broadcast path → the 3x3 ring replication (Generate/explode) sits on
    # the probe side (pipelined in-task, keeps the hash relation 9x
    # smaller — see operators/match.py stage-5 A/B): every explode in the
    # plan produces probe_cell
    gen_lines = [l for l in plan.splitlines() if "Generate" in l]
    assert gen_lines, "expected the ring explode in the plan"
    assert all("probe_cell" in l for l in gen_lines), gen_lines


def test_pricing_agg_partial_aggregation(spark):
    plan = plan_of(entry_mod._q_agg_pricing_summary(spark, SF), mode="simple")
    # map-side partial aggregation before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_ivf_probe_is_one_kernel_pass(spark):
    # the queries are routed on the driver and travel with the centroids
    # in the kernel's closure, so list assignment, scoring and the
    # per-partition pre-rank are one MapInArrow over the corpus scan:
    # no probe join, no SQL cosine fold, and the only shuffle is the
    # per-query top-k window
    plan = plan_of(entry_mod._q_ann_topk_ivf(spark, SF), mode="simple")
    assert plan.count("MapInArrow") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "zip_with" not in plan, plan
    assert plan.count("Exchange hashpartitioning(query_id") == 1, plan
    assert "CartesianProduct" not in plan


def test_embedding_dup_bucket_join_not_cross(spark):
    # SRP-bucket equi-join: candidate generation must be a hash join on sig,
    # not an all-pairs product
    plan = plan_of(entry_mod._q_dedup_embedding_cosine(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "Join" in plan and "sig" in plan


def test_sessionize_single_shuffle(spark):
    # one exchange on user_id feeds the session-window aggregate
    plan = plan_of(entry_mod._q_events_sessionize(spark, SF), mode="simple")
    assert plan.count("Exchange") <= 2  # key shuffle (+AQE read), no extra
    assert "CartesianProduct" not in plan


def test_pip_city_no_point_shuffle(spark):
    # J4/J5 PIP: polygon fragments aggregate into a per-cell candidate map
    # (the only shuffle, on the POLYGON side) which is broadcast; the point
    # side joins it 1:1 and resolves in-row — pages never cross an
    # exchange, and no polygon ever touches the driver (no collect()).
    plan = plan_of(entry_mod._q_pip_city(spark, SF), mode="simple")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            # polygon-fragment agg keyed on the fragment cell only
            assert "_fcell" in line, line
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan
    # the in-row resolver is the only Python in the plan: the point side
    # is scan → project → broadcast join → ArrowEval, nothing else
    assert "MapInPandas" not in plan


def test_way_nodes_explode_after_join(spark):
    # S6: the node array explodes AFTER the way join (one row per matched
    # way crosses the join, not nodes-per-way rows) and never degenerates
    # into a cross product
    plan = plan_of(entry_mod._q_way_nodes(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    gen = [l for l in plan.splitlines() if "Generate posexplode" in l]
    assert gen, "expected posexplode in the plan"


def test_int_sanitize_pure_codegen(spark):
    # F21 must stay a column expression: no Python evaluation in the plan
    plan = plan_of(entry_mod._q_int_sanitize(spark, SF), mode="simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark shingle set broadcasts; the corpus probes it map-side
    # (no shuffle to find hits) and the hit flags attach by broadcast too —
    # at 10^12 corpus rows the only exchange is the groupBy of the matched
    # subset
    plan = plan_of(entry_mod._q_decontaminate(spark, SF), mode="simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bm25_broadcast_semi_filter(spark):
    # the query-term restriction is a broadcast hash join applied BEFORE
    # the tf aggregation: non-query postings die map-side, the corpus
    # never shuffles its full postings list
    plan = plan_of(entry_mod._q_bm25_topk(spark, SF), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # everything stays codegen'd column exprs — no Python anywhere
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_bigram_lm_pure_codegen(spark):
    # LM training + scoring is explode + counts + joins + ordered fold:
    # all JVM-side, no Python, no cartesian beyond the 1-row vocab
    # broadcast (BroadcastNestedLoopJoin over a single-row dim is fine)
    plan = plan_of(entry_mod._q_bigram_lm_score(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_lsh_arrival_no_pair_join(spark):
    # bucket-claim dedup never materializes candidate PAIRS: no self-join
    # of the band table on (band, band_sig) producing doc_a/doc_b — the
    # owner attaches by an equi-join after a partial-agg min
    plan = plan_of(entry_mod._q_lsh_arrival_dedup(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "doc_a" not in plan and "doc_b" not in plan
    assert "partial_min" in plan or "min(" in plan


def test_substring_spans_single_window_shuffle(spark):
    """The ExactSubstr plan must be: one partial-agg shuffle on the
    window key, the duplicated-window set joined back without a
    cartesian, and the per-doc pass a Window (never a pair join)."""
    plan = plan_of(entry_mod._q_dedup_substring(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial agg
    assert "Window" in plan


def test_tile_pyramid_scans_points_once(spark):
    """All four levels must derive from ONE base aggregation of the point
    table — no per-level union arms each re-scanning the source. The
    plan is: scan -> partial+final agg (level 0) -> explode 4 level ids
    -> partial+final agg. Exactly one Generate, no Union."""
    df = entry_mod._q_tile_pyramid(spark, SF)
    plan = plan_of(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "Union" not in plan
    assert plan.count("Generate") == 1
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs


def test_idw_broadcast_sources_no_cartesian(spark):
    """IDW must broadcast the (small) source table into the probe-side
    ring join and partial-aggregate the estimate — pages shuffle at most
    one row each."""
    plan = plan_of(entry_mod._q_idw_field(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial agg


def test_sq8_reconstruction_stays_codegen(spark):
    """SQ8 scoring must be array expressions under whole-stage codegen —
    no Python evaluation in the scan — with the stats row and the query
    shard broadcast."""
    plan = plan_of(entry_mod._q_ann_topk_sq8(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_kde_explodes_histogram_not_points(spark):
    """The KDE kernel spread must generate from the aggregated cell
    histogram (one Generate AFTER the first aggregate), never a per-point
    25x explode."""
    df = entry_mod._q_cell_kde(spark, SF)
    plan = plan_of(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") == 1
    # aggregate(points) precedes the Generate in the plan tree: the
    # Generate's child subtree must contain a HashAggregate
    gen_pos = plan.index("Generate")
    assert "HashAggregate" in plan[gen_pos:]


def test_dbscan_pairs_equi_join_probe_side_explode(spark):
    """The ε self-join must be a cell-keyed equi-join with the ring
    explode on the probe side only (exactly one Generate), and the
    contracted component stage must never materialize same-cell pairs
    (filter on fine-cell inequality present before aggregation)."""
    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.operators.spatial_cluster import (
        distance_band_pairs,
    )

    # a prior test's persisted twin of this exact plan would substitute
    # an InMemoryTableScan whose string embeds a second Generate
    spark.catalog.clearCache()
    pois = synth.osm_pois(spark, SF)
    plan = plan_of(distance_band_pairs(pois, 400.0), mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") == 1
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_nearest_way_broadcast_candidates_no_cartesian(spark):
    """The point-to-polyline join must broadcast the (way, node-cell)
    candidates into a cell equi-join — never a cartesian — and keep the
    per-way segment scan row-local (no Generate after the join)."""
    plan = plan_of(entry_mod._q_nearest_way(spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_encode_is_row_local(spark):
    """pq_encode's claim: encoding is one mapInArrow projection of the
    corpus scan against the codebook collected to the driver — no
    exchange and no join."""
    from osm_poi_matchmaker_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = S.pq_codebooks(emb, dim=64, m=8, sub_mod=5, iters=1)
    plan = plan_of(S.pq_encode(emb, books, dim=64, m=8), mode="simple")
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_flat_assignment_no_window_no_corpus_shuffle(spark):
    """Flat nearest-centroid assignment is row-local: the centroids are
    collected to the driver once and every partition scores its own
    rows in the NumPy kernel (mapInArrow), so the plan has no Window,
    no hash exchange and no join."""
    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = emb.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
    )
    for n in (1, 3):
        plan = plan_of(
            S._nearest_centroids(emb.select("vec_id", "embedding"), cents, "embedding", n),
            mode="simple",
        )
        assert "Window" not in plan, plan
        assert "hashpartitioning" not in plan, plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    plan = plan_of(S._assign_to_centroids(emb, cents, "vec_id", "embedding"), mode="simple")
    assert "Window" not in plan and "hashpartitioning" not in plan, plan
