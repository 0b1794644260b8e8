"""Density-based spatial clustering (DBSCAN) over POI points.

The reference conflates duplicate POIs pairwise (its fuzzy matcher walks
per-record candidate lists, ``libs/poi_matchmaker.py``); what it never
offers — and what a planet-scale conflation pipeline needs — is the
*grouping* step: every dense knot of same-area POIs collapsed into one
cluster in a single distributed pass. This module adds classic DBSCAN
(Ester et al., KDD'96) re-expressed as three relational stages, each of
which already has a measured scale shape elsewhere in this engine:

1. **ε-pair generation** — :func:`distance_band_pairs`: a cell-bucketed
   self-join (``tiling.ring_join`` on the kNN grid: probe side explodes
   its 3×3 coarse-cell ring, candidate side keeps one cell, equi-join on
   the cell id, exact haversine post-filter). Never all-pairs: the only
   shuffle is the cell-keyed co-location, identical to the
   ``operators/knn.py`` layout but self-joined.
2. **Core rule** — a degree aggregate over the pair set (map-side
   partial combine; one row per point crosses the shuffle).
3. **Clustering** — :func:`~.dedup.connected_components` (min-label
   propagation + pointer jumping) over CORE-CORE edges only; border
   points attach to the smallest cluster id among their core
   neighbours, everything else is noise. Component input is the edge
   set, never the point table — at 10^8 POIs the dense-pair graph is
   the small derived thing, exactly like the near-dup LSH pair graph.

Determinism: cluster id = smallest core point id in the component;
border ties resolve to the smallest cluster id. Both rules are pure
MIN aggregates, so the output is stable under any partitioning and
reproducible by the DuckDB oracle's recursive-CTE closure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geo import haversine_m
from ..tiling import coarse_cell_id, coarse_mult_for_radius, ring_join
from .dedup import connected_components


def distance_band_pairs(
    points: DataFrame, eps_m: float, key: str = "osm_id"
) -> DataFrame:
    """All point pairs within ``eps_m`` meters, each once (``a < b``).

    ``points`` needs (key, lat, lon). The coarse grid pitch is chosen so
    one ring step covers ``eps_m`` (``coarse_mult_for_radius``), making
    the 3×3 ring probe exhaustive. Returns (a, b, distance).
    """
    mult = coarse_mult_for_radius(eps_m)
    cand = points.select(
        F.col(key).alias("b"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
    )
    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("b_lat"), F.col("b_lon"))
    return (
        ring_join(
            points.select(F.col(key).alias("a"), "lat", "lon"),
            cand,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("b_lat"), F.col("b_lon"), mult),
        )
        .where((F.col("a") < F.col("b")) & (dist < F.lit(float(eps_m))))
        .select("a", "b", dist.alias("distance"))
    )


# Worst-case meters spanned by a 1/mult-degree cell diagonal (equator
# lon pitch + meridian lat pitch, Pythagoras — an overestimate for any
# real latitude, so "diagonal < eps" derived from it is always safe).
_DIAG_M_PER_DEG = 157342.0

# Fine cells use their OWN row-major stride, wide enough for the finest
# legal grid: mult 2^18 → x < 360·2^18 ≈ 9.4e7 < 2^27, id < 2^45. The
# coarse X_SPAN (2^18) stride would alias fine ids at any mult ≥ 1024
# (x = (lon+180)·mult exceeds it), silently merging cells ~128° of
# longitude apart. Fine ids never mix with coarse ring ids — separate
# namespace, separate stride.
FINE_X_SPAN = 1 << 27
_FINE_MULT_CAP = 1 << 18  # diagonal 0.6 m — below that, fix your eps


def fine_mult_for_eps(eps_m: float) -> int:
    """Smallest power-of-two cells-per-degree whose worst-case cell
    DIAGONAL is under ``eps_m`` — every two points sharing such a cell
    are guaranteed ε-neighbors. Raises on eps ≤ 0 (the loop would never
    terminate) and on eps < ~0.6 m (mult would overflow FINE_X_SPAN)."""
    if eps_m <= 0:
        raise ValueError(f"eps_m must be > 0, got {eps_m}")
    mult = 1
    while _DIAG_M_PER_DEG / mult >= eps_m:
        mult *= 2
        if mult > _FINE_MULT_CAP:
            raise ValueError(
                f"eps_m {eps_m} needs a finer grid than the {_FINE_MULT_CAP} "
                "cells/degree id space supports (cell diagonal 0.6 m)"
            )
    return mult


def fine_cell_id(lat: Column, lon: Column, mult: int) -> Column:
    """Fine-grid cell id on the FINE_X_SPAN stride (see above)."""
    y = F.floor((lat + F.lit(90.0)) * F.lit(float(mult))).cast("long")
    x = F.floor((lon + F.lit(180.0)) * F.lit(float(mult))).cast("long")
    return y * F.lit(FINE_X_SPAN) + x


def dbscan_clusters_contracted(
    points: DataFrame,
    eps_m: float,
    min_pts: int,
    key: str = "osm_id",
) -> DataFrame:
    """:func:`dbscan_clusters` with cell contraction — identical output,
    built for dense data.

    The naive component stage materializes every within-blob ε-pair: a
    knot of k mutually-close POIs emits k(k-1)/2 edges, so edge volume
    grows with local density SQUARED (measured: 35.5M pairs for 2M
    points in 50-point blobs, jobs/dbscan_bench.py). The classic fix:
    pick a fine grid whose cell diagonal is < ε — all points sharing a
    fine cell are provably mutual neighbors — and

    - count same-cell neighbors analytically (``n_cell - 1``, one
      groupBy) instead of enumerating them;
    - drop same-cell pairs from the ε-join output (only CROSS-cell
      pairs are materialized);
    - run connected components over the CONTRACTED graph (nodes = fine
      cells holding core points, edges = cross-cell core-core pairs),
      then re-expand: cluster id = min core point id over the
      component's member cells — bit-identical to the point-level
      labels, since same-cell cores are always one cluster.

    Every stage is a hash aggregate or equi-join; the quadratic term is
    gone (same bench: 35.5M → cross-cell-only pairs, components over
    ~cells not ~points²).
    """
    fine = fine_mult_for_eps(eps_m)
    pts = points.select(
        F.col(key).alias("node"), "lat", "lon"
    ).withColumn("fcell", fine_cell_id(F.col("lat"), F.col("lon"), fine))
    pts = pts.persist()

    cell_n = pts.groupBy("fcell").agg(
        F.count("*").alias("n_cell"), F.min("node").alias("cell_min_id")
    )

    # Cross-cell ε-pairs only (the coarse ring join finds same-cell
    # pairs too — the fine-cell inequality filters them before they
    # hit the aggregate).
    mult = coarse_mult_for_radius(eps_m)
    cand = pts.select(
        F.col("node").alias("b"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("fcell").alias("fb"),
    )
    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("b_lat"), F.col("b_lon"))
    cross = (
        ring_join(
            pts.select(F.col("node").alias("a"), "lat", "lon", F.col("fcell").alias("fa")),
            cand,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("b_lat"), F.col("b_lon"), mult),
        )
        .where(
            (F.col("a") < F.col("b"))
            & (F.col("fa") != F.col("fb"))
            & (dist < F.lit(float(eps_m)))
        )
        .select("a", "b", "fa", "fb")
        .persist()
    )
    xdeg = (
        cross.select(F.col("a").alias("node"))
        .union(cross.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_cross"))
    )

    deg = (
        pts.join(cell_n, "fcell")
        .join(xdeg, "node", "left")
        .select(
            "node",
            "fcell",
            (F.col("n_cell") - 1 + F.coalesce("n_cross", F.lit(0))).alias("n_nbr"),
        )
    )
    core = deg.where(F.col("n_nbr") + 1 >= F.lit(int(min_pts))).select(
        "node", "fcell"
    ).persist()

    core_cells = core.groupBy("fcell").agg(F.min("node").alias("cell_min_core"))
    core_nodes_a = core.select(F.col("node").alias("a"))
    core_nodes_b = core.select(F.col("node").alias("b"))
    cell_edges = (
        cross.join(core_nodes_a, "a", "left_semi")
        .join(core_nodes_b, "b", "left_semi")
        .select(F.col("fa"), F.col("fb"))
        .distinct()
    )
    ccomp = connected_components(cell_edges, left="fa", right="fb")
    ccomp = ccomp.unionByName(
        core_cells.select("fcell")
        .join(ccomp.select(F.col("node").alias("fcell")), "fcell", "left_anti")
        .select(F.col("fcell").alias("node"), F.col("fcell").alias("component"))
    )
    # component (a cell id) → cluster id (min core point id over members)
    cluster_of_cell = (
        ccomp.join(core_cells, ccomp.node == core_cells.fcell)
        .groupBy("component")
        .agg(F.min("cell_min_core").alias("cluster"))
        .join(ccomp, "component")
        .select(F.col("node").alias("fcell"), "cluster")
    ).persist()

    core_out = core.join(cluster_of_cell, "fcell").select(
        "node", F.lit("core").alias("role"), F.col("cluster").alias("component")
    )

    # Border: non-core with a core neighbor — same-cell (any core in my
    # fine cell is within ε by construction) or cross-cell.
    non_core = pts.join(core.select("node"), "node", "left_anti").select(
        "node", "fcell"
    )
    same_cell_b = non_core.join(cluster_of_cell, "fcell").select("node", "cluster")
    cross_core = (
        cross.join(core.select(F.col("node").alias("b"), F.col("fcell").alias("fb_c")), "b")
        .select(F.col("a").alias("node"), F.col("fb").alias("core_cell"))
        .unionByName(
            cross.join(
                core.select(F.col("node").alias("a"), F.col("fcell").alias("fa_c")), "a"
            ).select(F.col("b").alias("node"), F.col("fa").alias("core_cell"))
        )
        .join(non_core.select("node"), "node", "left_semi")
        .join(
            cluster_of_cell.select(
                F.col("fcell").alias("core_cell"), "cluster"
            ),
            "core_cell",
        )
        .select("node", "cluster")
    )
    border = (
        same_cell_b.unionByName(cross_core)
        .groupBy("node")
        .agg(F.min("cluster").alias("component"))
        .select("node", F.lit("border").alias("role"), "component")
    )

    roles = core_out.unionByName(border)
    out = (
        points.select(F.col(key).alias("node"))
        .join(roles, "node", "left")
        .select(
            F.col("node").alias(key),
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.col("component").alias("cluster"),
        )
    )
    # Persisted intermediates (pts/cross/core/cluster_of_cell) back the
    # multi-consumer plan above; once a caller MATERIALIZES the result
    # (e.g. the registry's memoizer caches + counts it) they are dead
    # weight — expose them so the caller can release the blocks instead
    # of letting them accumulate across queries in one session.
    out._opm_persisted = [pts, cross, core, cluster_of_cell]
    return out


def dbscan_assign_probe(
    batch: DataFrame,
    settled: DataFrame,
    eps_m: float,
    key: str = "osm_id",
) -> DataFrame:
    """Incremental cluster assignment: probe a NEW batch of points
    against a settled clustering without re-clustering the corpus.

    The spatial twin of :func:`~.dedup.lsh_index_probe` / the greedy
    arrival-dedup motif: at crawl cadence you don't re-run DBSCAN over
    10^8 settled POIs per snapshot — new points ring-join the settled
    CORE points only, and a point with ≥1 core ε-neighbor adopts the
    smallest neighboring cluster id (deterministic; the greedy
    approximation — merges a full re-cluster might cause are deferred
    to the next full run, exactly like the LSH bucket-claiming path).
    Points with no core neighbor stay ``unassigned`` (a full pass
    decides noise vs new-cluster).

    ``settled`` needs (key, lat, lon, role, cluster) — the
    :func:`dbscan_clusters` output joined back to coordinates. One
    cell-keyed equi-join; the settled side's ring explode is avoided by
    probing from the (small) batch side.
    """
    mult = coarse_mult_for_radius(eps_m)
    cores = settled.where(F.col("role") == "core").select(
        F.col(key).alias("c_id"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        "cluster",
    )
    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("c_lat"), F.col("c_lon"))
    hits = (
        ring_join(
            batch.select(F.col(key).alias("b_id"), "lat", "lon"),
            cores,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("c_lat"), F.col("c_lon"), mult),
        )
        .where(dist < F.lit(float(eps_m)))
        .groupBy("b_id")
        .agg(F.min("cluster").alias("cluster"))
    )
    return (
        batch.select(F.col(key).alias("b_id"))
        .join(hits, "b_id", "left")
        .select(
            F.col("b_id").alias(key),
            F.when(F.col("cluster").isNotNull(), F.lit("assigned"))
            .otherwise(F.lit("unassigned"))
            .alias("status"),
            "cluster",
        )
    )


def dbscan_clusters(
    points: DataFrame,
    eps_m: float,
    min_pts: int,
    key: str = "osm_id",
) -> DataFrame:
    """DBSCAN roles + cluster ids for every input point.

    A point is **core** iff its ε-neighbourhood (itself included, the
    KDD'96 convention) holds ≥ ``min_pts`` points; core points connected
    through core-core ε-edges share a cluster (id = min core point id);
    a non-core point with ≥ 1 core ε-neighbour is **border** and joins
    its smallest-id neighbouring cluster; the rest is **noise**
    (cluster NULL). Returns (key, role, cluster).
    """
    pairs = distance_band_pairs(points, eps_m, key=key).persist()
    edges = pairs.select("a", "b").union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("n_nbr"))
    core = (
        deg.where(F.col("n_nbr") + 1 >= F.lit(int(min_pts)))
        .select("node")
        .persist()
    )
    if min_pts <= 1:
        # degree-0 points never enter `pairs`; with min_pts<=1 they are
        # still core (singleton clusters) — pull them from the base table.
        core = (
            points.select(F.col(key).alias("node")).distinct().persist()
        )

    core_a = core.select(F.col("node").alias("a"))
    core_b = core.select(F.col("node").alias("b"))
    core_edges = pairs.join(core_a, "a", "left_semi").join(core_b, "b", "left_semi")

    comp = connected_components(core_edges, left="a", right="b")
    # Isolated core points (no core-core edge) are singleton clusters.
    comp = comp.unionByName(
        core.join(comp.select(F.col("node")), "node", "left_anti").select(
            "node", F.col("node").alias("component")
        )
    ).persist()

    # Border: non-core endpoints of an edge whose other end is core.
    border = (
        edges.join(core.select(F.col("node").alias("a")), "a", "left_anti")
        .join(
            comp.select(F.col("node").alias("b"), "component"),
            "b",
        )
        .groupBy(F.col("a").alias("node"))
        .agg(F.min("component").alias("component"))
    )

    roles = comp.select("node", F.lit("core").alias("role"), "component").unionByName(
        border.select("node", F.lit("border").alias("role"), "component")
    )
    out = (
        points.select(F.col(key).alias("node"))
        .join(roles, "node", "left")
        .select(
            F.col("node").alias(key),
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.col("component").alias("cluster"),
        )
    )
    # see dbscan_clusters_contracted: release these after materializing
    out._opm_persisted = [pairs, core, comp]
    return out


def brand_colocation(
    points: DataFrame,
    eps_m: float,
    key: str = "osm_id",
    name: str = "name",
) -> DataFrame:
    """Brand co-location matrix: for every unordered brand pair, how
    many POI pairs sit within ``eps_m`` of each other (the market-
    adjacency read-off: which brands cluster together). Pairs come from
    the cell-ring ε self-join (:func:`distance_band_pairs` — never
    all-pairs); names attach via two broadcast joins against the slim
    (key, name) projection, and the pair key is canonicalized
    (least, greatest) so A×B and B×A accumulate together. Same-brand
    pairs are reported too (brand_a == brand_b row) — droppable by the
    caller, and the densest real-world signal (chain self-spacing).
    Returns (brand_a, brand_b, n_pairs, min_distance_m).
    """
    pairs = distance_band_pairs(points, eps_m, key=key)
    names = points.select(F.col(key).alias("_k"), F.col(name).alias("_n"))
    joined = (
        pairs.join(
            F.broadcast(names.select(F.col("_k").alias("a"), F.col("_n").alias("na"))),
            "a",
        )
        .join(
            F.broadcast(names.select(F.col("_k").alias("b"), F.col("_n").alias("nb"))),
            "b",
        )
    )
    return (
        joined.select(
            F.least("na", "nb").alias("brand_a"),
            F.greatest("na", "nb").alias("brand_b"),
            "distance",
        )
        .groupBy("brand_a", "brand_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("distance"), 2).alias("min_distance_m"),
        )
    )
