"""Point-to-polyline ops: snap pages to the nearest way (road).

The reference resolves way geometries per matched POI through PostGIS
(``online_poi_matching.py:213-223``); the distributed primitive a
crawl-scale pipeline needs is the *join* form — every geotagged page
snapped to its nearest way within a radius, in one plan.

Candidate generation is the kNN cell-ring layout with a completeness
argument extended to polylines: if a point is within ``r`` of a
segment, it is within ``r + seg_len/2`` of the segment's nearer
ENDPOINT, so probing the 3×3 ring of a grid whose pitch covers
``r + max_seg/2`` over the ways' NODE cells finds every candidate way.
The exact point-to-segment distance then runs ROW-LOCAL over the
candidate way's full node array (an ``array_min`` over the segment
fold — no explode of segments through any shuffle), and a min-struct
aggregate picks the winner per page.

Distances use the local-equirectangular projection around the page
(meters-per-degree scaled at the page latitude, exact segment
projection with clamped t) — a few meters of model error at city
scale, and bit-reproducible in SQL, which haversine-to-segment is not
(no closed form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tiling import coarse_cell_id, explode_ring, ring_join

_KY = 111194.9267  # meters per degree latitude (R=6371000)
_KX0 = 111319.4908  # meters per degree longitude at the equator


def point_segment_dist_m(
    plat: Column, plon: Column,
    alat: Column, alon: Column,
    blat: Column, blon: Column,
) -> Column:
    """Meters from point P to segment AB in P-local equirect coords.
    Degenerate segments (A==B) fall back to point distance (t=0)."""
    kx = F.lit(_KX0) * F.cos(F.radians(plat))
    ax, ay = (alon - plon) * kx, (alat - plat) * F.lit(_KY)
    bx, by = (blon - plon) * kx, (blat - plat) * F.lit(_KY)
    dx, dy = bx - ax, by - ay
    den = dx * dx + dy * dy
    t_raw = -(ax * dx + ay * dy) / den
    t = F.when(den > 0.0, F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))).otherwise(
        F.lit(0.0)
    )
    cx, cy = ax + t * dx, ay + t * dy
    return F.sqrt(cx * cx + cy * cy)


def _min_segment_dist(nodes, plat, plon, lat_of, lon_of) -> Column:
    """Row-local min distance from (plat, plon) to the polyline."""
    n = F.size(nodes)
    seg = lambda i: point_segment_dist_m(  # noqa: E731
        plat, plon,
        lat_of(F.element_at(nodes, i)), lon_of(F.element_at(nodes, i)),
        lat_of(F.element_at(nodes, i + 1)), lon_of(F.element_at(nodes, i + 1)),
    )
    return F.when(
        n >= 2,
        F.array_min(F.transform(F.sequence(F.lit(1), n - 1), seg)),
    ).otherwise(
        point_segment_dist_m(
            plat, plon,
            lat_of(F.element_at(nodes, 1)), lon_of(F.element_at(nodes, 1)),
            lat_of(F.element_at(nodes, 1)), lon_of(F.element_at(nodes, 1)),
        )
    )


def nearest_way(
    points: DataFrame,
    ways: DataFrame,
    lat_of,
    lon_of,
    radius_m: float,
    max_seg_m: float,
    mult: int,
    point_key: str = "page_id",
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Nearest way within ``radius_m`` of each point.

    ``ways`` needs (way_id, nodes:array<bigint>); node geometry comes
    from the ``lat_of``/``lon_of`` id→coord mapping (lookup-free, or
    pre-resolved ids). ``mult`` must give a grid pitch ≥
    ``radius_m + max_seg_m/2`` at every data latitude — the caller
    asserts that once per scheme; the 3×3 ring is then exhaustive.
    Returns (point_key, way_id, distance_m) winners (ties → smaller
    way_id), inner semantics like kNN.

    ``broadcast_candidates=False``: planet-scale path — no hint, ring
    explode on the (way, node-cell) side per :func:`..tiling.ring_join`,
    re-deduped per (way, ring cell) before the exchange so node arrays
    cross the shuffle at most 9× per occupied cell. Winner-identical by
    ring symmetry (tests/test_knn_family_shuffle.py).
    """
    # candidate (way, node-cell) pairs, deduped per cell
    cand = (
        ways.select("way_id", F.explode("nodes").alias("nid"), "nodes")
        .withColumn("cand_cell", coarse_cell_id(lat_of(F.col("nid")), lon_of(F.col("nid")), mult))
        .select("way_id", "cand_cell", "nodes")
        .dropDuplicates(["way_id", "cand_cell"])
    )
    if not broadcast_candidates:
        # a way reaches the same ring cell through several of its node
        # cells — explode here and dedupe again so each (way, cell) ships
        # once; the join then keys on the 0-ring (k=0 explodes nothing)
        cand = explode_ring(cand, F.col("cand_cell"), 1, "cand_cell").dropDuplicates(
            ["way_id", "cand_cell"]
        )
    d = _min_segment_dist(F.col("nodes"), F.col("lat"), F.col("lon"), lat_of, lon_of)
    hits = (
        ring_join(
            points.select(point_key, "lat", "lon"),
            cand,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            F.col("cand_cell"),
            k=1 if broadcast_candidates else 0,
            broadcast_candidates=broadcast_candidates,
        )
        .select(point_key, "way_id", d.alias("distance"))
        .where(F.col("distance") < F.lit(float(radius_m)))
        # a way can be found through several of its node cells — the
        # distance is identical, min-struct collapses the duplicates
        .groupBy(point_key)
        .agg(F.min(F.struct("distance", "way_id")).alias("b"))
        .select(
            point_key,
            F.col("b.way_id").alias("way_id"),
            F.round("b.distance", 2).alias("distance_m"),
        )
    )
    return hits


def simplify_ways(
    ways: DataFrame,
    lat_of,
    lon_of,
    eps_m: float,
    way_key: str = "way_id",
    nodes_col: str = "nodes",
    max_rounds: int = 64,
) -> DataFrame:
    """Douglas–Peucker polyline simplification as a DataFrame loop —
    no Python UDFs anywhere (the classic 1973 algorithm, public
    literature; the reference ships way geometries whole, so this is
    the map-generalization op a tile-serving pipeline adds on top).

    One row per OPEN chord (way, i, j) per round; the max-deviation
    vertex is found ROW-LOCAL with an ``array_max`` over a
    ``transform(sequence(i+1, j-1))`` of clamped-projection segment
    distances (the ways-module metric, bit-reproducible in SQL).
    Chords deviating more than ``eps_m`` split at that vertex; kept
    vertices are exactly the chord endpoints ever materialized.

    Scale shape: the working set is chords, not vertices — each round
    is one narrow filter+union with row-local array math, and the loop
    runs ``O(split depth)`` rounds GLOBALLY (all ways advance together;
    depth ≤ log₂(max_nodes) for balanced splits, bounded by
    ``max_rounds``). Node arrays stay row-local the whole way; nothing
    explodes through a shuffle. Plans are lineage-truncated per round
    (localCheckpoint) exactly like connected_components — without it
    the self-referential union DOUBLES the plan every round.

    Returns (way_id, pos, node_id): the kept vertices, ``pos`` 0-based.
    """
    if eps_m <= 0:
        raise ValueError(f"eps_m must be positive, got {eps_m}")
    base = ways.select(F.col(way_key), F.col(nodes_col).alias("_nodes"))

    def node_lat(p: Column) -> Column:  # p is a 1-based array position
        return lat_of(F.element_at("_nodes", p))

    def node_lon(p: Column) -> Column:
        return lon_of(F.element_at("_nodes", p))

    # Open chords: 1-based inclusive endpoints (i, j), j > i + 1 can split.
    segs = base.select(
        way_key, F.lit(1).alias("i"), F.size("_nodes").alias("j"), "_nodes"
    ).where(F.col("j") > F.col("i") + 1)
    # The two-children union would DOUBLE the partition count every round
    # (2^rounds tasks by round 10 — measured); pin it with a shuffle-free
    # coalesce back to the input's width each round.
    n_part = max(1, segs.rdd.getNumPartitions())

    # Kept set starts as every chord endpoint (covers 1/2-node ways too).
    kept = base.select(
        way_key,
        F.explode(
            F.array_distinct(F.array(F.lit(1), F.size("_nodes")))
        ).alias("p"),
    )

    for _ in range(max_rounds):
        # Row-local argmax deviation over interior vertices: struct
        # (dev, -k) under array_max = max dev, ties to the SMALLEST k.
        dev_k = F.transform(
            F.sequence(F.col("i") + 1, F.col("j") - 1),
            lambda k: F.struct(
                point_segment_dist_m(
                    node_lat(k), node_lon(k),
                    node_lat(F.col("i")), node_lon(F.col("i")),
                    node_lat(F.col("j")), node_lon(F.col("j")),
                ).alias("dev"),
                (-k).alias("negk"),
            ),
        )
        best = F.array_max(dev_k)
        scored = segs.select(
            way_key, "i", "j", "_nodes",
            best["dev"].alias("dmax"), (-best["negk"]).alias("kmax")
        )
        # One driver action per round: the checkpoint materializes the
        # split set and count() reads its size off the checkpointed RDD.
        split = scored.where(F.col("dmax") > F.lit(eps_m)).localCheckpoint()
        if split.count() == 0:
            break
        kept = kept.union(split.select(way_key, F.col("kmax").alias("p")))
        left = split.select(way_key, "i", F.col("kmax").alias("j"), "_nodes")
        right = split.select(way_key, F.col("kmax").alias("i"), "j", "_nodes")
        segs = (
            left.union(right).where(F.col("j") > F.col("i") + 1).coalesce(n_part)
        )
    else:
        raise RuntimeError(f"simplify_ways did not converge in {max_rounds} rounds")

    return (
        kept.distinct()
        .join(base, way_key)
        .select(
            way_key,
            (F.col("p") - 1).alias("pos"),
            F.element_at("_nodes", F.col("p")).alias("node_id"),
        )
    )
