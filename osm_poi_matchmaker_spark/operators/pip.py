"""Cell-fragment point-in-polygon join (J4 postcode / J5 city / J6 water).

Reference behavior: per-POI PostGIS ``ST_Contains(way, point)`` queries
(``libs/osm.py:32-49, 92-109``). The distributed re-expression keys BOTH
sides on a coarse fragment grid and equi-joins:

- polygons explode into the grid cells their bbox covers (bbox computed
  JVM-side from the WKT with split/transform/array_min — no Python);
- fragments aggregate POLYGON-side into one row per cell holding the
  sorted candidate list (``collect_list(struct(order_key, poly_id,
  wkt))``) — the shuffle, if any, moves only polygon fragments;
- points compute the same cell id (pure column expression) and join
  ``points ⋈ broadcast(cell_map)`` 1:1 — the point side NEVER shuffles,
  and no polygon ever touches the driver (the old design ``collect()``-ed
  every WKT to the driver and re-broadcast it by hand: fine for
  Hungarian admin polygons, a driver-memory wall for planet-scale
  water/admin sets at J6's 100× scale);
- an Arrow-batched pandas UDF resolves each point against its cell's
  candidate list with the numpy ray-cast (shapely isn't available
  here), taking the first hit in (order_key, poly_id) order — the
  reference's ``ORDER BY name LIMIT 1`` semantics (libs/osm.py:98) —
  so the winner is decided in-row, with no point-side aggregation.

For polygon sets too large to broadcast, pass ``broadcast_polygons=False``:
the same plan degrades to a shuffle equi-join on the fragment cell (AQE
handles skewed cells). Either way the plan is declarative — Catalyst
prunes and reorders it like any other join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tiling import X_SPAN

# Fragment grid: cells per degree. Admin/postcode polygons are km-scale,
# so ~0.125° (9-14 km over HU) cells keep fragments-per-polygon small
# while bounding candidates-per-point to a handful.
FRAG_MULT = 8.0


def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """'POLYGON((x y, x y, ...))' → (N,2) float array (outer ring only)."""
    return parse_wkt_rings(wkt)[0]


def parse_wkt_rings(wkt: str) -> list[np.ndarray]:
    """'POLYGON((outer),(hole),...)' → list of (N,2) float arrays.
    Ring 0 is the outer boundary; later rings are holes (enclaves) —
    the even-odd rule makes their role automatic in the ray-cast."""
    body = wkt.strip()[len("POLYGON((") : -2]
    rings = []
    for ring_txt in body.split("),("):
        pts = [p.strip().split() for p in ring_txt.split(",")]
        rings.append(
            np.array([[float(x), float(y)] for x, y in pts], dtype="float64")
        )
    return rings


def _ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd point-in-ring test for many points, one ring."""
    inside = np.zeros(px.shape[0], dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for xa, ya, xb, yb in zip(x0, y0, x1, y1):
        crosses = (ya > py) != (yb > py)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (py - ya) * (xb - xa) / (yb - ya)
        inside ^= crosses & (px < xint)
    return inside


@F.pandas_udf(T.IntegerType())
def _resolve_udf(cands: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """First containing candidate per point (candidates pre-sorted by
    (order_key, poly_id)); -1 when the list is null/empty or nothing
    contains the point. Rings are parsed once per batch per polygon."""
    ring_cache: dict = {}
    out = np.full(len(cands), -1, dtype="int32")
    xs = px.to_numpy("float64")
    ys = py.to_numpy("float64")
    for i, clist in enumerate(cands):
        if clist is None or len(clist) == 0:
            continue
        x = np.array([xs[i]])
        y = np.array([ys[i]])
        for c in clist:
            wkt = c["_wkt"]
            rings = ring_cache.get(wkt)
            if rings is None:
                rings = ring_cache[wkt] = parse_wkt_rings(wkt)
            # even-odd across ALL rings: a point inside a hole crosses
            # both boundaries an odd number of times each -> outside
            inside = False
            for ring in rings:
                inside ^= bool(_ray_cast(x, y, ring)[0])
            if inside:
                out[i] = c["_pid"]
                break
    return pd.Series(out)


def _wkt_coords(wkt):
    """All coordinate pairs of all rings — the '),(' ring separator
    flattens to a plain ',' so hole vertices parse cleanly too (they
    cannot widen the bbox: holes lie inside the outer ring)."""
    inner = F.regexp_replace(wkt, r"^\s*POLYGON\(\(|\)\)\s*$", "")
    return F.split(F.regexp_replace(inner, r"\),\(", ","), ",")


def _wkt_xs(wkt):
    """Array of ring x (first) coordinates — JVM-side column expression."""
    return F.transform(
        _wkt_coords(wkt),
        lambda p: F.element_at(F.split(F.trim(p), " "), 1).cast("double"),
    )


def _wkt_ys(wkt):
    return F.transform(
        _wkt_coords(wkt),
        lambda p: F.element_at(F.split(F.trim(p), " "), 2).cast("double"),
    )


def _frag_coord(c):
    """Fragment-grid coordinate for one axis (offset keeps it positive)."""
    return F.floor((c + F.lit(180.0)) * F.lit(FRAG_MULT)).cast("long")


def polygon_fragments(
    polygons: DataFrame, poly_id: str, wkt_col: str, order_by: str | None
) -> DataFrame:
    """(fcell, poly_id, wkt, order_key): one row per bbox-covered cell.

    Everything up to the explode is whole-stage-codegen column work; the
    explode is the built-in UDTF. Fragment count per polygon is
    O(bbox_area / cell_area) — a handful for admin-scale polygons.
    """
    xs, ys = _wkt_xs(F.col(wkt_col)), _wkt_ys(F.col(wkt_col))
    order_key = (
        F.col(order_by).cast("string") if order_by is not None
        else F.col(poly_id).cast("string")
    )
    return (
        polygons.select(
            F.col(poly_id).alias("_pid"),
            F.col(wkt_col).alias("_wkt"),
            order_key.alias("_ord"),
            _frag_coord(F.array_min(xs)).alias("_x0"),
            _frag_coord(F.array_max(xs)).alias("_x1"),
            _frag_coord(F.array_min(ys)).alias("_y0"),
            _frag_coord(F.array_max(ys)).alias("_y1"),
        )
        .withColumn("_fx", F.explode(F.sequence("_x0", "_x1")))
        .withColumn("_fy", F.explode(F.sequence("_y0", "_y1")))
        .select(
            (F.col("_fy") * F.lit(X_SPAN) + F.col("_fx")).alias("_fcell"),
            "_pid",
            "_wkt",
            "_ord",
        )
    )


def point_in_polygon(
    points: DataFrame,
    polygons: DataFrame,
    point_key: str = "page_id",
    poly_id: str = "poly_id",
    wkt_col: str = "way_wkt",
    swap_xy: bool = False,
    order_by: str | None = None,
    broadcast_polygons: bool = True,
) -> DataFrame:
    """(point_key, lat, lon) × polygon fragments → (point_key, poly_id).

    Points with no containing polygon get poly_id = -1 (kept, so callers
    can distinguish 'outside every boundary' — reference returns None
    there, libs/osm.py:47).

    ``swap_xy`` preserves the reference's J5 city-lookup quirk: the probe
    point is built ``ST_MakePoint(:lat,:lon)`` — latitude on the x axis
    (libs/osm.py:97) — so containment tests the SWAPPED point. ``order_by``
    names a polygon column; the minimal (order_by, poly_id) containing
    polygon wins, reproducing ``ORDER BY name LIMIT 1`` (libs/osm.py:98).
    """
    cell_map = polygon_cell_map(polygons, poly_id, wkt_col, order_by)
    if broadcast_polygons:
        cell_map = F.broadcast(cell_map)
    return locate_points(points, cell_map, point_key, swap_xy)


def polygon_cell_map(
    polygons: DataFrame,
    poly_id: str = "poly_id",
    wkt_col: str = "way_wkt",
    order_by: str | None = None,
) -> DataFrame:
    """The index half of :func:`point_in_polygon`: one row per fragment
    cell, candidates sorted by (order_key, poly_id). The groupBy
    shuffles only polygon fragments, never points."""
    return (
        polygon_fragments(polygons, poly_id, wkt_col, order_by)
        .groupBy("_fcell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_ord", "_pid", "_wkt"))
            ).alias("_cands")
        )
    )


def locate_points(
    points: DataFrame,
    cell_map: DataFrame,
    point_key: str = "page_id",
    swap_xy: bool = False,
) -> DataFrame:
    """The probe half of :func:`point_in_polygon`: each point's first
    containing polygon from the :func:`polygon_cell_map` ``cell_map``."""
    px = F.col("lat") if swap_xy else F.col("lon")
    py = F.col("lon") if swap_xy else F.col("lat")
    pts = points.select(point_key, "lat", "lon").withColumn(
        "_fcell",
        _frag_coord(py) * F.lit(X_SPAN) + _frag_coord(px),
    )
    return pts.join(cell_map, "_fcell", "left").select(
        point_key,
        _resolve_udf(F.col("_cands"), px, py).alias("poly_id"),
    )


def polygon_geometry(
    polygons: DataFrame, poly_id: str = "poly_id", wkt_col: str = "way_wkt"
) -> DataFrame:
    """Exact polygon geometry from WKT — shoelace area + centroid, pure
    JVM column expressions (round 4).

    The reference leans on PostGIS (``ST_Contains``/geometry columns);
    a from-scratch engine needs the zonal-analytics read-offs too. The
    trick that keeps this oracle-exact: vertex coordinates recover
    their INTEGER micro-degree (e6) representation via
    ``round(x*1e6)`` — exact for |x| < 2^31 — and the shoelace runs in
    BIGINT on polygon-local shifted coordinates (subtracting the bbox
    min keeps every cross term < 2^46 for country-scale polygons), so
    ``area2_e12`` (twice the signed area in e6² units, absolute) is an
    exact integer both engines hash identically. The centroid fold is
    double arithmetic, but both ``F.aggregate`` and DuckDB
    ``list_sum`` fold in element order, so the doubles agree
    bit-for-bit (same precedent as oracles_docs).

    Returns (poly_id, n_vertices, area2_e12, area_km2, centroid_lon,
    centroid_lat) — area_km2 via the equirectangular scale at the
    centroid latitude (111.32 km/° lon × cos, 110.574 km/° lat),
    rounded at the edge like every float output.

    SINGLE-RING polygons only — enforced at runtime: a '),(' ring
    separator in the WKT raises (JVM-side ``raise_error`` naming the
    offending poly_id) instead of silently folding hole vertices into
    the shoelace as boundary (ADVICE r4). Use
    :func:`polygon_geometry_rings` for hole-carrying polygons, and the
    PIP path (even-odd over rings) for containment.
    """
    xs_raw, ys = _wkt_xs(F.col(wkt_col)), _wkt_ys(F.col(wkt_col))
    # Multi-ring guard woven into a LIVE expression (a standalone guard
    # column would be pruned by Catalyst and never evaluated). raise_error
    # is NullType, which coerces into the array branch type.
    xs = F.when(
        F.col(wkt_col).contains("),("),
        F.raise_error(
            F.concat(
                F.lit("polygon_geometry: multi-ring WKT for poly_id "),
                F.col(poly_id).cast("string"),
                F.lit(" — use polygon_geometry_rings"),
            )
        ),
    ).otherwise(xs_raw)
    to_e6 = lambda arr: F.transform(  # noqa: E731
        arr, lambda v: F.round(v * F.lit(1_000_000.0)).cast("long")
    )
    base = polygons.select(
        F.col(poly_id),
        to_e6(xs).alias("_xe"),
        to_e6(ys).alias("_ye"),
    ).select(
        poly_id,
        F.transform("_xe", lambda v: v - F.array_min("_xe")).alias("_xs"),
        F.transform("_ye", lambda v: v - F.array_min("_ye")).alias("_ys"),
        (F.array_min("_xe").cast("double") / F.lit(1e6)).alias("_x0"),
        (F.array_min("_ye").cast("double") / F.lit(1e6)).alias("_y0"),
    )
    xi = lambda i: F.element_at(F.col("_xs"), i)  # noqa: E731
    yi = lambda i: F.element_at(F.col("_ys"), i)  # noqa: E731
    cross = lambda i: xi(i) * yi(i + 1) - xi(i + 1) * yi(i)  # noqa: E731
    idx = F.sequence(F.lit(1), F.size("_xs") - 1)
    a2 = F.aggregate(idx, F.lit(0).cast("long"), lambda acc, i: acc + cross(i))
    cxn = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + (xi(i) + xi(i + 1)).cast("double") * cross(i).cast("double"),
    )
    cyn = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + (yi(i) + yi(i + 1)).cast("double") * cross(i).cast("double"),
    )
    g = base.select(
        poly_id,
        (F.size("_xs") - 1).alias("n_vertices"),
        F.abs(a2).alias("area2_e12"),
        (F.col("_x0") + cxn / (F.lit(3.0) * a2.cast("double")) / F.lit(1e6)).alias("_clon"),
        (F.col("_y0") + cyn / (F.lit(3.0) * a2.cast("double")) / F.lit(1e6)).alias("_clat"),
    )
    deg2 = F.abs(F.col("area2_e12")).cast("double") / F.lit(2e12)
    km2 = deg2 * F.lit(110.574) * (F.lit(111.32) * F.cos(F.radians(F.col("_clat"))))
    return g.select(
        poly_id,
        "n_vertices",
        "area2_e12",
        F.round(km2, 3).alias("area_km2"),
        F.round("_clon", 6).alias("centroid_lon"),
        F.round("_clat", 6).alias("centroid_lat"),
    )


def polygon_geometry_rings(
    polygons: DataFrame, poly_id: str = "poly_id", wkt_col: str = "way_wkt"
) -> DataFrame:
    """Ring-aware polygon geometry (round 4): donut area = outer ring −
    holes, centroid = area-weighted combination — the multi-ring
    companion to :func:`polygon_geometry` (which stays single-ring so
    its established oracle folds are untouched).

    Rings explode JVM-side (split on the '),(' separator + posexplode);
    each ring runs the same exact integer shoelace (BIGINT cross
    products over ring-local shifted e6 coordinates) and double
    centroid fold; per-polygon combination folds the rings IN RING
    ORDER over an array_sort'd collect_list, so the oracle's
    ``list_sum`` over a ring-ordered list reproduces the doubles
    bit-for-bit. ``area2_e12`` stays an exact BIGINT (outer minus
    holes). Degenerate all-hole polygons (den == 0) are not expected
    from WKT and would yield NULL centroids rather than wrong ones.

    Returns (poly_id, n_rings, area2_e12, area_km2, centroid_lon,
    centroid_lat).
    """
    rings_txt = F.regexp_replace(
        F.col(wkt_col), r"^\s*POLYGON\(\(|\)\)\s*$", ""
    )
    r = polygons.select(
        F.col(poly_id),
        F.posexplode(F.split(rings_txt, r"\),\(")).alias("_ring", "_txt"),
    )
    coord = lambda idx: F.transform(  # noqa: E731
        F.split(F.col("_txt"), ","),
        lambda p: F.round(
            F.element_at(F.split(F.trim(p), " "), idx).cast("double")
            * F.lit(1_000_000.0)
        ).cast("long"),
    )
    r = r.select(poly_id, "_ring", coord(1).alias("_xe"), coord(2).alias("_ye"))
    r = r.select(
        poly_id,
        "_ring",
        F.transform("_xe", lambda v: v - F.array_min("_xe")).alias("_xs"),
        F.transform("_ye", lambda v: v - F.array_min("_ye")).alias("_ys"),
        (F.array_min("_xe").cast("double") / F.lit(1e6)).alias("_x0"),
        (F.array_min("_ye").cast("double") / F.lit(1e6)).alias("_y0"),
    )
    xi = lambda i: F.element_at(F.col("_xs"), i)  # noqa: E731
    yi = lambda i: F.element_at(F.col("_ys"), i)  # noqa: E731
    cross = lambda i: xi(i) * yi(i + 1) - xi(i + 1) * yi(i)  # noqa: E731
    idx = F.sequence(F.lit(1), F.size("_xs") - 1)
    a2 = F.aggregate(idx, F.lit(0).cast("long"), lambda acc, i: acc + cross(i))
    cxn = F.aggregate(
        idx, F.lit(0.0),
        lambda acc, i: acc
        + (xi(i) + xi(i + 1)).cast("double") * cross(i).cast("double"),
    )
    cyn = F.aggregate(
        idx, F.lit(0.0),
        lambda acc, i: acc
        + (yi(i) + yi(i + 1)).cast("double") * cross(i).cast("double"),
    )
    per_ring = r.select(
        poly_id,
        "_ring",
        F.abs(a2).alias("_a2"),
        (F.col("_x0") + cxn / (F.lit(3.0) * a2.cast("double")) / F.lit(1e6)).alias(
            "_cx"
        ),
        (F.col("_y0") + cyn / (F.lit(3.0) * a2.cast("double")) / F.lit(1e6)).alias(
            "_cy"
        ),
    )
    # combine rings in ring order: outer (+), holes (−)
    w = lambda s: F.when(s["_ring"] == 0, s["_a2"]).otherwise(-s["_a2"])  # noqa: E731
    g = (
        per_ring.groupBy(poly_id)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_ring", "_a2", "_cx", "_cy"))
            ).alias("_rs")
        )
        .select(
            poly_id,
            F.size("_rs").alias("n_rings"),
            F.aggregate(
                "_rs", F.lit(0).cast("long"), lambda acc, s: acc + w(s)
            ).alias("area2_e12"),
            F.aggregate(
                "_rs", F.lit(0.0), lambda acc, s: acc + w(s).cast("double") * s["_cx"]
            ).alias("_nx"),
            F.aggregate(
                "_rs", F.lit(0.0), lambda acc, s: acc + w(s).cast("double") * s["_cy"]
            ).alias("_ny"),
        )
    )
    clat = F.col("_ny") / F.col("area2_e12").cast("double")
    clon = F.col("_nx") / F.col("area2_e12").cast("double")
    deg2 = F.col("area2_e12").cast("double") / F.lit(2e12)
    km2 = deg2 * F.lit(110.574) * (F.lit(111.32) * F.cos(F.radians(clat)))
    return g.select(
        poly_id,
        "n_rings",
        "area2_e12",
        F.round(km2, 3).alias("area_km2"),
        F.round(clon, 6).alias("centroid_lon"),
        F.round(clat, 6).alias("centroid_lat"),
    )
