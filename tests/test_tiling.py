"""Tiling-layer property tests: the ring-coverage guarantees every
radius-bounded join in the engine relies on."""

from __future__ import annotations

import math

from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from osm_poi_matchmaker_spark.tiling import (
    GRID_MULT,
    MAX_LON_METERS_PER_DEG,
    X_SPAN,
    coarse_mult_for_radius,
    coarse_ring_spec,
    kring_k_for_radius,
    ring_offsets,
)

EARTH = 6371000.0

hu_lat = st.floats(min_value=45.7, max_value=48.6)
hu_lon = st.floats(min_value=16.1, max_value=22.9)
bearing = st.floats(min_value=0.0, max_value=2 * math.pi)
radius = st.floats(min_value=1.0, max_value=2000.0)


def cell_xy(lat: float, lon: float, mult: float) -> tuple[int, int]:
    return (
        int(math.floor((lat + 90.0) * mult)),
        int(math.floor((lon + 180.0) * mult)),
    )


def offset_point(lat: float, lon: float, dist_m: float, brg: float) -> tuple[float, float]:
    dlat = dist_m * math.cos(brg) / 111320.0
    dlon = dist_m * math.sin(brg) / (111320.0 * math.cos(math.radians(lat)))
    return lat + dlat, lon + dlon


@settings(max_examples=300, deadline=None)
@given(lat=hu_lat, lon=hu_lon, r=radius, brg=bearing)
def test_fine_kring_covers_radius(lat, lon, r, brg):
    k = kring_k_for_radius(r)
    lat2, lon2 = offset_point(lat, lon, r * 0.999, brg)
    y1, x1 = cell_xy(lat, lon, GRID_MULT)
    y2, x2 = cell_xy(lat2, lon2, GRID_MULT)
    assert abs(y1 - y2) <= k and abs(x1 - x2) <= k


@settings(max_examples=300, deadline=None)
@given(lat=hu_lat, lon=hu_lon, r=radius, brg=bearing)
def test_coarse_ring3x3_covers_radius(lat, lon, r, brg):
    mult = coarse_mult_for_radius(r)
    assert MAX_LON_METERS_PER_DEG / mult >= r  # pitch >= radius by construction
    lat2, lon2 = offset_point(lat, lon, r * 0.999, brg)
    y1, x1 = cell_xy(lat, lon, mult)
    y2, x2 = cell_xy(lat2, lon2, mult)
    assert abs(y1 - y2) <= 1 and abs(x1 - x2) <= 1


@settings(max_examples=300, deadline=None)
@given(
    lat_frac=st.floats(min_value=0.0, max_value=1.0),
    lon=hu_lon,
    r=st.floats(min_value=1.0, max_value=50_000.0),
    brg=bearing,
    max_lat=st.sampled_from([48.6, 55.0, 62.0, 70.0]),
)
@example(lat_frac=1.0, lon=19.0, r=50_000.0, brg=math.pi / 2, max_lat=70.0)
@example(lat_frac=0.5, lon=19.0, r=40_000.0, brg=math.pi / 4, max_lat=70.0)
def test_coarse_ring_spec_covers_radius(lat_frac, lon, r, brg, max_lat):
    """The wide ring behind the bounded name arms: for radii past the
    finest grid pitch up to 50 km, and data extents up to ``max_lat``,
    two points closer than r lie within k cells on both axes of the
    (mult, k) ring coarse_ring_spec picks."""
    lat = 45.7 + lat_frac * (max_lat - 45.7)
    mult, k = coarse_ring_spec(r, max_lat)
    lat2, lon2 = offset_point(lat, lon, r * 0.999, brg)
    assume(lat2 <= max_lat)
    y1, x1 = cell_xy(lat, lon, mult)
    y2, x2 = cell_xy(lat2, lon2, mult)
    assert abs(y1 - y2) <= k and abs(x1 - x2) <= k
    try:
        strict = coarse_mult_for_radius(r, max_lat)
    except ValueError:
        assert k >= 2  # the strict 3x3 form refuses exactly the wide rings
    else:
        assert (mult, k) == (strict, 1)


def test_coarse_ring_spec_widens_past_pitch():
    # mult=1 pitch is 73.6 km at 48.6°N and 38.1 km at 70°N
    assert coarse_ring_spec(50_000.0) == (1, 1)
    assert coarse_ring_spec(50_000.0, max_lat=70.0) == (1, 2)
    assert coarse_ring_spec(150_000.0) == (1, 3)
    assert coarse_ring_spec(300.0) == (128, 1)
    offs = ring_offsets(2)
    assert len(offs) == 25 and len(set(offs)) == 25
    assert ring_offsets(1) == [dy * X_SPAN + dx for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    assert ring_offsets(0) == [0]


def test_cell_id_injective_over_bbox():
    # row-major stride X_SPAN leaves no collisions inside the HU bbox
    seen = set()
    for lat in (45.7, 47.0, 48.6):
        for lon in (16.1, 19.5, 22.9):
            y, x = cell_xy(lat, lon, GRID_MULT)
            cid = y * X_SPAN + x
            assert cid not in seen
            seen.add(cid)
    assert max(x for _, x in [cell_xy(48.6, 22.9, GRID_MULT)]) < X_SPAN


def test_tile_pyramid_cascade_equals_direct(spark):
    """The log-cascade rollup must equal per-level direct grouping, and
    every level must conserve the total point count."""
    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.tiling import X_SPAN, tile_pyramid

    pts = spark.createDataFrame(
        [(i, (i * 37) % 900, (i * 91) % 1300) for i in range(400)],
        ["pid", "yraw", "xraw"],
    ).select("pid", (F.col("yraw") * X_SPAN + F.col("xraw")).alias("cell_id"))
    pyr = tile_pyramid(pts, levels=4).toPandas()
    assert sorted(pyr["level"].unique()) == [0, 1, 2, 3]
    for lvl in range(4):
        sub = pyr[pyr["level"] == lvl]
        assert sub["n_pages"].sum() == 400
        direct = (
            pts.select(
                F.expr(
                    f"((cell_id div {X_SPAN}) div {1 << lvl}) * {X_SPAN}"
                    f" + ((cell_id % {X_SPAN}) div {1 << lvl})"
                ).alias("cell_id")
            )
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .toPandas()
        )
        got = sub[["cell_id", "n_pages"]].sort_values("cell_id").reset_index(drop=True)
        want = direct.sort_values("cell_id").reset_index(drop=True)
        assert got["cell_id"].tolist() == want["cell_id"].tolist()
        assert got["n_pages"].tolist() == want["n_pages"].tolist()


def test_compact_cells_invertible(spark):
    """Compaction is lossless: uncompacting every (level, cell) back to
    its 4^level base descendants reproduces the original set exactly,
    and complete 2x2 blocks actually collapse."""
    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.tiling import X_SPAN, compact_cells

    # an 8-ALIGNED 8x8 solid block (fully compactable for 3 levels) +
    # scattered singles that must stay at level 0
    solid = [(96 + dy) * X_SPAN + (200 + dx) for dy in range(8) for dx in range(8)]
    single = [5 * X_SPAN + 7, 300 * X_SPAN + 9]
    df = spark.createDataFrame([(c,) for c in solid + single], "cell_id long")
    out = compact_cells(df, levels=3).collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r["level"], []).append(r["cell_id"])
    # the solid aligned 8x8 block collapses to ONE level-3 cell
    assert by_level.get(3) == [(96 // 8) * X_SPAN + (200 // 8)]
    assert sorted(by_level.get(0, [])) == sorted(single)
    assert 1 not in by_level and 2 not in by_level
    # uncompact: expand each (level, cell) to its base descendants
    expanded = set()
    for r in out:
        lvl, c = r["level"], r["cell_id"]
        y, x = c // X_SPAN, c % X_SPAN
        s = 1 << lvl
        for dy in range(s):
            for dx in range(s):
                expanded.add((y * s + dy) * X_SPAN + (x * s + dx))
    assert expanded == set(solid + single)


def test_zonal_stats_basic(spark):
    from pyspark.sql import functions as F

    from osm_poi_matchmaker_spark.operators.raster import zonal_stats

    cells = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 5), (4, 1)], "cell_id long, n_points long"
    )
    mask = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (9, "b")], "cell_id long, poly_id string"
    )
    got = {r["poly_id"]: r for r in zonal_stats(cells, mask).collect()}
    assert got["a"]["n_cells"] == 2 and got["a"]["total"] == 30
    assert got["a"]["mean"] == 15.0
    assert got["b"]["n_cells"] == 1 and got["b"]["v_min"] == 5
