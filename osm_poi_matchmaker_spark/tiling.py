"""Equal-angle tiling layer — the spatial join key of the whole engine.

The reference (osm_poi_matchmaker) matches each POI with per-row PostGIS
queries guarded by GiST indexes (``libs/osm_prepare.py:14-90``,
``dao/poi_base.py:519-719``). At 10^12-page scale the analogue is a
cell-keyed distributed join: every point gets a cell id, candidate sets are
restricted to a k-ring of cells around the point, and the cell id doubles
as the table layout key (partition/bucket column) so Catalyst prunes scans.

We use an equal-angle grid instead of true H3/S2 (the h3 lib is not
available here, and an arithmetic grid keeps the cell id a pure column
expression — no UDF, no shuffle-side Python). Resolution is chosen so the
cell size matches H3 res-9 (~174 m hex edge):

    step   = 1/640 degree  → lat pitch 173.9 m; lon pitch 115–122 m over
             the Hungarian bbox (lat 45.7–48.6).
    x      = floor((lon + 180) * 640)   in [0, 230400)  < 2^18
    y      = floor((lat +  90) * 640)   in [0, 115200)  < 2^17
    cell   = y * 2^18 + x               (fits comfortably in int64)

Everything is exact IEEE double arithmetic — the identical formula is
reproducible in any ANSI SQL engine, which is how the DuckDB oracles in
``__spark_entry__.py`` validate it.

k-ring expansion (the reference's search-radius analogue,
``dao/poi_base.py:528`` ``ST_DistanceSphere(way, point) < :distance``) is an
``explode`` over (dx, dy) offsets — a built-in UDTF, no Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRID_MULT = 640.0  # cells per degree (1/640° ≈ H3 res-9 pitch)
X_SPAN = 1 << 18  # row-major stride: cell = y * X_SPAN + x
# Minimum metric cell dimension over the Hungarian bbox: lon pitch at the
# northernmost latitude 48.6°N = 111320 * cos(48.6°) / 640 = 115.0 m.
MIN_CELL_METERS = 115.0


def coarse_cell_sql(lat: str, lon: str, mult: int) -> str:
    """SQL text of :func:`coarse_cell_id` over the SQL expressions ``lat``
    and ``lon``: the same IEEE double arithmetic, valid in Spark SQL and
    DuckDB alike. One ``F.expr`` of it is one JVM round trip, where the
    Column form costs one per operator node."""
    m = float(mult)
    return (
        f"(CAST(FLOOR(({lat} + 90.0) * {m}) AS BIGINT) * {X_SPAN} "
        f"+ CAST(FLOOR(({lon} + 180.0) * {m}) AS BIGINT))"
    )


# SQL fragment mirrored by the DuckDB oracles (keep in sync with cell_id()).
CELL_ID_SQL = coarse_cell_sql("{lat}", "{lon}", int(GRID_MULT))


def cell_x(lon: Column) -> Column:
    return F.floor((lon + F.lit(180.0)) * F.lit(GRID_MULT)).cast("long")


def cell_y(lat: Column) -> Column:
    return F.floor((lat + F.lit(90.0)) * F.lit(GRID_MULT)).cast("long")


def cell_id(lat: Column, lon: Column) -> Column:
    """int64 cell id for a WGS84 point. Pure column expression."""
    return cell_y(lat) * F.lit(X_SPAN) + cell_x(lon)


def cell_of(df: DataFrame, lat: str = "lat", lon: str = "lon", out: str = "cell_id") -> DataFrame:
    return df.withColumn(out, cell_id(F.col(lat), F.col(lon)))


def kring_k_for_radius(radius_m: float) -> int:
    """Smallest k such that a k-ring of cells covers a metric radius.

    +1 guards the case where the query point sits on a cell border. The
    guarantee (every point within radius_m of p lies in kring(cell(p), k))
    is property-tested in tests/test_tiling.py.
    """
    return int(math.ceil(radius_m / MIN_CELL_METERS)) + 1


# ---------------------------------------------------------------------------
# Coarse multi-resolution cells: radius-sized cells + a fixed 3×3 ring.
#
# A fine-cell k-ring at radius 300 m costs an 81× fan-out; at 10^12 pages
# that IS the shuffle bottleneck. Instead, radius-bounded joins pick a
# coarser grid whose minimum cell pitch >= the radius, so a 3×3 ring (9×
# fan-out, constant) is guaranteed to cover it. The binding dimension over
# the Hungarian bbox is the lon pitch at 48.6°N: 111320*cos(48.6°)/mult
# = 73616/mult meters.
# ---------------------------------------------------------------------------
MAX_LON_METERS_PER_DEG = 73616.0  # at the northern edge of the HU bbox


def _coarse_grid(radius_m: float, max_lat: float) -> tuple[int, float]:
    """(mult, pitch): the finest power-of-two cells-per-degree whose
    pitch at the HU northern edge is >= ``radius_m`` (mult 1 at the
    coarsest), and that grid's longitude pitch in meters AT ``max_lat``
    (pitch shrinks by cos(lat)/cos(48.6°))."""
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    mult = 512
    while mult > 1 and MAX_LON_METERS_PER_DEG / mult < radius_m:
        mult //= 2
    pitch_at_lat = (
        MAX_LON_METERS_PER_DEG / mult
    ) * math.cos(math.radians(max_lat)) / math.cos(math.radians(48.6))
    return mult, pitch_at_lat


def coarse_mult_for_radius(radius_m: float, max_lat: float = 48.6) -> int:
    """Largest power-of-two cells-per-degree whose min pitch >= radius_m.

    Longitude pitch shrinks by cos(lat), so ring completeness at
    latitude L needs ``radius_m <= (MAX_LON_METERS_PER_DEG / mult) *
    cos(L) / cos(48.6°)`` (MAX_LON_METERS_PER_DEG is the pitch×mult at
    the HU northern edge, 48.6°N). ``max_lat`` is the caller's promise
    about the data extent: the selected grid is checked against the
    pitch AT that latitude and a marginal radius fails LOUDLY instead
    of silently dropping near-pitch pairs (radii that brush the pitch —
    e.g. 300 m on the 434 m/256 grid → 287 m at 48.5°N — used to MISS
    pairs with no runtime signal). Callers at higher latitudes pass
    their own ``max_lat``; callers at marginal radii drop to the next
    coarser grid or shrink the radius (see poi_dbscan @400/mult128 and
    brand_colocation @250/mult256 for worked margins)."""
    mult, pitch_at_lat = _coarse_grid(radius_m, max_lat)
    if radius_m > pitch_at_lat:
        raise ValueError(
            f"radius {radius_m} m exceeds the {pitch_at_lat:.1f} m grid pitch "
            f"at latitude {max_lat}° (mult {mult}); the 3x3 ring would miss "
            "near-pitch pairs — shrink the radius or the latitude extent"
        )
    return mult


def coarse_cell_id(lat: Column, lon: Column, mult: int) -> Column:
    """Cell id on a coarser grid (same row-major layout, X_SPAN stride).

    Ids are only comparable within one ``mult`` namespace — every ring join
    uses a single mult on both sides.
    """
    y = F.floor((lat + F.lit(90.0)) * F.lit(float(mult))).cast("long")
    x = F.floor((lon + F.lit(180.0)) * F.lit(float(mult))).cast("long")
    return y * F.lit(X_SPAN) + x


def coarse_ring_spec(radius_m: float, max_lat: float = 48.6) -> tuple[int, int]:
    """(mult, k): grid + smallest Chebyshev ring radius covering
    ``radius_m`` at ``max_lat``. k=1 (the 3×3 ring) whenever the radius
    fits the pitch — the common case, identical to
    :func:`coarse_mult_for_radius`; larger radii get a wider
    (2k+1)×(2k+1) ring instead of a silent near-pitch miss (two points
    at distance d span at most ``floor(d/pitch)+1`` cells per axis).
    Use this for radius parameters a caller may legitimately set beyond
    the mult=1 pitch (e.g. match_cascade's name-arm bound); use the
    strict function when a marginal radius means the OPERATOR's grid
    choice is wrong."""
    mult, pitch_at_lat = _coarse_grid(radius_m, max_lat)
    return mult, int(radius_m // pitch_at_lat) + 1


def ring_offsets(k: int) -> list[int]:
    """Cell-id offsets of the (2k+1)×(2k+1) ring within Chebyshev
    distance ``k`` of a cell (row-major, X_SPAN stride; k=1 is the 3×3
    ring) — the one offset list every ring join and streaming probe
    uses."""
    return [dy * X_SPAN + dx for dy in range(-k, k + 1) for dx in range(-k, k + 1)]


def explode_ring(df: DataFrame, cell: Column, k: int | str, out: str) -> DataFrame:
    """One row per cell of the k-ring around ``cell``, in column ``out``.

    The cell is computed once per row as a column, and the explode only
    adds each offset to it: in the ``transform`` lambda body a cell
    expression would be re-evaluated for every offset. Fan-out is
    (2k+1)² rows per input row; the 0-ring is the cell itself, so
    k=0 adds the cell column and explodes nothing.

    ``k`` may instead name an int column holding each row's own ring
    radius (0 for an exact-key row: one row, the cell itself); the
    offsets are then :func:`ring_offsets` of that radius, built per row
    in the same row-major order."""
    df = df.withColumn(out, cell)
    if k == 0:
        return df
    if isinstance(k, str):
        offsets = (
            f"flatten(transform(sequence(-{k}, {k}), dy -> "
            f"transform(sequence(-{k}, {k}), dx -> dy * {X_SPAN}L + dx)))"
        )
    else:
        offsets = f"array({', '.join(map(str, ring_offsets(k)))})"
    return df.withColumn(out, F.expr(f"explode(transform({offsets}, o -> {out} + o))"))


def ring_join(
    probe: DataFrame,
    cand: DataFrame,
    probe_cell: Column,
    cand_cell: Column,
    k: int | str = 1,
    on: Column | None = None,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """THE radius join: every (probe, candidate) pair whose cells lie
    within ``k`` ring steps of each other, keyed ``probe_cell ==
    cand_cell`` (AND ``on`` when given, so extra equality keys become
    hash keys of the same join). ``probe_cell``/``cand_cell`` are the
    two sides' cell expressions on ONE grid; the result carries both
    frames' columns plus ``probe_cell`` and ``cand_cell``. Distance,
    tier and winner logic stay with the caller. ``k`` is the ring
    radius, or the name of an int column BOTH sides carry with each
    row's own radius (see :func:`explode_ring`): one join can then mix
    exact-key rows (radius 0) with ring rows; the column is dropped from
    both sides once the ring is exploded.

    Which side carries the (2k+1)² ring explode is decided here and
    nowhere else. Both sides are valid — a point is within k ring steps
    of a candidate's cell iff the candidate is within k steps of the
    point's cell, so exploding either side yields the identical pair
    set — and the choice is a measured tradeoff, not a principle:

    * ``broadcast_candidates=True`` (country-scale plan): explode the
      PROBE side and broadcast the unexploded candidates. The hash
      relation stays 9× smaller and cache-resident; the 9 extra probes
      per row are pipelined in-task (the explode feeds the broadcast
      probe directly, no shuffle) and mostly hit empty cells. A
      control-bracketed interleaved A/B of the full 3.84M-page match
      cascade at 8 pinned cores measured probe-side at 74.8/83.2/99.1 s
      vs candidate-side at 101.2/87.0/90.7 s (min 74.8 vs 87.0, each
      pass bracketed by a pure-CPU host-drift control) — the fat
      9×-exploded hash relation costs more than the extra probes save,
      at every parallelism level tried (2/8/32).
    * ``broadcast_candidates=False`` (planet-scale degradation, or a
      join that is shuffle-shaped at scale): explode the CANDIDATE side
      and add no hint. Probe-side explode would put 9× of the huge
      page-derived side through the exchange; candidate-side puts 9×
      of the small side.
    * ``None`` (self-joins and small probe batches): explode the probe
      side, add no hint — the optimizer picks the join strategy.
    """
    if broadcast_candidates is False:
        probe = probe.withColumn("probe_cell", probe_cell)
        cand = explode_ring(cand, cand_cell, k, "cand_cell")
    else:
        probe = explode_ring(probe, probe_cell, k, "probe_cell")
        cand = cand.withColumn("cand_cell", cand_cell)
    if isinstance(k, str):
        probe, cand = probe.drop(k), cand.drop(k)
    if broadcast_candidates:
        cand = F.broadcast(cand)
    key = F.col("probe_cell") == F.col("cand_cell")
    return probe.join(cand, key if on is None else key & on)


def tile_pyramid(
    points: DataFrame, cell: str = "cell_id", levels: int = 4
) -> DataFrame:
    """Multi-resolution tile-count pyramid (the hypertable-rollup /
    vector-tile-pyramid shape; generalizes the reference's per-table
    admin rollups in ``dao/poi_base.py`` to a tiling hierarchy).

    Level 0 is the base-grid histogram; level L halves both axes L
    times (``x >> L``, ``y >> L`` of the row-major id). The point table
    is scanned and shuffled exactly ONCE (the level-0 partial-agg
    groupBy); coarser levels then come from exploding ``levels``
    parent ids per already-reduced base cell and re-aggregating — a
    second shuffle over levels × |occupied cells| rows, which is tiny
    next to the point count. (A per-level union of cascaded aggs reads
    nicer but physically re-scans the source once per level unless the
    base is materialized — this shape never does.)

    Returns (level:int, cell_id:long, n_pages:long). Ids are only
    comparable within one level.
    """
    base = points.groupBy(F.col(cell).alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    # one (level, parent_id) struct per level, derived from the base id
    # by exact integer halving (ids are non-negative)
    lvl_structs = F.array(
        *[
            F.struct(
                F.lit(lvl).alias("level"),
                F.expr(
                    f"((cell_id div {X_SPAN}) div {1 << lvl}) * {X_SPAN}"
                    f" + ((cell_id % {X_SPAN}) div {1 << lvl})"
                ).alias("pcell"),
            )
            for lvl in range(levels)
        ]
    )
    return (
        base.select(F.explode(lvl_structs).alias("lp"), "n_pages")
        .groupBy(
            F.col("lp.level").alias("level"), F.col("lp.pcell").alias("cell_id")
        )
        .agg(F.sum("n_pages").alias("n_pages"))
    )


def compact_cells(occupied: DataFrame, cell: str = "cell_id", levels: int = 3) -> DataFrame:
    """Minimal multi-resolution cover of an occupied cell set — the
    H3 ``compact`` analogue on the row-major grid: wherever all four
    children of a half-resolution parent are present, the parent
    replaces them, applied ``levels`` times bottom-up. Coverage masks
    shrink by the density of their solid interiors (a country-scale
    water/admin mask compacts its lake interiors to a handful of coarse
    cells while coastlines stay fine) — smaller mask = smaller
    broadcast/bucket table for coverage_join.

    Shape per level: one groupBy(parent) over the CURRENT level's cells
    (count == 4 → promote) + one anti-join to keep unpromoted cells —
    everything is sized by occupied cells, shrinking per level; the
    level count bounds the rounds. Deterministic (pure set algebra).
    Returns (level:int, cell_id:long) — ids in each level's own
    namespace, exactly invertible by uncompacting each parent to its
    4^level descendants.
    """
    cur = occupied.select(F.col(cell).alias("cell_id")).distinct()
    out = None
    for lvl in range(levels):
        parent = (
            F.expr(f"(cell_id div {X_SPAN}) div 2") * F.lit(X_SPAN)
            + F.expr(f"(cell_id % {X_SPAN}) div 2")
        )
        tagged = cur.withColumn("_p", parent)
        promoted = (
            tagged.groupBy("_p").agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") == 4)
            .select(F.col("_p"))
        )
        kept = tagged.join(promoted, "_p", "left_anti").select("cell_id")
        lvl_rows = kept.select(F.lit(lvl).alias("level"), "cell_id")
        out = lvl_rows if out is None else out.unionByName(lvl_rows)
        cur = promoted.select(F.col("_p").alias("cell_id"))
    return out.unionByName(cur.select(F.lit(levels).alias("level"), "cell_id"))


def hotspot_cells(
    points: DataFrame,
    cell: str = "cell_id",
    factor: tuple[int, int] = (2, 1),
    min_count: int = 2,
) -> DataFrame:
    """Spatial hotspot detection: cells whose point count exceeds
    ``factor`` × the mean of their 3×3 ring (a Getis-Ord-style local
    statistic kept integer-exact: ``cnt * 8 * f_den > f_num * ring_sum``
    cross-multiplies the mean away, so the DuckDB oracle hashes
    identically — empty neighbors count as zero mass, exactly what the
    populated-neighbors ring sum already encodes).

    Scale shape: one partial-agg groupBy(cell) over the points (the only
    shuffle that sees point-count rows), then a fixed 8× explode of the
    OCCUPIED-cell histogram re-aggregated by neighbor id and joined back
    — every later stage is sized by occupied cells, not points. No
    window over a global ordering, no driver collection.

    Returns (cell_id, n_points, ring_sum, n_neighbors, is_peak) for
    hotspot cells only; ``is_peak`` marks strict local maxima.
    """
    f_num, f_den = factor
    counts = points.groupBy(F.col(cell).alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    x = F.col("cell_id") % F.lit(X_SPAN)
    y = F.expr(f"cell_id div {X_SPAN}")
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    ring = (
        counts.select(
            F.explode(offs).alias("o"), x.alias("x"), y.alias("y"), "n_points"
        )
        .where(
            (F.col("x") + F.col("o.dx") >= 0)
            & (F.col("x") + F.col("o.dx") < X_SPAN)
            & (F.col("y") + F.col("o.dy") >= 0)
        )
        .select(
            (
                (F.col("y") + F.col("o.dy")) * F.lit(X_SPAN)
                + F.col("x")
                + F.col("o.dx")
            ).alias("ncell"),
            "n_points",
        )
        .groupBy("ncell")
        .agg(
            F.sum("n_points").alias("ring_sum"),
            F.count(F.lit(1)).alias("n_neighbors"),
            F.max("n_points").alias("max_neighbor"),
        )
    )
    return (
        counts.join(ring, counts.cell_id == ring.ncell, "left")
        .where(
            (F.col("n_points") >= min_count)
            & (
                F.col("n_points") * F.lit(8 * f_den)
                > F.lit(f_num) * F.coalesce(F.col("ring_sum"), F.lit(0))
            )
        )
        .select(
            "cell_id",
            "n_points",
            F.coalesce(F.col("ring_sum"), F.lit(0)).alias("ring_sum"),
            F.coalesce(F.col("n_neighbors"), F.lit(0)).alias("n_neighbors"),
            (
                F.col("n_points") > F.coalesce(F.col("max_neighbor"), F.lit(0))
            ).alias("is_peak"),
        )
    )


_BINOM5 = (1, 4, 6, 4, 1)  # 5-tap binomial = discrete Gaussian, sum 16


def kde_smooth(points: DataFrame, cell: str = "cell_id") -> DataFrame:
    """Kernel-density smoothing of the cell histogram — the raster twin
    of hotspot detection, kept INTEGER-exact: the separable 5×5
    binomial kernel (outer product of 1-4-6-4-1, total mass 256) stands
    in for a Gaussian, and the smoothed value is reported as
    ``kde_mass_256`` = Σ w(dx,dy)·count(cell+d) in 1/256 units — BIGINT
    all the way, so the DuckDB oracle hashes identically (the standard
    GIS "heatmap layer" without a single float).

    Scale shape (same as hotspot_cells): one partial-agg groupBy(cell)
    over the points, then a fixed 25× explode of the OCCUPIED-cell
    histogram re-aggregated by target cell — all later stages sized by
    occupied cells, not points. Grid-edge guards keep x from wrapping
    rows. Returns (cell_id, n_points, kde_mass_256) for every cell that
    receives mass (n_points = 0 for empty cells under the kernel's
    skirt).
    """
    counts = points.groupBy(F.col(cell).alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    x = F.col("cell_id") % F.lit(X_SPAN)
    y = F.expr(f"cell_id div {X_SPAN}")
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(_BINOM5[dx + 2] * _BINOM5[dy + 2]).alias("w"),
            )
            for dy in (-2, -1, 0, 1, 2)
            for dx in (-2, -1, 0, 1, 2)
        ]
    )
    spread = (
        counts.select(
            F.explode(offs).alias("o"), x.alias("x"), y.alias("y"), "n_points"
        )
        .where(
            (F.col("x") + F.col("o.dx") >= 0)
            & (F.col("x") + F.col("o.dx") < X_SPAN)
            & (F.col("y") + F.col("o.dy") >= 0)
        )
        .select(
            (
                (F.col("y") + F.col("o.dy")) * F.lit(X_SPAN)
                + F.col("x")
                + F.col("o.dx")
            ).alias("tcell"),
            (F.col("n_points") * F.col("o.w")).alias("mass"),
        )
        .groupBy("tcell")
        .agg(F.sum("mass").cast("bigint").alias("kde_mass_256"))
    )
    return spread.join(
        counts, spread.tcell == counts.cell_id, "left"
    ).select(
        F.col("tcell").alias("cell_id"),
        F.coalesce("n_points", F.lit(0)).alias("n_points"),
        "kde_mass_256",
    )


def kde_pyramid(points: DataFrame, cell: str = "cell_id", levels: int = 4) -> DataFrame:
    """Multi-zoom heatmap pyramid: the :func:`kde_smooth` base layer
    downsampled ``levels`` times by exact mass summation (a coarser
    tile's heat is the sum of its children's — the standard heatmap
    downsample; re-smoothing per level would change the kernel, not the
    picture, and cost a scan each). Same single-scan cascade shape as
    :func:`tile_pyramid`: the point table is touched once (inside
    kde_smooth), every later stage is sized by occupied cells × levels.

    Returns (level:int, cell_id:long, kde_mass_256:long) —
    integer-exact at every level, ids comparable only within a level.
    """
    base = kde_smooth(points, cell).select("cell_id", "kde_mass_256")
    lvl_structs = F.array(
        *[
            F.struct(
                F.lit(lvl).alias("level"),
                F.expr(
                    f"((cell_id div {X_SPAN}) div {1 << lvl}) * {X_SPAN}"
                    f" + ((cell_id % {X_SPAN}) div {1 << lvl})"
                ).alias("parent"),
            )
            for lvl in range(levels)
        ]
    )
    return (
        base.select(F.explode(lvl_structs).alias("l"), "kde_mass_256")
        .groupBy(
            F.col("l.level").alias("level"), F.col("l.parent").alias("cell_id")
        )
        .agg(F.sum("kde_mass_256").cast("bigint").alias("kde_mass_256"))
    )


# ---------------------------------------------------------------------------
# Quadkey tile addressing (round 4): Bing-style base-4 tile keys over the
# engine's EQUAL-ANGLE grid (tx = floor((lon+180)/360 · 2^z),
# ty = floor((90−lat)/180 · 2^z)) — the interop read-off an XYZ/quadkey
# tile server consumes. Using the equal-angle grid (not Web-Mercator)
# keeps every coordinate → tile mapping pure rational arithmetic: no
# tan/ln whose last-ulp differences between the JVM and C libm could
# flip a floor at a tile boundary, so the DuckDB oracle is exact — and
# it is the same family of grids the rest of tiling.py (pyramids, KDE,
# compact_cells) already uses. The quadkey string's defining property
# holds regardless of projection: a tile's key is PREFIXED by every
# ancestor's key, so zoom-out aggregation is substr().
# ---------------------------------------------------------------------------


def tile_xy(lat: Column, lon: Column, zoom: int) -> tuple[Column, Column]:
    n = 1 << zoom
    tx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    ty = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n))).cast("long")
    # clamp the poles/antimeridian edge (lat == -90 / lon == 180)
    tx = F.least(tx, F.lit(n - 1))
    ty = F.least(ty, F.lit(n - 1))
    return tx, ty


def quadkey(lat: Column, lon: Column, zoom: int) -> Column:
    """Base-4 quadkey string of the zoom-``zoom`` tile containing the
    point: digit i (MSB first) = 2·bit_i(ty) + bit_i(tx)."""
    tx, ty = tile_xy(lat, lon, zoom)
    digits = [
        (
            F.shiftright(ty, i).bitwiseAND(F.lit(1)) * F.lit(2)
            + F.shiftright(tx, i).bitwiseAND(F.lit(1))
        ).cast("string")
        for i in range(zoom - 1, -1, -1)
    ]
    return F.concat(*digits)


def quadkey_tiles(
    df: DataFrame,
    zoom: int = 12,
    parent_zoom: int = 6,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-point tile addressing: (… input key columns …, tile_x,
    tile_y, quadkey, parent_quadkey, tile bounds). ``parent_quadkey``
    is a substr of ``quadkey`` (the ancestor-prefix property), so any
    zoom-out rollup is a groupBy on a string prefix — no re-derivation
    from coordinates."""
    n = 1 << zoom
    tx, ty = tile_xy(F.col(lat), F.col(lon), zoom)
    qk = quadkey(F.col(lat), F.col(lon), zoom)
    lon_min = tx.cast("double") * F.lit(360.0 / n) - F.lit(180.0)
    lat_max = F.lit(90.0) - ty.cast("double") * F.lit(180.0 / n)
    return df.select(
        "*",
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        qk.alias("quadkey"),
        F.substring(qk, 1, parent_zoom).alias("parent_quadkey"),
        F.round(lon_min, 9).alias("tile_lon_min"),
        F.round(lon_min + F.lit(360.0 / n), 9).alias("tile_lon_max"),
        F.round(lat_max - F.lit(180.0 / n), 9).alias("tile_lat_min"),
        F.round(lat_max, 9).alias("tile_lat_max"),
    )
