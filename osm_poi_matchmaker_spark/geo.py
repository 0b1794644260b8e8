"""Geometry column functions — coordinate hygiene + spherical distance.

Reimplements the semantics of the reference's ``libs/geo.py`` as vectorized
column expressions (the reference applies them one record at a time during
harvest):

- ``check_hu_boundary``   → :func:`fix_hu_coordinates`
  (swap lat/lon when lat < 44; re-insert a missing decimal point when a
  coordinate is > 200 — reference ``libs/geo.py:71-93``)
- ``check_geom`` coordinate regex + comma decimals (``libs/geo.py:15,25-68``)
  → :func:`parse_coordinate`
- ``ST_DistanceSphere``   → :func:`haversine_m`

The reference builds WKT as ``POINT(lat lon)`` — latitude first
(``libs/geo.py:20``), a documented quirk we preserve in :func:`wkt_point`
for export parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0

# Reference PATTERN_COORDINATE = r'[\d]{1,3}.[\d]{2,5}'  (libs/geo.py:15)
# NOTE: the '.' is an unescaped any-char in the reference — preserved.
COORD_PATTERN = r"(\d{1,3}.\d{2,5})"


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (spherical earth, R=6371000).

    Matches PostGIS ``ST_DistanceSphere`` to well under the reference's
    tightest 5 m threshold. Pure column math → whole-stage codegen.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


# SQL text of haversine_m (identical op order, identical bits): the DuckDB
# oracles mirror it, and the match and knn plans are built from it — one
# F.expr is one JVM round trip, the Column form one per operator node.
HAVERSINE_SQL = (
    "(2.0 * 6371000.0 * ASIN(SQRT("
    "SIN(RADIANS({lat2} - {lat1}) / 2.0) * SIN(RADIANS({lat2} - {lat1}) / 2.0) "
    "+ COS(RADIANS({lat1})) * COS(RADIANS({lat2})) "
    "* SIN(RADIANS({lon2} - {lon1}) / 2.0) * SIN(RADIANS({lon2} - {lon1}) / 2.0))))"
)


def parse_coordinate(raw: Column) -> Column:
    """String coordinate → double, per reference ``check_geom`` semantics:

    comma decimal → dot, then extract the first ``\\d{1,3}.\\d{2,5}`` run;
    anything that doesn't match → NULL.
    """
    normalized = F.regexp_replace(F.trim(raw), ",", ".")
    extracted = F.regexp_extract(normalized, COORD_PATTERN, 1)
    return F.when(extracted == "", None).otherwise(extracted.cast("double"))


def _repoint(c: Column) -> Column:
    """Missing-decimal-point fix (reference ``libs/geo.py:81-90``).

    The reference slices the SOURCE STRING: ``'{}.{}'.format(s[:2], s[3:])``
    — keep 2 digits, DROP the 3rd, dot, rest — and if the result carries
    more than one dot it keeps only the integer part
    (``'.'.join(parts[0:1])``, :83-86 — a quirk preserved here). Sources
    hit this path with integer strings like ``'47123456'``, so integral
    doubles are rendered via bigint (``cast<string>`` on a double would
    give ``'4.7123456E7'`` and slice garbage)."""
    digits = F.when(c == F.floor(c), c.cast("bigint").cast("string")).otherwise(
        c.cast("string")
    )
    tail = digits.substr(F.lit(4), F.length(digits))
    return F.when(
        c > 200.0,
        F.when(tail.contains("."), F.substring(digits, 1, 2))
        .otherwise(F.concat(F.substring(digits, 1, 2), F.lit("."), tail))
        .cast("double"),
    ).otherwise(c)


def fix_hu_coordinates(lat: Column, lon: Column) -> tuple[Column, Column]:
    """Vectorized ``check_hu_boundary`` (reference ``libs/geo.py:71-93``).

    1. Sources sometimes swap lat/lon: Hungarian latitudes are 45.7-48.6,
       so lat < 44 means swapped → swap back.
    2. Missing decimal point (e.g. ``47123456`` for ``47.123456``): value
       > 200 → re-insert the point after the 2nd digit.
    Zero/NULL coordinates → NULL (reference returns (None, None)).

    Both returned expressions read the INPUT columns — assign them in one
    ``select`` (atomically), never via chained ``withColumn`` where the
    second assignment would resolve against the already-swapped first.
    Prefer :func:`with_fixed_hu_coordinates` which stages this safely.
    """
    bad = lat.isNull() | lon.isNull() | (lat == 0.0) | (lon == 0.0)
    swapped = lat < 44.0
    lat1 = F.when(swapped, lon).otherwise(lat)
    lon1 = F.when(swapped, lat).otherwise(lon)
    return (
        F.when(bad, None).otherwise(_repoint(lat1)),
        F.when(bad, None).otherwise(_repoint(lon1)),
    )


def with_fixed_hu_coordinates(df, lat: str = "lat", lon: str = "lon"):
    """``check_hu_boundary`` over a DataFrame, staged across two projections.

    Stage 1 nulls bad pairs and swaps atomically (both outputs read the raw
    inputs — the previous single-chain form resolved the lon swap against
    the already-swapped lat); stage 2 applies the decimal-repoint. The
    stage boundary also keeps each generated method small: inlining the
    swap CASE into every repoint reference blew Janino's 64KB codegen
    limit and forced interpreted execution (Spark keeps the projections
    separate because the swapped columns are expensive and referenced more
    than once, so CollapseProject declines to merge them).
    """
    la, lo = F.col(lat), F.col(lon)
    bad = la.isNull() | lo.isNull() | (la == 0.0) | (lo == 0.0)
    swapped = la < 44.0
    others = [c for c in df.columns if c not in (lat, lon)]
    df = df.select(
        *others,
        F.when(bad, None).otherwise(F.when(swapped, lo).otherwise(la)).alias(lat),
        F.when(bad, None).otherwise(F.when(swapped, la).otherwise(lo)).alias(lon),
    )
    return df.select(
        *others, _repoint(F.col(lat)).alias(lat), _repoint(F.col(lon)).alias(lon)
    )


def in_hu_bbox(lat: Column, lon: Column) -> Column:
    """Hungary bounding box per reference ``dataproviders/hu_alltheplaces.py:70-72``."""
    return (lat >= 45.7) & (lat <= 48.6) & (lon >= 16.1) & (lon <= 22.9)


def wkt_point(lat: Column, lon: Column) -> Column:
    """Reference-parity WKT: ``POINT(lat lon)`` — latitude FIRST, preserving
    the ``libs/geo.py:18-22`` argument-order quirk (documented, not a bug
    here: exports must byte-match)."""
    return F.when(
        lat.isNotNull() & lon.isNotNull(),
        F.concat(F.lit("POINT("), lat.cast("string"), F.lit(" "), lon.cast("string"), F.lit(")")),
    )


def polyline_length_m(nodes, lat_of, lon_of) -> Column:
    """Geodesic length (meters) of a node-id polyline, fully ROW-LOCAL:
    ``nodes`` is an ``array<bigint>`` column, ``lat_of``/``lon_of`` map a
    node-id Column to coordinate Columns (a lookup-free id→coord scheme,
    or pre-joined coords). Segment distances are summed left-to-right
    with :func:`haversine_m` inside one ``aggregate`` fold — no explode,
    no join, no shuffle: at 10^8 ways the plan is a single codegen'd
    projection. (The reference walks way geometries per matched way
    through PostGIS, online_poi_matching.py:213-223.)"""
    n = F.size(nodes)
    seg = lambda i: haversine_m(  # noqa: E731
        lat_of(F.element_at(nodes, i)),
        lon_of(F.element_at(nodes, i)),
        lat_of(F.element_at(nodes, i + 1)),
        lon_of(F.element_at(nodes, i + 1)),
    )
    # guard: sequence(1, 0) would DESCEND in Spark, not be empty
    return F.when(
        n >= 2,
        F.aggregate(
            F.sequence(F.lit(1), n - 1),
            F.lit(0.0),
            lambda acc, i: acc + seg(i),
        ),
    ).otherwise(F.lit(0.0))
