"""Building relocation for new POIs (J3, ``dao/poi_base.py:795-849`` +
``libs/online_poi_matching.py:334-367``).

Reference: an unmatched (new) POI whose street+housenumber matches a
building polygon within 60 m is moved onto that building — the target
point is derived from the POI name's first character:

    ibp = abs(1 - ((ord(first_char) // 16 + 1) / 17))      (:344-353)

(The reference interpolates along the intersection of the
centroid→POI line with the building outline via
``ST_LineInterpolatePoint``; without a geometry engine we interpolate on
the centroid→POI segment itself — same determinism, same inputs,
documented deviation.)

Spark rebuild: a coarse-cell ring join (60 m radius, shuffle-shaped:
buildings are ~10^8 rows planet-wide, so no broadcast hint) with
street/hn equality folded into the join keys +
nearest-1 min-struct aggregate, then pure-arithmetic coordinate
interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import haversine_m
from ..tiling import coarse_cell_id, coarse_mult_for_radius, ring_join


def interpolation_fraction(name_col) -> F.Column:
    """The reference's name-derived interpolation fraction (ibp)."""
    code = F.ascii(F.substring(name_col, 1, 1))
    return F.abs(F.lit(1.0) - ((F.floor(code / 16) + 1).cast("double") / F.lit(17.0)))


def relocate_new_pois(
    new_pois: DataFrame,
    buildings: DataFrame,
    radius_m: float = 60.0,
    point_key: str = "page_id",
) -> DataFrame:
    """new_pois(point_key, name, lat, lon, street, housenumber) ×
    buildings(building_id, b_street, b_housenumber, lat, lon) →
    (point_key, building_id, new_lat, new_lon, distance).

    Only rows with a qualifying building are returned (reference leaves
    the POI untouched otherwise)."""
    mult = coarse_mult_for_radius(radius_m)
    # Street + housenumber equality is part of the join condition so
    # Catalyst extracts all three as hash keys — only same-address pairs
    # materialize.
    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("b_lat"), F.col("b_lon"))
    joined = (
        ring_join(
            new_pois.select(point_key, "name", "lat", "lon", "street", "housenumber"),
            buildings.select(
                "building_id",
                "b_street",
                "b_housenumber",
                F.col("lat").alias("b_lat"),
                F.col("lon").alias("b_lon"),
            ),
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("b_lat"), F.col("b_lon"), mult),
            on=(F.lower(F.col("street")) == F.lower(F.col("b_street")))
            & (F.lower(F.col("housenumber")) == F.lower(F.col("b_housenumber"))),
            broadcast_candidates=False,
        )
        .withColumn("distance", dist)
        .where(F.col("distance") < F.lit(radius_m))
    )
    # Nearest-1 as min(struct): map-side partial combine ships one winner
    # per point per shuffle partition (vs a row_number window shuffling
    # every in-radius same-address pair). building_id is unique, so the
    # (distance, building_id) prefix decides; the rest is carried payload.
    best_s = F.min(
        F.struct("distance", "building_id", "b_lat", "b_lon", "name", "lat", "lon")
    ).alias("b")
    best = joined.groupBy(point_key).agg(best_s).select(
        point_key,
        F.col("b.building_id").alias("building_id"),
        F.col("b.b_lat").alias("b_lat"),
        F.col("b.b_lon").alias("b_lon"),
        F.col("b.name").alias("name"),
        F.col("b.lat").alias("lat"),
        F.col("b.lon").alias("lon"),
        F.col("b.distance").alias("distance"),
    )
    ibp = interpolation_fraction(F.col("name"))
    return best.select(
        point_key,
        "building_id",
        F.round((F.col("b_lat") + (F.col("lat") - F.col("b_lat")) * ibp), 9).alias("new_lat"),
        F.round((F.col("b_lon") + (F.col("lon") - F.col("b_lon")) * ibp), 9).alias("new_lon"),
        F.round("distance", 2).alias("distance_m"),
    )
