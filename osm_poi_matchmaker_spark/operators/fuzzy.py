"""Tiered fuzzy-matching cascades (J7 street / J8 city).

Reference J8 (``dao/data_handlers.py:503-586``) resolves a dirty
(city_name, postcode) pair against the city dimension in 5 per-row SQL
stages: exact(name, zip) → soundex+trgm+lev+zip → trgm+lev+zip →
trgm+lev → zip-only. Spark rebuild: ONE broadcast join of the (small)
dimension against all inputs, every tier evaluated as a boolean column,
winner = min (tier, distance, key) window — the same all-tiers-at-once
shape as the match cascade.

Tier predicates here use Levenshtein (built-in, engine-portable);
trigram/metaphone variants plug into the same skeleton via extra
predicate columns (Python implementations in functions/textsim.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def fuzzy_street_match(
    points: DataFrame,
    roads: DataFrame,
    radius_m: float = 600.0,
    min_similarity: float = 0.49,
    max_lev: int = 5,
    top_k: int = 5,
    point_key: str = "page_id",
) -> DataFrame:
    """J7: top-k nearby roads whose name fuzzy-matches the input street.

    Reference (``dao/poi_base.py:871-944``): roads within 600 m where
    exact OR dmetaphone OR trigram similarity >= 0.49 OR levenshtein < 5;
    ``ORDER BY similarity DESC, distance ASC LIMIT 5``. Spark rebuild: a
    coarse-cell ring join bounds the radius; the name predicate and the
    pg_trgm-style similarity are pure column expressions
    (functions/textsim.py) — whole-stage codegen, no UDF. (dmetaphone has
    no portable implementation here; the predicate drops that one arm.)

    ``points``: (point_key, lat, lon, street); ``roads``: (road_id,
    road_name, lat, lon). Returns top_k per point with similarity, lev,
    distance; road_id breaks exact ties deterministically.
    """
    from ..functions.textsim import trigram_similarity
    from ..geo import haversine_m
    from ..tiling import coarse_cell_id, coarse_mult_for_radius, ring_join

    mult = coarse_mult_for_radius(radius_m)

    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("r_lat"), F.col("r_lon"))
    sim = trigram_similarity(F.col("street"), F.col("road_name"))
    lev = F.levenshtein(F.lower(F.col("street")), F.lower(F.col("road_name")))
    name_ok = (
        (F.lower(F.col("street")) == F.lower(F.col("road_name")))
        | (sim >= F.lit(min_similarity))
        | (lev < F.lit(max_lev))
    )
    # shuffle-shaped at scale (roads auto-broadcast only at test scale):
    # ring_join's shuffle side rule
    joined = (
        ring_join(
            points.select(point_key, "lat", "lon", "street"),
            roads.select(
                "road_id", "road_name", F.col("lat").alias("r_lat"), F.col("lon").alias("r_lon")
            ),
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("r_lat"), F.col("r_lon"), mult),
            broadcast_candidates=False,
        )
        .withColumn("distance", dist)
        .where((F.col("distance") < F.lit(radius_m)) & name_ok)
        .withColumn("similarity", F.round(sim, 6))
        .withColumn("lev", lev)
    )
    w = Window.partitionBy(point_key).orderBy(
        F.desc("similarity"), F.asc("distance"), F.asc("road_id")
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select(point_key, "road_id", "road_name", "similarity", "lev",
                F.round("distance", 2).alias("distance_m"), "rnk")
    )


def fuzzy_city_match(
    inputs: DataFrame,
    city_dim: DataFrame,
    max_lev: int = 2,
    input_key: str = "page_id",
) -> DataFrame:
    """inputs(input_key, city, postcode) × broadcast city_dim(city_id,
    city_name, city_post_code) → best (tier, lev, city_id) per input.

    Tiers (mirroring the reference cascade, minus the pg-only soundex/
    trgm stage which collapses into the lev tier):
      1 exact name + exact zip
      2 lev(name) <= max_lev + exact zip
      3 lev(name) <= max_lev
      4 exact zip only
    Unmatched inputs are dropped (reference returns None → row skipped).
    """
    joined = inputs.crossJoin(F.broadcast(city_dim))
    lev = F.levenshtein(F.lower(F.col("city")), F.lower(F.col("city_name")))
    name_eq = F.lower(F.col("city")) == F.lower(F.col("city_name"))
    zip_eq = F.col("postcode") == F.col("city_post_code")
    tier = (
        F.when(name_eq & zip_eq, 1)
        .when((lev <= max_lev) & zip_eq, 2)
        .when(lev <= max_lev, 3)
        .when(zip_eq, 4)
    )
    # Winner per input as min(struct) rather than a row_number window:
    # map-side partial combining ships one candidate per input through the
    # shuffle instead of every tier-qualifying (input, city) pair — in a
    # zip-dense dim the tier-4 arm alone can qualify dozens of cities per
    # input. (tier, lev, city_id) is the window's exact ordering; city_id
    # is unique so the trailing carried fields never decide.
    best = F.min(
        F.struct("tier", "lev", "city_id", "city_name", "city_post_code")
    ).alias("b")
    return (
        joined.withColumn("tier", tier)
        .where(F.col("tier").isNotNull())
        .withColumn("lev", lev)
        .groupBy(input_key)
        .agg(best)
        .select(
            input_key,
            F.col("b.city_id").alias("city_id"),
            F.col("b.city_name").alias("city_name"),
            F.col("b.city_post_code").alias("city_post_code"),
            F.col("b.tier").alias("tier"),
            F.col("b.lev").alias("lev"),
        )
    )
