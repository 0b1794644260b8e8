"""Inverse-distance-weighted spatial interpolation (IDW, Shepard 1968).

The conflation pipeline's read-side twin: given POIs carrying a numeric
attribute (opening-hours coverage score, review density, sensor value),
estimate the field at every page location from its in-radius neighbors.
One cell-ring radius join (the operators/knn.py layout:
:func:`..tiling.ring_join` into a broadcast candidate table) and one
partial-agg groupBy —
the page side never shuffles more than one row per page.

Weights are the BOUNDED variant ``w = 1 / (1 + d²)`` (d in the unit of
``scale_m``): classic ``1/d^p`` is singular at d=0, and coincident
page/POI coordinates are legal inputs — the bounded kernel keeps every
operation finite and IEEE-deterministic, so the DuckDB oracle computes
the identical estimate without case-splitting the exact-hit path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import haversine_m
from ..tiling import coarse_cell_id, coarse_mult_for_radius, ring_join


def idw_interpolate(
    targets: DataFrame,
    sources: DataFrame,
    radius_m: float,
    value: str = "value",
    target_key: str = "page_id",
    scale_m: float = 100.0,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Estimate ``value`` at each target from in-radius sources.

    ``targets`` needs (target_key, lat, lon); ``sources`` needs
    (value, lat, lon). Returns (target_key, n_sources, est) for targets
    with ≥1 source in range (inner semantics — callers left-join for
    the misses, as with kNN).

    ``broadcast_candidates=False``: planet-scale path — shuffle
    equi-join on the ring cell, ring side per
    :func:`..tiling.ring_join`. The contributing (target, source) pair set is
    identical by ring symmetry; ``est`` agrees up to floating-point
    summation order (the shuffle path may fold partials in a different
    order), so the parity test compares n_sources exactly and est to
    1e-9 relative tolerance.
    """
    mult = coarse_mult_for_radius(radius_m)
    cand = sources.select(
        F.col(value).cast("double").alias("v"),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
    )
    d = haversine_m(F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon"))
    ds = d / F.lit(float(scale_m))
    w = F.lit(1.0) / (F.lit(1.0) + ds * ds)
    return (
        ring_join(
            targets.select(target_key, "lat", "lon"),
            cand,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("s_lat"), F.col("s_lon"), mult),
            broadcast_candidates=broadcast_candidates,
        )
        .where(d < F.lit(float(radius_m)))
        .groupBy(target_key)
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            (F.sum(F.col("v") * w) / F.sum(w)).alias("_est"),
        )
        .select(target_key, "n_sources", F.round("_est", 6).alias("est"))
    )
