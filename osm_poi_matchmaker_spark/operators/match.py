"""The match cascade — the reference's core operator, Spark-first.

Reference behavior (``dao/poi_base.py:149-793``): for EACH harvested POI it
runs up to 5 staged SQL queries against PostGIS, in descending specificity;
the first stage returning rows wins, and within a stage candidates are
ranked ``ORDER BY priority ASC, distance ASC`` and the top row taken
(``poi_base.py:742-744, 779-783``). One SQL round-trip per POI per stage —
the anti-pattern this engine exists to remove.

Spark rebuild: ALL pages are matched in one plan, as key rows and one
join. Every tier belongs to one arm, and an arm is an equality on
(arm, brand, attribute keys, cell):

  arm 1 (prio 930): additional-ref equality          (``poi_base.py:251-279``)
  arm 2 (prio 930): unique-name exact equality       (``poi_base.py:312-338``)
  arm 3 (prio 965): name ~ rx ∧ csn = ∧ city =       (``poi_base.py:376-406``)
  arm 4 (prio 940): name ∧ city ∧ street ∧ hn        (``poi_base.py:444-475``)
  arms 5, 6: stage 5, the radius query               (``poi_base.py:519-719``)
      arm 5, name, d_perfect-sized cell ring:
        prio 950: street ∧ hn,  dist < d_perfect
        prio 970: street ∨ hn,  dist < d_safe
        prio 980: name only,    dist < d_safe
      arm 6, ¬avoid-name, d_unsafe-sized cell ring (a ~25× finer grid):
        prio 990: dist < d_unsafe

The page side is one projection: each page looks its brand up in the
12-row dimension (a plan-time literal map, not a join) and emits one key
row per arm — attribute keys for arms 1-4, a cell for arms 5 and 6. The
candidate side is one projection too: :func:`_prep_pois` tags each POI
once with its brand-eligibility arrays, and one explode turns them into
(arm × brand) key rows, so brand compatibility is a JOIN KEY, not a
post-join filter. The two meet in ONE :func:`..tiling.ring_join` whose
per-row ring radius is 0 for the exact-key arms (which also key on cell
0) and 1 for the radius arms; which side carries the ring is
``ring_join``'s side rule. Attribute keys are plain string columns, so
a NULL part never matches, not even NULL against NULL. The haversine
and the tier CASE chain of each arm evaluate post-join, and a
min-struct aggregate (stage → priority → distance → osm_id) reproduces
"first non-empty stage wins, best (priority, distance) within stage"
exactly — with osm_id as the deterministic tie-break the reference
leaves to incidental row order. Every projection is SQL text: one JVM
round trip each, where a Column tree costs one per node.

Scale notes (100 TB): pages ≫ pois by many orders of magnitude (10^12
pages vs a country-level OSM POI extract, ~10^6 rows / a few hundred MB
columnar), so the candidate key rows are BROADCAST: the page side — the
100 TB side — is never shuffled by the cascade at all. The join is
map-side and feeds the min-struct aggregate, whose map-side partial
combine sees every arm of a page in one task, so the only full shuffle
is ~one row per page. At planet scale (10^8 POIs)
``match_cascade(..., broadcast_candidates=False)`` drops the hint (→ a
shuffle equi-join on the same keys, AQE skew-join splitting mega-cells)
and moves the ring explode to the candidate side. Winners are identical
on both paths (test_match_priority.py::test_shuffle_path_identical_winners).

On the shuffle path the unbounded attribute arms (2/3/4) are the
measured bottleneck — their join output grows as |pages-with-name| ×
|same-named POIs| (BENCH.md "Shuffle-degradation cascade").
``name_arm_radius_m`` bounds them by a coarse cell ring + exact distance
post-filter; an explicit, tested semantic relaxation (off by default —
the reference's unique-name stage is distance-unbounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import HAVERSINE_SQL
from ..tiling import coarse_cell_sql, coarse_mult_for_radius, coarse_ring_spec, ring_join

# Priorities exactly as the reference assigns them (dao/poi_base.py:254-683).
PRIO_REF = 930
PRIO_UNIQUE_NAME = 930  # stage 2 — same priority as stage 1; stage order breaks the tie
PRIO_NAME_CSN_CITY = 965
PRIO_NAME_FULL_ADDR = 940
PRIO_NAME_STREET_HN = 950
PRIO_NAME_PARTIAL = 970
PRIO_NAME_ONLY = 980
PRIO_NONAME = 990

# Tag predicate per brand type (analogue of ``utils/poitypes.py:15-96``).
_TYPE_SQL = {
    "shop": "shop IN ('convenience', 'supermarket')",
    "fuel": "amenity = 'fuel'",
    "post_office": "amenity = 'post_office'",
    "bank": "amenity = 'bank'",
    "railway_station": "railway = 'station'",
}


def type_predicate(poi_type: str) -> str:
    """SQL tag predicate of one brand type; an unknown type matches
    nothing. The type is a plan-time constant, so it is resolved here
    rather than compared as a literal in the plan."""
    return _TYPE_SQL.get(poi_type, "false")


def _sql_lit(v) -> str:
    """Spark SQL literal of a plan-time constant (string, bool, int, None)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(v)


def _prep_pois(pois: DataFrame, brand_specs: list) -> DataFrame:
    """Project candidates + precompute per-POI brand eligibility.

    The reference evaluates the tag predicate and ``LOWER(name) ~*
    LOWER(:name)`` inside every per-POI SQL probe (poi_base.py:193-211,
    utils/poitypes.py). Porting those naively puts a regex compile and a
    CASE chain on every JOINED row — catastrophic in mega-cells. Instead
    each candidate is tagged ONCE (12 literal-pattern rlikes + 12 tag
    checks, codegen-compiled once per task) with:

      type_hits     — brand ids whose tag predicate this POI satisfies
      cand_brands   — brand ids satisfying tag predicate AND name regex
      noname_brands — type_hits minus the brands whose avoid-name regex
                      matches (the 990 tier's ``!~*`` clause)

    plus pre-lowercased address keys, so the 10^7-row hot path is
    direct integer and string equality only.
    """
    # Stage the lowered name as a REAL column first: ``name_lc`` is
    # referenced by all ~24 rlikes below, and inlining the lower() into
    # each (what a single projection produces) re-runs the ICU case
    # mapping per reference — thread dumps showed Lower.execBinaryICU as
    # the top CPU frame of the build side. A multi-referenced non-cheap
    # alias is a projection boundary CollapseProject won't merge away.
    staged = pois.selectExpr(
        "osm_id",
        "node_type",
        "shop",
        "amenity",
        "railway",
        "ref_value",
        "lat AS o_lat",
        "lon AS o_lon",
        "lower(addr_city) AS lc_o_city",
        "lower(addr_street) AS lc_o_street",
        "lower(addr_housenumber) AS lc_o_hn",
        "lower(addr_conscriptionnumber) AS lc_o_csn",
        "lower(name) AS name_lc",
    )

    def brands(cond) -> str:
        """SQL array of the brand ids whose ``cond(rx, avoid_rx, type)`` holds."""
        whens = [
            f"CASE WHEN {cond(rx, av, pt)} THEN {int(pc)} END" for pc, rx, av, pt in brand_specs
        ]
        return f"array_compact(array({', '.join(whens)}))"

    def not_avoided(av) -> str:
        return f" AND NOT coalesce(name_lc RLIKE {_sql_lit(av)}, false)" if av else ""

    return staged.selectExpr(
        "osm_id",
        "node_type",
        "lc_o_city",
        "lc_o_street",
        "lc_o_hn",
        "lc_o_csn",
        "ref_value",
        "name_lc",
        "o_lat",
        "o_lon",
        brands(lambda rx, av, pt: type_predicate(pt)) + " AS type_hits",
        brands(lambda rx, av, pt: f"{type_predicate(pt)} AND name_lc RLIKE {_sql_lit(rx)}")
        + " AS cand_brands",
        brands(lambda rx, av, pt: type_predicate(pt) + not_avoided(av)) + " AS noname_brands",
    )


def _sql_map(pairs) -> str:
    """Spark SQL literal map of (key SQL, value SQL) pairs; a duplicate key
    fails the query (spark.sql.mapKeyDedupPolicy=EXCEPTION, the default)."""
    return "map(" + ", ".join(f"{k}, {v}" for k, v in pairs) + ")"


def _key_row(arm: int, keys: list, cell: str, ring: int, pre: str = "", brand: str = "") -> str:
    """SQL struct of one arm's key row: arm, [brand,] three attribute
    keys ('' pads the unused ones), cell, and the ring radius."""
    k1, k2, k3 = [*keys, "''", "''", "''"][:3]
    fields = [("arm", arm), *([("brand", brand)] if brand else []),
              ("k1", k1), ("k2", k2), ("k3", k3), ("cell", cell)]
    body = ", ".join(f"'{pre}{name}', {v}" for name, v in fields)
    return f"named_struct({body}, 'ring_k', {ring})"


def match_cascade(
    pages_geo: DataFrame,
    pois: DataFrame,
    common: DataFrame,
    brand_rows: list | None = None,
    broadcast_candidates: bool = True,
    name_arm_radius_m: float | None = None,
) -> DataFrame:
    """All pages × candidate OSM POIs → best match per page, as key rows
    and one join (see the module docstring).

    ``pages_geo``: output of :func:`..extract.geotag.geotag_pages`.
    Returns one row per matched page: page_id, osm_id, node_type, stage,
    priority, distance (meters, full precision — round at the edge),
    poi_code.
    ``brand_rows``: optional local copy of the dimension rows (mappings
    with pc_id/poi_code/poi_name/search_rx/avoid_rx/poi_type/d_*/ref_name)
    — skips the driver-side collect() of ``common`` when the caller
    already holds them. The rows become literals of the plan; a
    duplicate poi_name fails the query.
    ``broadcast_candidates``: True (default) = the country-scale plan,
    the candidate key rows are broadcast. False = the planet-scale
    degradation (10^8 POIs, a candidate side too big to broadcast): the
    join becomes a shuffle equi-join on the same keys. The ring explode
    side follows :func:`..tiling.ring_join`. Winners are identical
    either way (tested); only the physical strategy changes.

    ``name_arm_radius_m``: None (default) keeps the reference's semantics
    exactly — the attribute arms (unique-name 2, name+csn+city 3,
    name+address 4) are UNBOUNDED by distance (poi_base.py:312-338), so
    on the shuffle path their join output grows as
    |pages-with-name| × |same-named POIs|, the measured degradation
    bottleneck (BENCH.md "Shuffle-degradation cascade"). Setting a radius
    (e.g. 50_000.0) is an explicit SEMANTIC RELAXATION for planet-scale
    candidate sets: those arms additionally key on a coarse cell ring at
    that radius and post-filter ``distance < name_arm_radius_m``, so a
    mega-name key fans out only within its spatial bucket instead of
    globally. Arm 1 (additional-ref equality) stays unbounded — refs
    are near-unique keys with no blowup. Winners are identical to the
    unbounded plan whenever every true match lies within the radius
    (tested at fixture scale on both physical paths).
    """
    # 12-row dimension: plan-time constants (regex set, radii, brand
    # lookup), not a data dependency — same trick as the reference's
    # pc_id→type dict (online_poi_matching.py:44-45), resolved once per plan.
    rows = brand_rows if brand_rows is not None else common.collect()
    brand_specs = [(r["pc_id"], r["search_rx"], r["avoid_rx"], r["poi_type"]) for r in rows]
    brand_map = _sql_map(
        (
            _sql_lit(r["poi_name"]),
            f"named_struct('pc_id', {int(r['pc_id'])}, "
            f"'has_ref', {_sql_lit(r['ref_name'] is not None)}, "
            + ", ".join(f"'{d}', {_sql_lit(r[d])}" for d in ("d_perfect", "d_safe", "d_unsafe"))
            + ")",
        )
        for r in rows
    )
    code_map = _sql_map((int(r["pc_id"]), _sql_lit(r["poi_code"])) for r in rows)

    # One grid per cell-keyed arm group: the named radius tiers ring at the
    # d_perfect-sized grid, the no-name tier at the d_unsafe-sized one, the
    # bounded attribute arms at the name_arm_radius_m grid (wider ring if
    # that radius exceeds the coarsest pitch).
    grids = {
        "cell_a": coarse_mult_for_radius(max(r["d_perfect"] for r in rows)),
        "cell_b": coarse_mult_for_radius(max(r["d_unsafe"] for r in rows)),
    }
    exact = ("0L", 0)  # cell, ring radius of an unbounded attribute arm
    near = exact
    if name_arm_radius_m is not None:
        grids["cell_n"], k_near = coarse_ring_spec(name_arm_radius_m)
        near = ("cell_n", k_near)

    def bounded(prio: int) -> str:
        """Tier of an attribute arm, under the optional radius bound."""
        if name_arm_radius_m is None:
            return str(prio)
        return f"CASE WHEN distance < {float(name_arm_radius_m)!r} THEN {prio} END"

    named = (
        f"CASE WHEN s_eq AND h_eq AND distance < d_perfect THEN {PRIO_NAME_STREET_HN} "
        f"WHEN (s_eq OR h_eq) AND distance < d_safe THEN {PRIO_NAME_PARTIAL} "
        f"WHEN distance < d_safe THEN {PRIO_NAME_ONLY} END"
    )
    # arm: (page keys, candidate brand array, candidate keys, (cell, ring), tier)
    arms = {
        1: (["CASE WHEN b.has_ref THEN ref END"], "type_hits", ["ref_value"], exact,
            str(PRIO_REF)),
        2: (["lc_uname"], "type_hits", ["name_lc"], near, bounded(PRIO_UNIQUE_NAME)),
        3: (["lc_csn", "lc_city"], "cand_brands", ["lc_o_csn", "lc_o_city"], near,
            bounded(PRIO_NAME_CSN_CITY)),
        4: (["lc_city", "lc_street", "lc_hn"], "cand_brands",
            ["lc_o_city", "lc_o_street", "lc_o_hn"], near, bounded(PRIO_NAME_FULL_ADDR)),
        5: ([], "cand_brands", [], ("cell_a", 1), named),
        6: ([], "noname_brands", [], ("cell_b", 1),
            f"CASE WHEN distance < d_unsafe THEN {PRIO_NONAME} END"),
    }

    def cells(lat: str, lon: str) -> list:
        return [f"{coarse_cell_sql(lat, lon, m)} AS {c}" for c, m in grids.items()]

    # No persist() inside the operator: caching is the CALLER's checkpoint
    # decision (bench.py / plans/pipeline.py persist the geotagged
    # extract). An operator-internal persist leaks one cache entry per
    # invocation, and under storage pressure the LRU evicts dead blocks
    # to disk. The page side below is one slim projection of the
    # caller's extract: url/name/raw-address columns never enter it.
    pages = pages_geo.selectExpr(
        "page_id",
        "lat",
        "lon",
        "ref",
        f"{brand_map}[name] AS b",
        "lower(uname) AS lc_uname",
        "lower(city) AS lc_city",
        "lower(street) AS lc_street",
        "lower(housenumber) AS lc_hn",
        "lower(csn) AS lc_csn",
        *cells("lat", "lon"),
    ).where("b IS NOT NULL")
    page_keys = pages.selectExpr(
        "page_id",
        "lat",
        "lon",
        "lc_street",
        "lc_hn",
        "b.pc_id AS brand",
        "b.d_perfect AS d_perfect",
        "b.d_safe AS d_safe",
        "b.d_unsafe AS d_unsafe",
        "inline(array("
        + ", ".join(_key_row(a, pk, *cr) for a, (pk, _, _, cr, _) in arms.items())
        + "))",
    )
    cand_keys = _prep_pois(pois, brand_specs).selectExpr("*", *cells("o_lat", "o_lon")).selectExpr(
        "osm_id",
        "node_type",
        "o_lat",
        "o_lon",
        "lc_o_street",
        "lc_o_hn",
        "inline(flatten(array("
        + ", ".join(
            f"transform({brands}, pc -> {_key_row(a, ck, *cr, pre='o_', brand='pc')})"
            for a, (_, brands, ck, cr, _) in arms.items()
        )
        + ")))",
    )
    joined = ring_join(
        page_keys,
        cand_keys,
        F.col("cell"),
        F.col("o_cell"),
        k="ring_k",
        on=F.expr("arm = o_arm AND brand = o_brand AND k1 = o_k1 AND k2 = o_k2 AND k3 = o_k3"),
        broadcast_candidates=broadcast_candidates,
    )
    tier = "CASE arm " + " ".join(f"WHEN {a} THEN {t[4]}" for a, t in arms.items()) + " END"
    scored = joined.selectExpr(
        "page_id",
        "osm_id",
        "node_type",
        "arm",
        "brand",
        HAVERSINE_SQL.format(lat1="lat", lon1="lon", lat2="o_lat", lon2="o_lon") + " AS distance",
        "lc_street = lc_o_street AS s_eq",
        "lc_hn = lc_o_hn AS h_eq",
        "d_perfect",
        "d_safe",
        "d_unsafe",
    ).selectExpr(
        "page_id", "osm_id", "node_type", "least(arm, 5) AS stage", f"{tier} AS priority",
        "distance", "brand AS cand_pc",
    ).where("priority IS NOT NULL")

    # "first non-empty stage wins; within stage ORDER BY priority, distance"
    # (poi_base.py:720-786) + deterministic osm_id tie-break.
    #
    # Expressed as min(struct(...)) rather than a row_number window: the
    # struct's lexicographic order IS the cascade order, and an aggregate
    # gets map-side partial combining — each shuffle partition ships one
    # candidate per page instead of every candidate. At mega-cell densities
    # that is the difference between shuffling millions and thousands.
    # pc_id → poi_code is one literal map lookup on the winner.
    return (
        scored.groupBy("page_id")
        .agg(F.expr("min(struct(stage, priority, distance, osm_id, node_type, cand_pc)) AS b"))
        .selectExpr(
            "page_id",
            "b.osm_id AS osm_id",
            "b.node_type AS node_type",
            "b.stage AS stage",
            "b.priority AS priority",
            "b.distance AS distance",
            f"{code_map}[b.cand_pc] AS poi_code",
        )
    )


def match_pages(
    pages_geo: DataFrame,
    pois: DataFrame,
    common: DataFrame,
    brand_rows: list | None = None,
    broadcast_candidates: bool = True,
    name_arm_radius_m: float | None = None,
) -> DataFrame:
    """Full outcome table: every geotagged page, matched or new.

    ``poi_new`` mirrors the reference's unmatched → new-POI flag
    (``libs/online_poi_matching.py:64, 334``).
    """
    best = match_cascade(
        pages_geo, pois, common, brand_rows=brand_rows,
        broadcast_candidates=broadcast_candidates,
        name_arm_radius_m=name_arm_radius_m,
    )
    return (
        pages_geo.select("page_id", "url", "name", "lat", "lon", "cell_id")
        .join(best, "page_id", "left")
        .withColumn("poi_new", F.col("osm_id").isNull())
    )  # carries the winner's poi_code (NULL for new POIs)
