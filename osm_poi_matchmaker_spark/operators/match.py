"""The match cascade — the reference's core operator, Spark-first.

Reference behavior (``dao/poi_base.py:149-793``): for EACH harvested POI it
runs up to 5 staged SQL queries against PostGIS, in descending specificity;
the first stage returning rows wins, and within a stage candidates are
ranked ``ORDER BY priority ASC, distance ASC`` and the top row taken
(``poi_base.py:742-744, 779-783``). One SQL round-trip per POI per stage —
the anti-pattern this engine exists to remove.

Spark rebuild: ALL pages are matched in one plan —

  stage 1 (prio 930): additional-ref equality        (``poi_base.py:251-279``)
  stage 2 (prio 930): unique-name exact equality     (``poi_base.py:312-338``)
  stage 3 (prio 965): name ~ rx ∧ csn = ∧ city =     (``poi_base.py:376-406``)
  stage 4 (prio 940): name ∧ city ∧ street ∧ hn      (``poi_base.py:444-475``)
  stage 5: the radius query, 5 arms in one join      (``poi_base.py:519-719``)
      prio 950: name ∧ street ∧ hn,  dist < d_perfect
      prio 970: name ∧ street,       dist < d_safe
      prio 970: name ∧ hn,           dist < d_safe
      prio 980: name,                dist < d_safe
      prio 990: ¬avoid-name,         dist < d_unsafe

Stages 1/2/3/4 are distance-free attribute joins → plain shuffle equi-joins
on composite keys. Stage 5 is a radius join → coarse-cell 3×3 ring joins
keyed on (brand, cell): the candidate side explodes its precomputed
per-POI brand-eligibility arrays (see _prep_pois) so brand compatibility
is a JOIN KEY, not a post-join filter — the join emits only compatible
pairs instead of every page×candidate pair sharing a cell. Which side
carries the 3×3 ring is :func:`..tiling.ring_join`'s side rule (with its
measured A/B). The named tiers (950/970/980) ring at the d_perfect-sized
grid; the no-name tier (990, d < 5 m) rings at a ~25× finer grid its tiny
radius permits. The haversine + tier predicates evaluate post-join as codegen'd column
expressions. A min-struct aggregate (stage → priority → distance →
osm_id) then reproduces "first non-empty stage wins, best (priority,
distance) within stage" exactly — with osm_id as the deterministic
tie-break the reference leaves to incidental row order.

Scale notes (100 TB): pages ≫ pois by many orders of magnitude (10^12
pages vs a country-level OSM POI extract, ~10^6 rows / a few hundred MB
columnar), so every arm BROADCASTS the prepared candidate side: the page
side — the 100 TB side — is never shuffled by the cascade at all. Each
arm is a map-side join feeding the min-struct aggregate, whose map-side
partial combine means the only full shuffle in the plan is ~one row per
page. At planet scale (10^8 POIs) the identical plan degrades
gracefully: ``match_cascade(..., broadcast_candidates=False)`` drops the
hints (→ shuffle equi-joins on the same composite keys, AQE skew-join
splitting mega-cells) and moves the ring explode to the candidate side
(``ring_join``'s side rule). Winners are identical on
both paths (test_match_priority.py::test_shuffle_path_identical_winners).
The 12-row brand dim is always broadcast.

On the shuffle path the unbounded attribute arms (s2/s3/s4) are the
measured bottleneck — their join output grows as |pages-with-name| ×
|same-named POIs| (BENCH.md "Shuffle-degradation cascade").
``name_arm_radius_m`` bounds them by a coarse cell ring + exact distance
post-filter; an explicit, tested semantic relaxation (off by default —
the reference's unique-name stage is distance-unbounded).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..geo import haversine_m
from ..tiling import coarse_cell_id, coarse_mult_for_radius, coarse_ring_spec, ring_join

# Priorities exactly as the reference assigns them (dao/poi_base.py:254-683).
PRIO_REF = 930
PRIO_UNIQUE_NAME = 930  # stage 2 — same priority as stage 1; stage order breaks the tie
PRIO_NAME_CSN_CITY = 965
PRIO_NAME_FULL_ADDR = 940
PRIO_NAME_STREET_HN = 950
PRIO_NAME_PARTIAL = 970
PRIO_NAME_ONLY = 980
PRIO_NONAME = 990

MATCH_OUT_COLS = ("page_id", "osm_id", "node_type", "stage", "priority", "distance")


def type_predicate(poi_type: str, shop: Column, amenity: Column, railway: Column) -> Column:
    """Tag predicate of one brand type (analogue of
    ``utils/poitypes.py:15-96``); an unknown type matches nothing. The
    type is a plan-time constant, so it is resolved here rather than
    compared as a literal in the plan. Only that one predicate is built:
    each Column is a round trip to the JVM, paid per brand per plan."""
    if poi_type == "shop":
        return shop.isin("convenience", "supermarket")
    if poi_type in ("fuel", "post_office", "bank"):
        return amenity == poi_type
    if poi_type == "railway_station":
        return railway == "station"
    return F.lit(False)


def with_common(pages_geo: DataFrame, common: DataFrame) -> DataFrame:
    """J1: attach the brand dimension (broadcast — create_db.py:253-256)."""
    return pages_geo.join(F.broadcast(common), pages_geo.name == common.poi_name, "inner")


def _prep_pois(pois: DataFrame, brand_specs: list) -> DataFrame:
    """Project candidates + precompute per-POI brand eligibility.

    The reference evaluates the tag predicate and ``LOWER(name) ~*
    LOWER(:name)`` inside every per-POI SQL probe (poi_base.py:193-211,
    utils/poitypes.py). Porting those naively puts a regex compile and a
    CASE chain on every JOINED row — catastrophic in mega-cells. Instead
    each candidate is tagged ONCE (12 literal-pattern rlikes + 12 tag
    checks, codegen-compiled once per task) with:

      type_hits   — brand ids whose tag predicate this POI satisfies
      cand_brands — brand ids satisfying tag predicate AND name regex
      avoid_hits  — brand ids whose avoid-name regex matches

    plus pre-lowercased address keys, so the 10^7-row hot path is integer
    ``array_contains`` + direct string equality only.
    """
    # Stage the lowered name as a REAL column first: ``name_lc`` is
    # referenced by all ~24 rlike whens below, and inlining the lower()
    # into each (what a single select produces) re-runs the ICU case
    # mapping per reference — thread dumps showed Lower.execBinaryICU as
    # the top CPU frame of the build side. A multi-referenced non-cheap
    # alias is a projection boundary CollapseProject won't merge away.
    staged = pois.select(
        "osm_id",
        "node_type",
        "shop",
        "amenity",
        "railway",
        "ref_value",
        "lat",
        "lon",
        F.lower(F.col("addr_city")).alias("lc_o_city"),
        F.lower(F.col("addr_street")).alias("lc_o_street"),
        F.lower(F.col("addr_housenumber")).alias("lc_o_hn"),
        F.lower(F.col("addr_conscriptionnumber")).alias("lc_o_csn"),
        F.lower(F.col("name")).alias("name_lc"),
    )
    name_lc = F.col("name_lc")
    shop, amenity, railway = F.col("shop"), F.col("amenity"), F.col("railway")

    def type_ok(ptype: str):
        return type_predicate(ptype, shop, amenity, railway)

    type_hits = F.array_compact(
        F.array(
            *[F.when(type_ok(pt), F.lit(int(pc))) for pc, _, _, pt in brand_specs]
        )
    )
    cand_brands = F.array_compact(
        F.array(
            *[
                F.when(type_ok(pt) & name_lc.rlike(rx), F.lit(int(pc)))
                for pc, rx, _, pt in brand_specs
            ]
        )
    )
    avoid_pairs = [(pc, av) for pc, _, av, _ in brand_specs if av]
    avoid_hits = (
        F.array_compact(
            F.array(*[F.when(name_lc.rlike(av), F.lit(int(pc))) for pc, av in avoid_pairs])
        )
        if avoid_pairs
        else F.array().cast("array<int>")
    )
    return staged.select(
        "osm_id",
        "node_type",
        "lc_o_city",
        "lc_o_street",
        "lc_o_hn",
        "lc_o_csn",
        "ref_value",
        "name_lc",
        F.col("lat").alias("o_lat"),
        F.col("lon").alias("o_lon"),
        type_hits.alias("type_hits"),
        cand_brands.alias("cand_brands"),
        avoid_hits.alias("avoid_hits"),
    )


def match_cascade(
    pages_geo: DataFrame,
    pois: DataFrame,
    common: DataFrame,
    brand_rows: list | None = None,
    broadcast_candidates: bool = True,
    name_arm_radius_m: float | None = None,
) -> DataFrame:
    """All pages × candidate OSM POIs → best match per page.

    ``pages_geo``: output of :func:`..extract.geotag.geotag_pages`.
    Returns one row per matched page: page_id, osm_id, node_type, stage,
    priority, distance (meters, full precision — round at the edge).
    ``brand_rows``: optional local copy of the dimension rows (mappings
    with pc_id/search_rx/avoid_rx/poi_type/d_perfect) — skips the
    driver-side collect() job when the caller already holds them.
    ``broadcast_candidates``: True (default) = the country-scale plan,
    every arm broadcasts the prepared candidate side. False = the
    planet-scale degradation (10^8 POIs, a candidate side too big to
    broadcast): the arms become shuffle equi-joins on the same composite
    keys. The ring explode side follows :func:`..tiling.ring_join`.
    Winners are identical either way (tested); only the physical
    strategy changes.

    ``name_arm_radius_m``: None (default) keeps the reference's semantics
    exactly — the attribute arms (unique-name s2, name+csn+city s3,
    name+address s4) are UNBOUNDED by distance (poi_base.py:312-338), so
    on the shuffle path their join output grows as
    |pages-with-name| × |same-named POIs|, the measured degradation
    bottleneck (BENCH.md "Shuffle-degradation cascade"). Setting a radius
    (e.g. 50_000.0) is an explicit SEMANTIC RELAXATION for planet-scale
    candidate sets: those arms additionally key on a coarse cell ring at
    that radius and post-filter ``distance < name_arm_radius_m``, so a
    mega-name key fans out only within its spatial bucket instead of
    globally. Stage 1 (additional-ref equality) stays unbounded — refs
    are near-unique keys with no blowup. Winners are identical to the
    unbounded plan whenever every true match lies within the radius
    (tested at fixture scale on both physical paths).
    """
    # 12-row dimension: plan-time constants (regex set, max radius), not a
    # data dependency — same trick as the reference's pc_id→type dict
    # (online_poi_matching.py:44-45), but resolved once per plan.
    common_rows = brand_rows if brand_rows is not None else common.collect()
    brand_specs = [
        (r["pc_id"], r["search_rx"], r["avoid_rx"], r["poi_type"]) for r in common_rows
    ]
    max_radius = max(r["d_perfect"] for r in common_rows)
    # No persist() inside the operator: caching is the CALLER's checkpoint
    # decision (bench.py / scaling_bench.py / plans/pipeline.py persist the
    # geotagged extract). An operator-internal persist leaks one cache
    # entry per invocation — under storage pressure the LRU evicts dead
    # MEMORY_AND_DISK blocks *to disk*, and repeated cascade calls turn
    # into an I/O storm. Re-deriving this slim projection from the
    # caller's cached extract is a broadcast join + lower() per arm —
    # memory-bandwidth cheap.
    #
    # Slim projection: the arms touch only the join keys, coordinates, and
    # per-brand radii — url/name/raw-address columns are dead weight the
    # optimizer could not prune through a persist boundary.
    p = with_common(pages_geo, common).select(
        "page_id",
        "lat",
        "lon",
        "ref",
        "csn",
        "pc_id",
        "ref_name",
        "d_perfect",
        "d_safe",
        "d_unsafe",
        "avoid_rx",
        F.lower(F.col("uname")).alias("lc_uname"),
        F.lower(F.col("city")).alias("lc_city"),
        F.lower(F.col("street")).alias("lc_street"),
        F.lower(F.col("housenumber")).alias("lc_hn"),
        F.lower(F.col("csn")).alias("lc_csn"),
    )
    # Candidate side: pages ≫ pois by construction (10^12 pages vs the OSM
    # POI extract — ~10^6 rows for a country, a few hundred MB columnar),
    # so every arm BROADCASTS the prepared candidates: the page side — the
    # 100 TB side — is never shuffled by the cascade at all; each arm is a
    # map-side join feeding the partial (map-combined) min-struct
    # aggregate, and the only full shuffle in the whole plan is ~one row
    # per page into that aggregate. At planet scale (10^8 POIs) the same
    # plan degrades gracefully: drop the hint and the cell-bucketed layout
    # turns the arms into co-located shuffle joins instead.
    o = _prep_pois(pois, brand_specs)

    def _cand(df: DataFrame) -> DataFrame:
        # broadcast hint only on the country-scale path; without it the
        # optimizer picks sort-merge/shuffled-hash on the composite keys
        return F.broadcast(df) if broadcast_candidates else df

    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("o_lat"), F.col("o_lon"))

    def ring(probe: DataFrame, cand: DataFrame, mult: int, k: int, on: Column) -> DataFrame:
        """Page × candidate radius join on the ``mult`` grid."""
        return ring_join(
            probe,
            cand,
            coarse_cell_id(F.col("lat"), F.col("lon"), mult),
            coarse_cell_id(F.col("o_lat"), F.col("o_lon"), mult),
            k,
            on=on,
            broadcast_candidates=broadcast_candidates,
        )

    avoid_ok = F.when(
        F.col("avoid_rx").isNotNull(),
        ~F.coalesce(F.array_contains(F.col("avoid_hits"), F.col("pc_id")), F.lit(False)),
    ).otherwise(F.lit(True))

    # Every arm folds brand eligibility INTO its equi-join key by exploding
    # the candidate-side eligibility arrays (see _prep_pois): o_type for
    # tag-predicate arms (s1, s5b), o_name for tag ∧ name-regex arms
    # (s3, s4, s5a). Joining on (pc_id, <attribute keys>) means only
    # brand-compatible pairs ever materialize — with synthetic/real hot
    # address keys the alternative (join on address, filter brand after)
    # emits orders of magnitude more intermediate rows, and that memory
    # traffic was the measured scaling bottleneck.
    o_type = o.withColumn("cand_pc", F.explode("type_hits"))
    o_name = o.withColumn("cand_pc", F.explode("cand_brands"))

    def arm(df: DataFrame, stage: int, priority: int) -> DataFrame:
        return df.select(
            "page_id",
            "osm_id",
            "node_type",
            F.lit(stage).alias("stage"),
            F.lit(priority).alias("priority"),
            dist.alias("distance"),
            "cand_pc",
        )

    # -- stage 1: additional-ref equality (930) — pure equi-join, no radius
    s1 = arm(
        p.where(F.col("ref").isNotNull() & F.col("ref_name").isNotNull()).join(
            _cand(o_type.where(F.col("ref_value").isNotNull())),
            (F.col("ref") == F.col("ref_value")) & (F.col("pc_id") == F.col("cand_pc")),
        ),
        1,
        PRIO_REF,
    )

    def attr_arm(probe: DataFrame, cand: DataFrame, cond: Column, stage: int, prio: int) -> DataFrame:
        """Attribute-keyed arm, optionally spatially bounded (see docstring)."""
        if name_arm_radius_m is None:
            return arm(probe.join(_cand(cand), cond), stage, prio)
        # the bound is a caller-chosen relaxation radius, legitimately
        # settable beyond the mult=1 grid pitch — coarse_ring_spec widens
        # the ring ((2k+1)² cells) instead of missing near-pitch pairs
        joined = ring(probe, cand, *coarse_ring_spec(name_arm_radius_m), on=cond)
        return arm(joined.where(dist < F.lit(float(name_arm_radius_m))), stage, prio)

    # -- stage 2: unique-name exact equality (930, poi_base.py:312-338) —
    # LOWER(name) = LOWER(:unique_name) under the tag predicate, no radius
    s2 = attr_arm(
        p.where(F.col("lc_uname").isNotNull()),
        o_type,
        (F.col("lc_uname") == F.col("name_lc")) & (F.col("pc_id") == F.col("cand_pc")),
        2,
        PRIO_UNIQUE_NAME,
    )

    # -- stage 3: name + conscriptionnumber + city (965)
    s3 = attr_arm(
        p.where(F.col("csn").isNotNull()),
        o_name.where(F.col("lc_o_csn").isNotNull()),
        (F.col("lc_csn") == F.col("lc_o_csn"))
        & (F.col("lc_city") == F.col("lc_o_city"))
        & (F.col("pc_id") == F.col("cand_pc")),
        3,
        PRIO_NAME_CSN_CITY,
    )

    # -- stage 4: name + city + street + housenumber (940)
    s4 = attr_arm(
        p,
        o_name,
        (F.col("lc_city") == F.col("lc_o_city"))
        & (F.col("lc_street") == F.col("lc_o_street"))
        & (F.col("lc_hn") == F.col("lc_o_hn"))
        & (F.col("pc_id") == F.col("cand_pc")),
        4,
        PRIO_NAME_FULL_ADDR,
    )

    # -- stage 5: the radius query — (brand, cell) equi-joins.
    #
    # The naive form (cell-only join + post-join brand predicate) joins
    # every page against every candidate in its 3×3 ring — ~670 candidates
    # per page at hotspot densities, i.e. the join OUTPUT is the shuffle
    # bottleneck at 10^12 pages. Folding the brand predicate INTO the join
    # key fixes that: the candidate side explodes its per-POI eligibility
    # array into (brand, cell) keys, so the join emits only
    # brand-compatible pairs. Two arms, because the tiers have radically
    # different radii:
    #
    #   5a (named tiers 950/970/980): key = (pc_id, cell@radius(d_perfect)).
    #      Exploding cand_brands (type ∧ name-regex, ~1 brand/POI) makes
    #      every post-join name/type predicate unnecessary.
    #   5b (no-name tier 990, d < d_unsafe = 5 m): key =
    #      (pc_id ∈ type_hits, cell@radius(d_unsafe)) — the 5 m radius
    #      permits a ~25× finer grid than d_perfect's, shrinking ring
    #      candidate sets by the same factor.
    #
    # A candidate that qualifies for a named tier may now ALSO emit a 990
    # row from 5b (the old single-arm when-chain suppressed it); that row
    # sorts strictly after the named row in the min-struct, so winners are
    # unchanged.
    d = F.col("distance")

    # Ring side and hint: ring_join's side rule (tiling.py).
    prio_a = (
        F.when(F.col("s_eq") & F.col("h_eq") & (d < F.col("d_perfect")), PRIO_NAME_STREET_HN)
        .when((F.col("s_eq") | F.col("h_eq")) & (d < F.col("d_safe")), PRIO_NAME_PARTIAL)
        .when(d < F.col("d_safe"), PRIO_NAME_ONLY)
    )
    brand_key = F.col("pc_id") == F.col("cand_pc")
    s5a = (
        ring(p, o_name, coarse_mult_for_radius(max_radius), 1, on=brand_key)
        .withColumn("distance", dist)
        .withColumn("s_eq", F.col("lc_street") == F.col("lc_o_street"))
        .withColumn("h_eq", F.col("lc_hn") == F.col("lc_o_hn"))
        .withColumn("priority", prio_a)
        .where(F.col("priority").isNotNull())
        .select(
            "page_id", "osm_id", "node_type",
            F.lit(5).alias("stage"), "priority", "distance", "cand_pc",
        )
    )

    min_unsafe = max(r["d_unsafe"] for r in common_rows)
    s5b = (
        ring(p, o_type, coarse_mult_for_radius(min_unsafe), 1, on=brand_key)
        .withColumn("distance", dist)
        .where(avoid_ok & (d < F.col("d_unsafe")))
        .select(
            "page_id", "osm_id", "node_type",
            F.lit(5).alias("stage"), F.lit(PRIO_NONAME).alias("priority"),
            "distance", "cand_pc",
        )
    )

    all_arms = (
        s1.unionByName(s2).unionByName(s3).unionByName(s4).unionByName(s5a).unionByName(s5b)
    )

    # "first non-empty stage wins; within stage ORDER BY priority, distance"
    # (poi_base.py:720-786) + deterministic osm_id tie-break.
    #
    # Expressed as min(struct(...)) rather than a row_number window: the
    # struct's lexicographic order IS the cascade order, and an aggregate
    # gets map-side partial combining — each shuffle partition ships one
    # candidate per page instead of every candidate. At mega-cell densities
    # that is the difference between shuffling millions and thousands.
    best = F.min(
        F.struct("stage", "priority", "distance", "osm_id", "node_type", "cand_pc")
    ).alias("b")
    # pc_id → poi_code as ONE literal map lookup (JVM-side; the dimension
    # is known while building the plan, same convention as the
    # regex/radius literals above — a map keeps the expression tree flat
    # where a 12-branch CASE chain would deepen every plan copy)
    pc_map = F.create_map(
        *[
            lit
            for r in common_rows
            for lit in (F.lit(r["pc_id"]), F.lit(r["poi_code"]))
        ]
    )
    pc_to_code = pc_map[F.col("b.cand_pc")]
    return all_arms.groupBy("page_id").agg(best).select(
        "page_id",
        F.col("b.osm_id").alias("osm_id"),
        F.col("b.node_type").alias("node_type"),
        F.col("b.stage").alias("stage"),
        F.col("b.priority").alias("priority"),
        F.col("b.distance").alias("distance"),
        pc_to_code.alias("poi_code"),
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
