"""One fixture per cascade tier: a single page and a single POI that only
that tier can match, so a dropped arm or a wrong tier chain shows up as
a missing or wrong ``(stage, priority)`` — on both physical paths. Plus
the NULL-key rule: a missing attribute never matches, not even a
missing one on the other side."""

from __future__ import annotations

import pytest

from osm_poi_matchmaker_spark import synth
from osm_poi_matchmaker_spark.operators.match import match_cascade

LAT, LON = 47.5, 19.04
M = 1.0 / 111194.0  # degrees latitude per meter

_PAGES_SCHEMA = (
    "page_id long, name string, lat double, lon double, city string,"
    " street string, housenumber string, csn string, ref string, uname string"
)
_POIS_SCHEMA = (
    "osm_id long, node_type string, name string, shop string, amenity string,"
    " railway string, addr_city string, addr_street string,"
    " addr_housenumber string, addr_conscriptionnumber string,"
    " addr_postcode string, ref_value string, lat double, lon double"
)


def page(name, city=None, street=None, hn=None, csn=None, ref=None, uname=None):
    return (1, name, LAT, LON, city, street, hn, csn, ref, uname)


def poi(name, dist_m, shop=None, railway=None, city=None, street=None, hn=None,
        csn=None, ref=None):
    return (10, "node", name, shop, None, railway, city, street, hn, csn, None, ref,
            LAT + dist_m * M, LON)


# tier: (page, POI, (stage, priority)); every POI outside its fixture's
# tier sits beyond the radius tiers (1 km) or fails their keys
TIERS = {
    "930_ref": (
        page("MAV allomas", ref="R7"),
        poi("Keleti", 1000.0, railway="station", ref="R7"),
        (1, 930),
    ),
    "930_unique_name": (
        page("Spar", uname="Hall 2"),
        poi("Hall 2", 1000.0, shop="convenience"),
        (2, 930),
    ),
    "965_name_csn_city": (
        page("Spar", city="Pest", csn="12"),
        poi("Spar", 1000.0, shop="convenience", city="Pest", csn="12"),
        (3, 965),
    ),
    "940_name_full_address": (
        page("Spar", city="Pest", street="Fo utca", hn="3"),
        poi("Spar", 1000.0, shop="convenience", city="Pest", street="Fo utca", hn="3"),
        (4, 940),
    ),
    "950_street_hn": (
        page("Spar", city="Pest", street="Kis utca", hn="3"),
        poi("Spar", 200.0, shop="convenience", city="Buda", street="Kis utca", hn="3"),
        (5, 950),
    ),
    "970_street_only": (
        page("Spar", street="Kis utca", hn="3"),
        poi("Spar", 30.0, shop="convenience", street="Kis utca", hn="5"),
        (5, 970),
    ),
    "980_name_only": (
        page("Spar"),
        poi("Spar", 30.0, shop="convenience"),
        (5, 980),
    ),
    "990_no_name": (
        page("Spar"),
        poi("Kisbolt", 3.0, shop="convenience"),
        (5, 990),
    ),
}


def _match(spark, pg, po, broadcast):
    return match_cascade(
        spark.createDataFrame([pg], _PAGES_SCHEMA),
        spark.createDataFrame([po], _POIS_SCHEMA),
        synth.poi_common_df(spark),
        brand_rows=synth.BRAND_ROWS,
        broadcast_candidates=broadcast,
    ).collect()


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "shuffle"])
@pytest.mark.parametrize("tier", list(TIERS))
def test_each_tier_matches_alone(spark, tier, broadcast):
    pg, po, want = TIERS[tier]
    rows = _match(spark, pg, po, broadcast)
    assert [(r["osm_id"], r["stage"], r["priority"]) for r in rows] == [(10, *want)]


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "shuffle"])
def test_null_city_never_matches(spark, broadcast):
    """Arms 3 and 4 key on the city; with the city missing on BOTH
    sides (and every other key equal) neither may match."""
    pg = page("Spar", street="Fo utca", hn="9", csn="7")
    po = poi("Spar", 1000.0, shop="convenience", street="Fo utca", hn="9", csn="7")
    assert _match(spark, pg, po, broadcast) == []


def test_duplicate_brand_name_fails_loud(spark):
    """Two dimension rows with one poi_name would make the page's brand
    ambiguous; the plan refuses instead of picking one."""
    dup = dict(synth.BRAND_ROWS[2], pc_id=99, poi_code="huspar2")
    with pytest.raises(Exception, match="(?i)duplicate"):
        match_cascade(
            spark.createDataFrame([page("Spar")], _PAGES_SCHEMA),
            spark.createDataFrame([poi("Spar", 30.0, shop="convenience")], _POIS_SCHEMA),
            synth.poi_common_df(spark),
            brand_rows=[*synth.BRAND_ROWS, dup],
        ).collect()


def test_plan_literals_round_trip(spark):
    """Brand regexes and names enter the plan as SQL text; quotes and
    backslashes must survive the SQL parser unchanged."""
    from osm_poi_matchmaker_spark.operators.match import _sql_lit

    for s in ("tesco expressz", r"o'hara\s+\d{2}", "back\\slash", "\\'", "ünnep"):
        assert spark.sql(f"SELECT {_sql_lit(s)} AS v").first()["v"] == s
