"""Geo enrichment + hulls (S11-S13) and the blocked-page fetch guard."""

from __future__ import annotations

import json
import random

from pyspark.sql import functions as F

from fundamental_spark.operators.geo import (
    dedup_points,
    district_hulls,
    geocode_enrich,
    hulls_to_geojson,
    nl_bbox_filter,
    unique_districts,
)


def test_geocode_enrich_and_bbox(spark):
    props = spark.createDataFrame(
        [
            ("u1", "Kerkstraat", "1012 AB", "amsterdam"),
            ("u2", "Dorpsstraat", "3511 CD", "utrecht"),
            ("u3", "Onbekend", "9999 ZZ", "nergens"),
        ],
        "url string, street string, postal_code string, city string",
    )
    cache = spark.createDataFrame(
        [
            ("kerkstraat|1012 ab|amsterdam", 52.37, 4.89),
            ("dorpsstraat|3511 cd|utrecht", 40.0, -3.7),   # outside NL bbox
        ],
        "addr_key string, lat double, lng double",
    )
    out = {r["url"]: r for r in geocode_enrich(props, cache).collect()}
    assert abs(out["u1"]["latitude"] - 52.37) < 1e-9
    assert out["u2"]["latitude"] is None  # bbox-rejected (geocoder.go:258-261)
    assert out["u3"]["latitude"] is None  # cache miss
    assert all(r["geocoding_attempted"] for r in out.values())

    coords = spark.createDataFrame(
        [(52.0, 5.0), (10.0, 5.0)], "latitude double, longitude double"
    )
    assert nl_bbox_filter(coords).count() == 1


def test_unique_districts_guard(spark):
    props = spark.createDataFrame(
        [("1012 AB", "amsterdam"), ("1012 CD", "amsterdam"), ("10XX", "bad"),
         ("3511 EF", "utrecht")],
        "postal_code string, city string",
    )
    rows = {(r["district"], r["city"]) for r in unique_districts(props).collect()}
    assert rows == {("1012", "amsterdam"), ("3511", "utrecht")}


def test_hulls_and_geojson(spark):
    rng = random.Random(2)
    pts = [("1012", "amsterdam", 52.37 + rng.random() * 0.01, 4.89 + rng.random() * 0.01)
           for _ in range(20)]
    pts += [("9999", "tiny", 50.0, 6.0), ("9999", "tiny", 50.001, 6.0)]  # <3 points
    df = spark.createDataFrame(pts, "district string, city string, lat double, lng double")
    deduped = dedup_points(df)
    assert deduped.count() <= df.count()
    hulls = district_hulls(df)
    rows = hulls.collect()
    assert {r["district"] for r in rows} == {"1012"}  # tiny district skipped
    ring = json.loads(rows[0]["hull_json"])
    assert ring[0] == ring[-1] and len(ring) >= 4  # closed polygon
    gj = json.loads(hulls_to_geojson(hulls))
    assert gj["type"] == "FeatureCollection"
    assert gj["features"][0]["geometry"]["type"] == "Polygon"


def test_parse_wkt_point(spark):
    from fundamental_spark.operators.geo import parse_wkt_point

    df = spark.createDataFrame([("POINT(4.89 52.37)",)], "wkt string")
    lng, lat = parse_wkt_point(F.col("wkt"))
    r = df.select(lng.alias("lng"), lat.alias("lat")).first()
    assert abs(r["lng"] - 4.89) < 1e-9 and abs(r["lat"] - 52.37) < 1e-9


def test_geocode_candidates_batch(spark):
    from fundamental_spark.operators.geo import geocode_candidates

    rows = [(f"u{i}", "Straat", "1012 AB", "amsterdam", None, None, False)
            for i in range(25)]
    rows.append(("done", "S", "1012 AB", "a", 52.0, 4.0, True))
    rows.append(("nostreet", None, "1012 AB", "a", None, None, False))
    props = spark.createDataFrame(
        rows,
        "url string, street string, postal_code string, city string, "
        "latitude double, longitude double, geocoding_attempted boolean",
    )
    cand = geocode_candidates(props, batch_size=10)
    got = cand.collect()
    assert len(got) == 10  # F13 LIMIT batch (database.go:644-663)
    assert all(r["url"].startswith("u") for r in got)


def test_blocked_page_guard(spark, tmp_path):
    """F3: a bot-verification interstitial is not parsed; the row retries
    and is dropped when the block persists (funda_spider.py:88-90)."""
    from fundamental_spark.crawl.runner import CrawlRunner
    from fundamental_spark.synth.site import build_site, web_rows

    site = build_site(seed=53, cities=("hoorn",), listings_per_city=8, page_size=8)
    blocked_url = site.pages_by_city["hoorn"][0][1][0]
    rows = [
        (u, "<html>Je bent bijna op de pagina die je zoekt</html>" if u == blocked_url else h)
        for (u, h) in web_rows(site)
    ]
    web = spark.createDataFrame(rows, "url string, html string")
    r = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "wh"), web=web)
    r.init([(site.search_url("hoorn", 1), "hoorn")])
    r.run()
    frontier = {x["url"]: x for x in r.table("frontier").collect()}
    assert frontier[blocked_url]["state"] == "dropped"
    docs = {d["doc_id"] for d in r.table("documents").collect()}
    assert blocked_url not in docs and len(docs) == 7


def test_geocode_metro_cities(spark):
    """GeocodeCity over metro member cities (geocoder.go:196-256,
    metropolitan.go:135-151): cache hit inside the NL bbox updates the
    city's coordinates; a miss or an out-of-bounds result keeps the
    existing ones (the reference logs and continues)."""
    from fundamental_spark.operators.geo import geocode_metro_cities

    cities = spark.createDataFrame(
        [
            (1, "Amsterdam", None, None),
            (1, "Utrecht", 52.0, 5.1),     # already set; cache out-of-bbox
            (1, "Nowhere", None, None),    # cache miss
        ],
        "metropolitan_area_id int, city string, lat double, lng double",
    )
    cache = spark.createDataFrame(
        [
            ("Amsterdam", 52.3676, 4.9041),
            ("Utrecht", 12.0, 99.0),       # outside NL bbox -> rejected
        ],
        "city string, lat double, lng double",
    )
    got = {
        r["city"]: (r["lat"], r["lng"])
        for r in geocode_metro_cities(cities, cache).collect()
    }
    assert got["Amsterdam"] == (52.3676, 4.9041)
    assert got["Utrecht"] == (52.0, 5.1)   # invalid result kept old coords
    assert got["Nowhere"] == (None, None)
