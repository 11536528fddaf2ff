"""Status lifecycle: upsert (J2), republish transition, mark-inactive (J3),
history lineage, previous-price window (W4)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from fundamental_spark.operators.lifecycle import (
    mark_inactive_from_refresh,
    previous_price,
    upsert_properties,
)
from fundamental_spark.tableformat import Warehouse

ITEM_DDL = (
    "url string, url_hash bigint, street string, neighborhood string, "
    "property_type string, city string, postal_code string, price bigint, "
    "year_built int, living_area int, num_rooms int, status string, "
    "listing_date date, selling_date date, energy_label string"
)


def _item(url, price, status="active", city="amsterdam"):
    d = datetime.date(2024, 3, 1)
    return (url, hash(url), "Kerkstraat", "Centrum", "huis", city, "1012 AB",
            price, 1990, 100, 4, status, d, None, "B")


def test_upsert_republish_and_mark_inactive(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([_item("u1", 100000), _item("u2", 200000)], ITEM_DDL)
    upsert_properties(wh, b1, wave=1)
    props = {r["url"]: r for r in wh.read("properties").collect()}
    assert props["u1"]["status"] == "active" and props["u1"]["republish_count"] == 0

    # u2 disappears from the refreshed crawl -> inactive
    refreshed = spark.createDataFrame([("u1", "amsterdam")], "url string, city string")
    n = mark_inactive_from_refresh(wh, refreshed, wave=2)
    assert n == 1
    props = {r["url"]: r for r in wh.read("properties").collect()}
    assert props["u2"]["status"] == "inactive"

    # u2 reappears active -> republished, count++ (database.go:786-793)
    b2 = spark.createDataFrame([_item("u2", 210000)], ITEM_DDL)
    upsert_properties(wh, b2, wave=3)
    props = {r["url"]: r for r in wh.read("properties").collect()}
    assert props["u2"]["status"] == "republished"
    assert props["u2"]["republish_count"] == 1
    assert props["u2"]["price"] == 210000
    assert props["u1"]["price"] == 100000  # untouched

    # history captured every transition
    hist = wh.read_deltas("property_history").filter(F.col("url") == "u2")
    assert sorted((r["wave"], r["status"]) for r in hist.collect()) == [
        (1, "active"), (2, "inactive"), (3, "republished"),
    ]

    # previous-price lag (W4): u2 went 200000 -> 210000
    pp = previous_price(wh.read_deltas("property_history"))
    u2 = (
        pp.filter(F.col("url") == "u2")
        .orderBy("listing_date", "wave")
        .collect()
    )
    assert [r["prev_price"] for r in u2] == [None, 200000, 200000]
