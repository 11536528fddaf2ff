"""Property status lifecycle: upsert (J2), mark-inactive (J3), history.

Reference semantics (server/internal/database/database.go):
- InsertProperties (:766-915): per item, url exists? UPDATE : INSERT.
  On update, if the stored status is 'inactive' and the incoming item
  is active again, the row transitions to 'republished' and
  republish_count increments (:786-793). Every insert/update appends a
  (url, status, price, listing_date) row to property_history
  (:837-849, 890-902).
- MarkInactiveProperties (:1252-1323): active rows of a city whose url
  is NOT in the freshly-crawled URL list become 'inactive' — a
  left-anti join in set terms (the reference builds a hash map).

Spark-first shape: one MERGE per batch against a snapshot
hash-bucketed on url (Iceberg ``PARTITIONED BY (bucket(n, url))`` +
MERGE INTO on a real deployment) so each batch rewrites ONLY the
buckets containing batch keys — per-batch write cost O(batch-touched
buckets), never O(table). Mark-inactive is one anti-join feeding the
same bucketed MERGE. No per-row logic anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import PROPERTIES_SCHEMA
from ..tableformat import Warehouse

# bucket count for the properties snapshot: at funda's ~1M listings a
# bucket is ~30k rows; at 10^10-frontier scale the same layout holds
# with a larger count — one knob, set before first write
PROPERTIES_BUCKETS = 32


def upsert_properties(wh: Warehouse, items: DataFrame, wave: int) -> None:
    """MERGE INTO properties USING items ON url (J2) + history append.

    items: the FundaItem projection (functions.extractors.extract_items)
    with `item_city` renamed to `city` by the caller or here.
    """
    if "item_city" in items.columns:
        if "city" in items.columns:  # crawl passthrough; item's own city wins
            items = items.drop("city")
        items = items.withColumnRenamed("item_city", "city")
    batch = items.select(
        "url", "url_hash", "street", "neighborhood", "property_type", "city",
        "postal_code", "price", "year_built", "living_area", "num_rooms",
        "status", "listing_date", "selling_date", "energy_label",
        F.lit(0).alias("republish_count"), F.lit(wave).alias("wave"),
    ).dropDuplicates(["url"])

    wh.ensure_bucketed("properties", key="url", n_buckets=PROPERTIES_BUCKETS)
    # republish transition: inactive target + active incoming ->
    # status 'republished', republish_count++ (database.go:786-793)
    republished = (F.col("t.status") == "inactive") & (F.col("b.status") == "active")
    when_matched = {
        "status": F.when(republished, F.lit("republished")).otherwise(F.col("b.status")),
        "republish_count": F.when(
            republished, F.col("t.republish_count") + 1
        ).otherwise(F.col("t.republish_count")),
    }
    wh.merge_upsert("properties", batch, key="url", schema=PROPERTIES_SCHEMA,
                    when_matched_update=when_matched)

    # history rows reflect the post-merge status for the batch keys;
    # read_matching prunes the read to the buckets the merge touched
    merged = wh.read_matching("properties", batch.select("url"), key="url")
    hist = merged.select("url", "status", "price", "listing_date",
                         F.lit(wave).alias("wave"))
    wh.append_delta("property_history", hist)


def mark_inactive_from_refresh(wh: Warehouse, refreshed: DataFrame, wave: int) -> int:
    """Set-based twin of the reference's per-city refresh loop
    (scheduler.go:214-254 → MarkInactiveProperties, J3): for every city
    the refresh crawl visited, active rows whose url was NOT collected
    become 'inactive' — one anti-join across all cities at once — plus
    a history append. Returns #transitioned.

    ``refreshed``: the CrawlRunner(mode='refresh') refreshed_urls table
    (url, city, ...). The transition is a MERGE whose batch is the stale
    rows with status flipped: the bucketed Warehouse rewrites only the
    buckets holding stale urls (Iceberg MERGE file pruning), not the
    whole snapshot."""
    props = wh.read("properties")
    cities = refreshed.select(F.lower(F.col("city")).alias("_rc")).distinct()
    target = (
        props.filter(F.col("status") == "active")
        .join(F.broadcast(cities), F.lower(F.col("city")) == F.col("_rc"), "left_semi")
    )
    stale = target.join(refreshed.select("url"), "url", "left_anti").select("url")
    n = stale.count()
    if n == 0:
        return 0
    wh.ensure_bucketed("properties", key="url", n_buckets=PROPERTIES_BUCKETS)
    batch = wh.read_matching("properties", stale, key="url").withColumn(
        "status", F.lit("inactive")
    )
    wh.merge_upsert("properties", batch, key="url", schema=PROPERTIES_SCHEMA)
    hist = wh.read_matching("properties", stale, key="url").select(
        "url", "status", "price", "listing_date", F.lit(wave).alias("wave")
    )
    wh.append_delta("property_history", hist)
    return n


def previous_price(history: DataFrame) -> DataFrame:
    """W4/J6 set-based: per url, each history row with its previous price
    (lag over listing_date, then wave as tiebreak) — replaces the
    reference's point query LIMIT 1 OFFSET 1 (database.go:1420-1438)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("listing_date", "wave")
    return history.withColumn("prev_price", F.lag("price").over(w))
