"""The schema of every table the crawl and lifecycle layers write.

Each table's layout is defined here once; the crawl runner, the
documents sink (its pyarrow schema is derived with ``to_arrow_schema``),
the span parser, the documents stream and the properties lifecycle
import it. ``documents`` is BASELINE.json's ``input_hint``:
(doc_id, spans:array<struct<kind,text,media_ref,offset:int32>>) plus
its crawl lineage columns.

Layouts a reader, stream or pandas UDF takes as a DDL string (the
cuckoo filter rows, the sink manifest, the streams' sources, the
district hulls, the metro config tables) are defined here too, as
strings.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType()),
        StructField("domain", StringType()),
        StructField("domain_shard", IntegerType()),
        StructField("kind", StringType()),               # 'search' | 'detail'
        StructField("priority", IntegerType()),
        StructField("city", StringType()),
        StructField("page_idx", IntegerType()),          # search: its page number; detail: page found on
        StructField("discovered_on_page", IntegerType()),
        StructField("page_pos", IntegerType()),
        StructField("wave_enqueued", IntegerType()),
        StructField("attempt", IntegerType()),
        StructField("state", StringType()),              # pending | fetched | failed | dropped
    ]
)

URL_SEEN_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType()),
        StructField("domain_shard", IntegerType()),
        StructField("first_seen_wave", IntegerType()),
    ]
)

SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType()),        # 'text' | 'media'
        StructField("text", StringType()),        # NULL for media spans
        StructField("media_ref", StringType()),   # NULL for text spans
        StructField("offset", IntegerType()),     # 0-based, order-preserved
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),      # canonical listing URL
        StructField("spans", ArrayType(SPAN_SCHEMA)),
        StructField("wave", IntegerType()),
        StructField("city", StringType()),
        StructField("discovered_on_page", IntegerType()),
        StructField("page_pos", IntegerType()),
    ]
)

CRAWL_LOG_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("kind", StringType()),
        StructField("city", StringType()),
        StructField("discovered_on_page", IntegerType()),
        StructField("priority", IntegerType()),
        StructField("page_pos", IntegerType()),
        StructField("wave_fetched", IntegerType()),
    ]
)

RESPONSE_CACHE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("html", StringType()),
        StructField("wave", IntegerType()),
    ]
)

REFRESHED_URLS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("city", StringType()),
        StructField("found_on_page", IntegerType()),
        StructField("wave", IntegerType()),
    ]
)

WAVE_METRICS_SCHEMA = StructType(
    [
        StructField("wave", IntegerType()),
        StructField("pages_fetched", LongType()),
        StructField("search_pages", LongType()),
        StructField("detail_pages", LongType()),
        StructField("new_listing_urls", LongType()),
        StructField("shard_counts", StringType()),  # json map shard -> pages fetched
    ]
)

NEARDUP_BANDS_SCHEMA = StructType(
    [
        StructField("doc", StringType()),
        StructField("band_idx", IntegerType()),
        StructField("band_hash", StringType()),
    ]
)

NEARDUP_PAIRS_SCHEMA = StructType(
    [
        StructField("doc_a", StringType()),
        StructField("doc_b", StringType()),
        StructField("jaccard", DoubleType()),
        StructField("wave", IntegerType()),
    ]
)

# the fact table (server/internal/database/database.go:390-413), keyed on url
PROPERTIES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_hash", LongType()),
        StructField("street", StringType()),
        StructField("neighborhood", StringType()),
        StructField("property_type", StringType()),
        StructField("city", StringType()),
        StructField("postal_code", StringType()),
        StructField("price", LongType()),
        StructField("year_built", IntegerType()),
        StructField("living_area", IntegerType()),
        StructField("num_rooms", IntegerType()),
        StructField("status", StringType()),      # active|inactive|republished|sold
        StructField("listing_date", DateType()),
        StructField("selling_date", DateType()),
        StructField("energy_label", StringType()),
        StructField("republish_count", IntegerType()),
        StructField("wave", IntegerType()),
    ]
)

# the corpus ``documents`` table (doc_id, text, lang, source, n_chars)
# that the streaming near-dup drain reads from a directory, as the DDL
# string readStream.schema takes
CORPUS_DOCUMENTS_DDL = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

# the drain's persisted state under its state_dir: the band index is
# keyed on the corpus' bigint doc_id, unlike the crawl's url-keyed
# NEARDUP_BANDS_SCHEMA, and the verification texts
DRAIN_BANDS_DDL = "doc bigint, band_idx int, band_hash string"
DRAIN_TEXTS_DDL = "doc_id bigint, text string"

# the corpus ``events`` table, read as a file-source stream
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

# pending search-page frontier rows before their url keys and
# wave_enqueued are added (a column subset of FRONTIER_SCHEMA)
SEARCH_FRONTIER_DDL = (
    "url string, kind string, priority int, city string, page_idx int, "
    "discovered_on_page int, page_pos int, attempt int, state string"
)

# a bare url list (the pre-seen set a crawl starts from)
URLS_DDL = "url string"

# JSON-LD ItemList of a search page, as from_json parses it
SEARCH_ITEMS_SCHEMA = "struct<itemListElement:array<struct<position:int,url:string>>>"

# one per-shard cuckoo filter row (crawl/cuckoo.py builds and applies it)
CUCKOO_SCHEMA = "domain_shard int, m long, f int, table binary, stash binary"

# the documents sink's one-row-per-task file manifest
SINK_SUMMARY_DDL = "file string, n_docs long"

# the district_hulls table (operators/geo.py::district_hulls)
HULL_SCHEMA = "district string, city string, hull_json string, point_count int"

# metropolitan-area config tables (database.go:918-1009, 1142-1165)
METRO_AREAS_DDL = (
    "id bigint, name string, center_lat double, center_lng double, zoom_level int"
)
METRO_CITIES_DDL = "metropolitan_area_id bigint, city string, lat double, lng double"

# append-only lineage log (database.go:420-429)
PROPERTY_HISTORY_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("price", LongType()),
        StructField("listing_date", DateType()),
        StructField("wave", IntegerType()),
    ]
)
