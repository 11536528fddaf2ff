"""Market-analysis operators.

- District price analysis (J5): the reference computes, per new
  listing pushed to Telegram, the listing's €/m² vs the district's
  exact median over active listings and over the last-12-months sold
  listings, with data-quality bounds and a five-bucket rating
  (telegram.go:64-130; database.go:1326-1417 GetDistrictPriceAnalysis).
  The reference runs the two median queries PER LISTING; the Spark
  shape precomputes medians per district once (one groupBy) and
  broadcast-joins listings against them — same numbers, set-based.
- Metropolitan-area config (J4/A6/J8): metro_areas + metro_cities
  tables with GROUP_CONCAT rollup (database.go:918-964) and the
  avg-of-city-coordinates center calculation
  (database.go:968-1009 CalculateMetropolitanCenter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import METRO_AREAS_DDL, METRO_CITIES_DDL
from ..tableformat import Warehouse

# data-quality bounds (database.go:1334-1340): "reasonable" size/price
QUALITY_AREA = (15, 1000)
QUALITY_PRICE = (50_000, 10_000_000)


def _quality(price: Column, area: Column, price_bounds, area_bounds) -> Column:
    return (
        price.isNotNull()
        & area.isNotNull()
        & (price > 0)
        & (area > 0)
        & area.between(*area_bounds)
        & price.between(*price_bounds)
    )


def district_price_medians(
    props: DataFrame,
    as_of,
    district_col: Column | None = None,
    price_col: str = "price",
    area_col: str = "living_area",
    status_col: str = "status",
    sold_date_col: str = "selling_date",
    price_bounds=QUALITY_PRICE,
    area_bounds=QUALITY_AREA,
) -> DataFrame:
    """Per-district exact medians of €/m²: active listings and sold
    listings of the trailing 12 months (database.go:1326-1417), one
    groupBy each + full outer join; missing sides coalesce to 0 as the
    reference's COALESCE(...) does. ``as_of`` replaces date('now') so
    the operator stays deterministic."""
    district = (
        district_col
        if district_col is not None
        else F.substring(F.col("postal_code"), 1, 4)
    )
    q = _quality(F.col(price_col), F.col(area_col), price_bounds, area_bounds)
    sqm = F.col(price_col) / F.col(area_col)
    base = props.select(
        district.alias("district"),
        F.col(status_col).alias("_status"),
        F.col(sold_date_col).alias("_sold_date"),
        sqm.alias("_sqm"),
    ).filter(q)

    def _ranked_median(rows: DataFrame, prefix: str) -> DataFrame:
        # the reference's own median algorithm (database.go:1341-1363):
        # ROW_NUMBER over price_sqm, AVG of the one/two middle rows —
        # replicated literally so the DuckDB oracle twin is bit-identical
        # (percentile interpolation differs across engines in the last ulp)
        from pyspark.sql import Window

        w = Window.partitionBy("district").orderBy("_sqm")
        wc = Window.partitionBy("district")
        ranked = rows.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_cnt", F.count("*").over(wc)
        )
        mid = ranked.filter(
            (F.col("_rn") == F.floor((F.col("_cnt") + 1) / 2))
            | (F.col("_rn") == F.floor((F.col("_cnt") + 2) / 2))
        )
        return mid.groupBy("district").agg(
            F.avg("_sqm").alias(f"{prefix}_median"),
            F.max("_cnt").alias(f"{prefix}_count"),
        )

    active = _ranked_median(base.filter(F.col("_status") == "active"), "active")
    window_start = F.add_months(F.lit(as_of).cast("date"), -12)
    sold = _ranked_median(
        base.filter(
            (F.col("_status") == "sold") & (F.col("_sold_date") >= window_start)
        ),
        "sold",
    )
    return (
        active.alias("a")
        .join(sold.alias("s"), "district", "full_outer")
        .select(
            "district",
            F.coalesce("active_median", F.lit(0.0)).alias("active_median"),
            F.coalesce("active_count", F.lit(0)).alias("active_count"),
            F.coalesce("sold_median", F.lit(0.0)).alias("sold_median"),
            F.coalesce("sold_count", F.lit(0)).alias("sold_count"),
        )
    )


def price_rating(ratio: Column) -> Column:
    """telegram.go:88-99 five-bucket rating on €/m² ÷ district median."""
    return (
        F.when(ratio <= 0.80, F.lit("GREAT"))
        .when(ratio <= 0.95, F.lit("GOOD"))
        .when(ratio <= 1.05, F.lit("NORMAL"))
        .when(ratio <= 1.20, F.lit("BAD"))
        .otherwise(F.lit("HORRIBLE"))
    )


def with_district_analysis(
    listings: DataFrame,
    medians: DataFrame,
    district_col: Column | None = None,
    price_col: str = "price",
    area_col: str = "living_area",
) -> DataFrame:
    """Per-listing district comparison columns (telegram.go:64-130):
    price_per_sqm, active/sold ratio + rating; NULL where the district
    has no comparison rows (the reference emits 'No ... for
    comparison'). ``medians`` is broadcast — it's O(#districts)."""
    district = (
        district_col
        if district_col is not None
        else F.substring(F.col("postal_code"), 1, 4)
    )
    sqm = F.col(price_col) / F.col(area_col)
    enriched = listings.withColumn("district", district).withColumn(
        "price_per_sqm", sqm
    )
    j = enriched.join(F.broadcast(medians), "district", "left")
    active_ratio = F.when(
        F.col("active_median") > 0, F.col("price_per_sqm") / F.col("active_median")
    )
    sold_ratio = F.when(
        F.col("sold_median") > 0, F.col("price_per_sqm") / F.col("sold_median")
    )
    return (
        j.withColumn("active_ratio", active_ratio)
        .withColumn(
            "active_rating",
            F.when(active_ratio.isNotNull(), price_rating(active_ratio)),
        )
        .withColumn("sold_ratio", sold_ratio)
        .withColumn(
            "sold_rating", F.when(sold_ratio.isNotNull(), price_rating(sold_ratio))
        )
    )


# ---------------------------------------------------------------------------
# Metropolitan-area config tables (database.go:918-1009, 1142-1165)
# ---------------------------------------------------------------------------


def init_metro_tables(
    wh: Warehouse, areas: list[tuple], cities: list[tuple]
) -> None:
    """Create the metro config tables (models.go analog): areas =
    (id, name, center_lat, center_lng, zoom_level), cities =
    (metropolitan_area_id, city, lat, lng)."""
    spark = wh.spark
    wh.overwrite("metro_areas", spark.createDataFrame(areas, METRO_AREAS_DDL))
    wh.overwrite("metro_cities", spark.createDataFrame(cities, METRO_CITIES_DDL))


def metro_rollup(areas: DataFrame, cities: DataFrame) -> DataFrame:
    """GetMetropolitanAreas (database.go:918-964): LEFT JOIN +
    GROUP_CONCAT of member cities, sorted for determinism."""
    return (
        areas.alias("m")
        .join(
            F.broadcast(cities).alias("mc"),
            F.col("m.id") == F.col("mc.metropolitan_area_id"),
            "left",
        )
        .groupBy("m.id", "m.name", "m.center_lat", "m.center_lng", "m.zoom_level")
        .agg(
            F.count("mc.city").alias("n_cities"),
            F.array_join(F.array_sort(F.collect_list("mc.city")), ",").alias("cities"),
        )
    )


def metro_center(cities: DataFrame) -> DataFrame:
    """CalculateMetropolitanCenter (database.go:968-1009): per area, the
    arithmetic mean of member-city coordinates (nulls excluded)."""
    return (
        cities.filter(F.col("lat").isNotNull() & F.col("lng").isNotNull())
        .groupBy("metropolitan_area_id")
        .agg(
            F.avg("lat").alias("center_lat"),
            F.avg("lng").alias("center_lng"),
            F.count("*").alias("n_cities"),
        )
    )


def update_metro_centers(wh: Warehouse) -> None:
    """Recompute + persist centers into metro_areas (the UPDATE at
    database.go:1000-1008), as one broadcast join + snapshot rewrite."""
    areas = wh.read("metro_areas")
    centers = metro_center(wh.read("metro_cities"))
    updated = (
        areas.alias("a")
        .join(
            F.broadcast(centers).alias("c"),
            F.col("a.id") == F.col("c.metropolitan_area_id"),
            "left",
        )
        .select(
            "a.id",
            "a.name",
            F.coalesce("c.center_lat", "a.center_lat").alias("center_lat"),
            F.coalesce("c.center_lng", "a.center_lng").alias("center_lng"),
            "a.zoom_level",
        )
    )
    wh.overwrite("metro_areas", updated)


def metro_city_expansion(props: DataFrame, cities: DataFrame, area_id: int) -> DataFrame:
    """J8 (database.go:1142-1165): properties of every member city of a
    metro area — a broadcast semi-join on the city list."""
    member = cities.filter(F.col("metropolitan_area_id") == area_id).select(
        F.lower(F.col("city")).alias("_mc")
    )
    return props.join(
        F.broadcast(member), F.lower(F.col("city")) == F.col("_mc"), "left_semi"
    )


def key_skew_stats(
    df: DataFrame,
    key_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Shuffle-key skew audit — the measurement that decides whether a
    join/agg key needs salting BEFORE the job ships (the crawl's own
    domain-shard salting, SURVEY T7, was justified by exactly this
    table). One map-side-combinable count per key, then a single
    partial-agg rollup: total rows, distinct keys, max/mean ratio
    (the skew headline: 1.0 = flat), and the top-k heaviest keys with
    their corpus share.

    Returns one row: (n_rows, n_keys, max_count, mean_count,
    skew_ratio, top_keys — 'key:count' strings sorted heaviest
    first)."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count("*").alias("c")
    )
    top = (
        counts.orderBy(F.desc("c"), F.asc("k"))
        .limit(top_k)
        .select(F.concat_ws(":", "k", "c").alias("kc"), "c", "k")
    )
    top_arr = top.agg(
        F.array_sort(F.collect_list(F.struct((-F.col("c")).alias("nc"), "k", "kc")))
        .alias("s")
    ).select(
        F.array_join(F.transform("s", lambda x: x["kc"]), ",").alias("top_keys")
    )
    agg = counts.agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_count"),
        F.round(F.sum("c") / F.count("*"), 2).alias("mean_count"),
        F.round(F.max("c") / (F.sum("c") / F.count("*")), 4).alias("skew_ratio"),
    )
    return agg.crossJoin(F.broadcast(top_arr))
