"""Geo enrichment + district hull generation (S11-S13, A6-A7).

Reference behavior rebuilt Spark-first:
- geocode enrichment (geocoder.go:100-189): join against a keyed
  geocode table (cache semantics) + NL bounding-box validation
  (geocoder.go:32-38); the Nominatim HTTP source is replaced by a
  deterministic synthetic table in the sandbox.
- unique districts (district.go:61-90): DISTINCT 4-digit prefix with
  the numeric-postal guard (F10).
- district points dedup (district.go:134-152): dropDuplicates on
  6-decimal-rounded coordinates.
- convex hulls (generate_hulls.py / district.go:161-349 Graham scan):
  per-district grouped-map ``applyInPandas`` computing the hull with a
  pure-numpy Andrew monotone chain (shapely isn't in this container;
  the reference's Go twin is also a from-scratch scan) + the 0.001°
  buffer approximated by offsetting hull vertices outward from the
  centroid (generate_hulls.py:40 buffer(0.001)).
- GeoJSON FeatureCollection sink (district.go:351-400): driver-side
  collect of the (small) hull table -> one JSON file.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import HULL_SCHEMA

# Netherlands bounding box, geocoder.go:32-38
NL_LAT = (50.75, 53.55)
NL_LNG = (3.35, 7.22)


def nl_bbox_filter(df: DataFrame, lat: str = "latitude", lng: str = "longitude") -> DataFrame:
    return df.filter(
        F.col(lat).between(*NL_LAT) & F.col(lng).between(*NL_LNG)
    )


def geocode_enrich(props: DataFrame, geocode_table: DataFrame) -> DataFrame:
    """LEFT JOIN against the geocode cache table on the address key
    (street+postal+city, geocoder.go:101-119); only rows inside the NL
    bbox keep their coordinates (geocoder.go:258-261)."""
    key = F.concat_ws(
        "|", F.lower("street"), F.lower("postal_code"), F.lower("city")
    )
    g = geocode_table.select(
        F.col("addr_key"), F.col("lat"), F.col("lng")
    )
    joined = props.withColumn("addr_key", key).join(
        F.broadcast(g), "addr_key", "left"
    )
    valid = (
        F.col("lat").between(*NL_LAT) & F.col("lng").between(*NL_LNG)
    )
    return (
        joined.withColumn("latitude", F.when(valid, F.col("lat")))
        .withColumn("longitude", F.when(valid, F.col("lng")))
        .withColumn("geocoding_attempted", F.lit(True))
        .drop("addr_key", "lat", "lng")
    )


def geocode_metro_cities(cities: DataFrame, city_geocode_table: DataFrame) -> DataFrame:
    """GeocodeCity (geocoder.go:196-256) applied over a metro area's
    member cities (api/metropolitan.go:135-151, geocodeArea): look each
    city up in the city-keyed geocode cache (the reference queries
    '{city}, Netherlands' against Nominatim and caches per-city; here a
    deterministic keyed table plays the cache), validate the result
    against the NL bounding box (isWithinNetherlands, geocoder.go:
    258-261), and update the city's coordinates. A cache miss or an
    out-of-bounds result keeps the existing coordinates — the reference
    logs the error and continues with the next city
    (metropolitan.go:138-142). Broadcast left-join: the city cache is
    O(#cities). Closes the round-3 'what's missing' #1."""
    c = city_geocode_table.select(
        F.col("city").alias("_ck"),
        F.col("lat").alias("_clat"),
        F.col("lng").alias("_clng"),
    )
    valid = F.col("_clat").between(*NL_LAT) & F.col("_clng").between(*NL_LNG)
    return (
        cities.join(F.broadcast(c), F.col("city") == F.col("_ck"), "left")
        .withColumn("lat", F.when(valid, F.col("_clat")).otherwise(F.col("lat")))
        .withColumn("lng", F.when(valid, F.col("_clng")).otherwise(F.col("lng")))
        .drop("_ck", "_clat", "_clng")
    )


def parse_wkt_point(col: F.Column) -> tuple[F.Column, F.Column]:
    """P16 (district.go:137-141): 'POINT(lon lat)' -> (lng, lat)."""
    lng = F.regexp_extract(col, r"POINT\(([-0-9.]+) [-0-9.]+\)", 1).cast("double")
    lat = F.regexp_extract(col, r"POINT\([-0-9.]+ ([-0-9.]+)\)", 1).cast("double")
    return lng, lat


def geocode_candidates(props: DataFrame, batch_size: int = 10) -> DataFrame:
    """F13 (database.go:622-631): rows still needing geocoding, taken in
    batches of `batch_size` per enrichment round (the reference loops
    txn batches of 10)."""
    return (
        props.filter(
            F.col("latitude").isNull()
            & F.col("longitude").isNull()
            & (~F.coalesce(F.col("geocoding_attempted"), F.lit(False)))
            & F.col("street").isNotNull()
            & F.col("postal_code").isNotNull()
            & F.col("city").isNotNull()
        )
        .limit(batch_size)
    )


def geocoding_progress(props: DataFrame) -> DataFrame:
    """A17 (database.go:692-756): the processed/failed tallies the
    reference prints per batch, as one aggregate — total, geocoded
    (coords present), failed (attempted but no coords), pending
    (never attempted), processed percentage."""
    has_coords = F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
    attempted = F.coalesce(F.col("geocoding_attempted"), F.lit(False)) | has_coords
    return props.agg(
        F.count("*").alias("total"),
        F.count(F.when(has_coords, 1)).alias("geocoded"),
        F.count(F.when(attempted & ~has_coords, 1)).alias("failed"),
        F.count(F.when(~attempted, 1)).alias("pending"),
        F.round(
            F.count(F.when(attempted, 1)) * 100.0 / F.greatest(F.count("*"), F.lit(1)),
            2,
        ).alias("processed_pct"),
    )


def unique_districts(props: DataFrame) -> DataFrame:
    """A7 + F10 (district.go:61-90): DISTINCT 4-digit postal prefix per
    city, numeric-prefix guard."""
    return (
        props.filter(F.col("postal_code").rlike(r"^[0-9]{4}"))
        .select(
            F.substring("postal_code", 1, 4).alias("district"),
            F.col("city"),
        )
        .distinct()
    )


def dedup_points(points: DataFrame) -> DataFrame:
    """S12 (district.go:134-152): dedup by 6-decimal rounded coords."""
    return points.withColumn("_rlat", F.round("lat", 6)).withColumn(
        "_rlng", F.round("lng", 6)
    ).dropDuplicates(["_rlat", "_rlng"]).drop("_rlat", "_rlng")


def _monotone_chain(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain convex hull; pts (n,2) -> hull (m,2) CCW."""
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.array(lower[:-1] + upper[:-1])


def district_hulls(points: DataFrame, buffer_deg: float = 0.001) -> DataFrame:
    """Per-district convex hull via grouped-map applyInPandas
    (generate_hulls.py:27-50; Go twin district.go:161-349). Districts
    with <3 distinct points are skipped (district.go:319)."""

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        district = pdf["district"].iloc[0]
        city = pdf["city"].iloc[0]
        pts = np.round(pdf[["lng", "lat"]].to_numpy(dtype=float), 6)
        pts = np.unique(pts, axis=0)
        if len(pts) < 3:
            return pd.DataFrame(
                columns=["district", "city", "hull_json", "point_count"]
            )
        hull = _monotone_chain(pts)
        centroid = hull.mean(axis=0)
        # buffer(0.001) approximation: push vertices outward
        d = hull - centroid
        norms = np.linalg.norm(d, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        buffered = hull + d / norms * buffer_deg
        ring = buffered.tolist() + [buffered[0].tolist()]
        return pd.DataFrame(
            {
                "district": [district],
                "city": [city],
                "hull_json": [json.dumps(ring)],
                "point_count": [int(len(pts))],
            }
        )

    return (
        points.select("district", "city", "lat", "lng")
        .groupBy("district", "city")
        .applyInPandas(_hull, schema=HULL_SCHEMA)
    )


def hulls_to_geojson(hulls: DataFrame) -> str:
    """Driver-side GeoJSON FeatureCollection sink (district.go:351-400).
    The hull table is O(#districts) — safe to collect."""
    features = []
    for r in sorted(hulls.collect(), key=lambda x: (x["district"], x["city"])):
        features.append(
            {
                "type": "Feature",
                "properties": {
                    "district": r["district"],
                    "city": r["city"],
                    "point_count": r["point_count"],
                },
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [json.loads(r["hull_json"])],
                },
            }
        )
    return json.dumps({"type": "FeatureCollection", "features": features})
