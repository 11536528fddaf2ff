"""URL canonicalization + shard keys.

The reference's dedup key is the exact absolute URL string
(funda_spider.py:119-120 — no normalization beyond urljoin, P10).
Canonical form here: absolute URL; key columns:

- ``url_hash``  = xxhash64(url) — 64-bit shard/join key (JVM-side)
- ``domain``    = host part (for per-domain politeness budgets)
- ``domain_shard`` = pmod(xxhash64(url), n_shards) — **salts the
  single-host hot key** (SURVEY.md §2.8 T7): a one-site crawl would
  otherwise hash every frontier row to one shuffle partition; sharding
  by URL hash spreads seen-set/prefilter/frontier work across the cluster
  while politeness stays a per-domain aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_SHARDS = 32


def url_hash(col: Column) -> Column:
    return F.xxhash64(col)


def domain_of(col: Column) -> Column:
    return F.regexp_extract(col, r"^https?://([^/]+)/", 1)


def with_url_keys(df: DataFrame, url_col: str = "url", n_shards: int = DEFAULT_N_SHARDS) -> DataFrame:
    u = F.col(url_col)
    return (
        df.withColumn("url_hash", url_hash(u))
        .withColumn("domain", domain_of(u))
        .withColumn("domain_shard", F.pmod(F.xxhash64(u), F.lit(n_shards)).cast("int"))
    )
