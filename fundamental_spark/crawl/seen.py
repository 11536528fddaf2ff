"""Two-stage URL-seen dedup (J1): cuckoo prefilter + exact anti-join.

Reference semantics are an exact set test on the full URL string
(funda_spider.py:119-120): ``url not in processed ∪ existing``. At
frontier scale the exact anti-join shuffles every candidate against
10^10 seen rows; the per-shard cuckoo prefilter (cuckoo.py) removes the
definitely-new majority before the shuffle, and only probe-positive
candidates pay for exactness. Equality stays exact — a prefilter false
positive merely routes a row through the anti-join; it can never drop
a genuinely new URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonical import DEFAULT_N_SHARDS
from .cuckoo import build_cuckoo, probe_cuckoo


def filter_new_urls(
    candidates: DataFrame,
    url_seen: DataFrame,
    prefilter_keys: int | None = None,
    n_shards: int = DEFAULT_N_SHARDS,
) -> DataFrame:
    """Return candidate rows whose url is NOT in url_seen.

    candidates must carry (url, url_hash, domain_shard); url_seen the
    same. ``prefilter_keys=None`` is a broadcast exact anti-join (small
    seen sets — the reference's whole world fits in one executor's
    memory). An int engages the cuckoo prefilter, each per-shard filter
    sized for ``prefilter_keys // n_shards`` keys (at least 1024);
    ``n_shards`` is the shard count the url keys were made with. An
    undercounting hint only fills the stash — the result stays exact.
    """
    seen_urls = url_seen.select("url")
    if prefilter_keys is None:
        return candidates.join(F.broadcast(seen_urls), "url", "left_anti")

    per_shard = max(1024, prefilter_keys // n_shards)
    probed = probe_cuckoo(candidates, build_cuckoo(url_seen, n_keys_per_shard=per_shard))
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen_urls, "url", "left_anti")
    return definitely_new.unionByName(confirmed_new)
