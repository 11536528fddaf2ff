"""Two-stage URL-seen dedup (J1): bloom prefilter + exact anti-join.

Reference semantics are an exact set test on the full URL string
(funda_spider.py:119-120): ``url not in processed ∪ existing``. At
frontier scale the exact anti-join shuffles every candidate against
10^10 seen rows; the per-shard bloom prefilter (bloom.py) removes the
definitely-new majority before the shuffle, and only probe-positive
candidates pay for exactness. Equality stays exact — a bloom false
positive merely routes a row through the anti-join; it can never drop
a genuinely new URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import build_bloom, probe_bloom
from .canonical import DEFAULT_N_SHARDS


def filter_new_urls(
    candidates: DataFrame,
    url_seen: DataFrame,
    use_bloom: bool = True,
    seen_count_hint: int | None = None,
    fpp: float = 0.01,
    broadcast_seen: bool = False,
    backend: str = "bloom",
    n_shards: int = DEFAULT_N_SHARDS,
) -> DataFrame:
    """Return candidate rows whose url is NOT in url_seen.

    candidates must carry (url, url_hash, domain_shard); url_seen the
    same. ``broadcast_seen`` forces a broadcast anti-join (small seen
    sets — the reference's whole world fits in one executor's memory).
    ``backend`` selects the prefilter: "bloom" (default, most compact)
    or "cuckoo" (deletable — see crawl/cuckoo.py; same two-stage
    exactness either way). ``n_shards`` is the shard count the url keys
    were made with; each per-shard filter is sized for
    ``seen_count_hint / n_shards`` keys.
    """
    if not use_bloom:
        seen_keys = url_seen.select("url")
        if broadcast_seen:
            seen_keys = F.broadcast(seen_keys)
        return candidates.join(seen_keys, "url", "left_anti")

    n_hint = seen_count_hint if seen_count_hint is not None else url_seen.count()
    per_shard = max(1024, n_hint // n_shards)
    if backend == "cuckoo":
        from .cuckoo import build_cuckoo, probe_cuckoo

        filt = build_cuckoo(url_seen, n_keys_per_shard=per_shard)
        probed = probe_cuckoo(candidates, filt)
    elif backend == "bloom":
        bloom = build_bloom(url_seen, n_keys_per_shard=per_shard, fpp=fpp)
        probed = probe_bloom(candidates, bloom)
    else:
        raise ValueError(f"unknown seen-filter backend {backend!r}")
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(url_seen.select("url"), "url", "left_anti")
    return definitely_new.unionByName(confirmed_new)
