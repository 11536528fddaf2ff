"""Cuckoo-filter URL-seen prefilter (crawl/cuckoo.py): no false
negatives, bounded false positives, tiny stash at the sizing load,
deletion, and filter_new_urls' prefilter path agreeing with the exact
anti-join even when its size hint undercounts."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fundamental_spark.crawl.cuckoo import (
    _SLOTS,
    _build_table,
    _member_mask,
    _plan_m,
    build_cuckoo,
    delete_keys,
    probe_cuckoo,
)


def _hashes(n: int, seed: int = 1) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 1 << 62, size=n).astype(np.uint64)


def test_build_no_false_negatives_and_bounded_fp():
    n = 20_000
    keys = np.unique(_hashes(n))
    m = _plan_m(len(keys))
    table, stash = _build_table(keys, m, 12)
    assert _member_mask(keys, table, stash, m, 12).all()  # every key found
    # stash is a vanishing fraction at load 0.5
    assert len(stash) < len(keys) * 0.001
    # false-positive rate on disjoint probes ~ 8/4096
    probes = np.unique(_hashes(n, seed=2))
    probes = np.setdiff1d(probes, keys)
    fp_rate = _member_mask(probes, table, stash, m, 12).mean()
    assert fp_rate < 0.01


def test_spark_build_probe_agree_with_exact(spark):
    rows = [(int(h) % (1 << 62), int(h) % 8) for h in _hashes(5000, seed=3)]
    seen = spark.createDataFrame(rows, "url_hash long, domain_shard int")
    filt = build_cuckoo(seen, n_keys_per_shard=1024)
    # every seen key probes positive
    probed = probe_cuckoo(seen, filt)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # unseen keys mostly probe negative (prefilter usefulness)
    unseen = spark.createDataFrame(
        [(int(h) % (1 << 62) + 1, int(h) % 8) for h in _hashes(5000, seed=4)],
        "url_hash long, domain_shard int",
    )
    neg = probe_cuckoo(unseen, filt).filter(~F.col("maybe_seen")).count()
    assert neg > 4900


def test_delete_keys_reopens_urls(spark):
    rows = [(i * 7919 + 13, i % 4) for i in range(2000)]
    seen = spark.createDataFrame(rows, "url_hash long, domain_shard int")
    filt = build_cuckoo(seen, n_keys_per_shard=1024)
    dels = spark.createDataFrame(rows[:200], "url_hash long, domain_shard int")
    filt2 = delete_keys(filt, dels)
    probed = {
        (r["url_hash"], r["domain_shard"]): r["maybe_seen"]
        for r in probe_cuckoo(seen, filt2).collect()
    }
    deleted = set(rows[:200])
    # remaining keys keep their no-false-negative guarantee
    assert all(probed[k] for k in probed if k not in deleted)
    # the vast majority of deleted keys now probe definitely-new
    # (a residual positive is a fingerprint collision, i.e. an FP)
    reopened = sum(1 for k in deleted if not probed[k])
    assert reopened > 190


def test_filter_new_urls_exact_when_size_hint_undercounts(spark):
    """A size hint of 1 key over 20k seen keys sizes each of the 4 shard
    filters for 1024 keys, so most keys overflow into the stash. The
    prefilter path must still equal the exact anti-join (and the exact
    set difference): the stash is exact, so overflow costs bytes, never
    a false negative."""
    from fundamental_spark.crawl.seen import filter_new_urls

    n_seen, n_shards = 20_000, 4
    h = _hashes(30_000, seed=11)
    rows = [(f"u{i}", int(h[i]) % (1 << 62), i % n_shards) for i in range(len(h))]
    schema = "url string, url_hash long, domain_shard int"
    seen = spark.createDataFrame(rows[:n_seen], schema)
    cands = spark.createDataFrame(rows[15_000:], schema)

    filt = build_cuckoo(seen, n_keys_per_shard=max(1024, 1 // n_shards))
    assert sum(len(r["stash"]) for r in filt.collect()) > 0  # overflow regime

    exact = {r["url"] for r in filter_new_urls(cands, seen).collect()}
    assert exact == {f"u{i}" for i in range(n_seen, len(h))}
    got = filter_new_urls(cands, seen, prefilter_keys=1, n_shards=n_shards).collect()
    assert sorted(r["url"] for r in got) == sorted(exact)


def test_delete_preserves_schema_and_slots():
    keys = np.unique(_hashes(1000, seed=9))
    m = _plan_m(len(keys))
    table, stash = _build_table(keys, m, 12)
    used_before = int((table != 0).sum()) + len(stash)
    assert used_before == len(keys)  # one slot per key, duplicates none
    assert table.dtype == np.uint16 and len(table) == m * _SLOTS


def test_delete_stash_collision_removes_one_occurrence(spark):
    """Two distinct URLs colliding on the same (i1, fp) stash key:
    deleting one must consume exactly ONE stash slot, leaving the
    sibling's entry (and its membership) intact. The old setdiff1d
    form stripped ALL occurrences, turning the sibling into a false
    negative — the one guarantee a cuckoo prefilter must never break."""
    from fundamental_spark.crawl.cuckoo import _fp_i1_i2, _stash_key
    from fundamental_spark.schemas import CUCKOO_SCHEMA

    m, f = 16, 12
    h1, h2 = 244, 402  # found by search: same stash key at m=16
    def sk_of(h: int) -> int:
        fp, i1, _ = _fp_i1_i2(np.array([h], dtype=np.uint64), m, f)
        return int(_stash_key(i1, fp)[0])

    sk1, sk2 = sk_of(h1), sk_of(h2)
    assert sk1 == sk2  # the collision premise
    table = np.zeros(m * _SLOTS, dtype=np.uint16)
    stash = np.array([sk1, sk2], dtype=np.uint64)
    filt = spark.createDataFrame(
        [(0, m, f, table.tobytes(), np.sort(stash).tobytes())], CUCKOO_SCHEMA
    )
    dels = spark.createDataFrame([(h1, 0)], "url_hash long, domain_shard int")
    out = delete_keys(filt, dels).collect()[0]
    remaining = np.frombuffer(out["stash"], dtype=np.uint64)
    assert list(remaining) == [sk2]  # exactly one occurrence consumed
    probe = spark.createDataFrame([(h2, 0)], "url_hash long, domain_shard int")
    got = probe_cuckoo(probe, delete_keys(filt, dels)).collect()[0]
    assert got["maybe_seen"]  # the sibling is still a member
