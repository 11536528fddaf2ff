"""Partitioned cuckoo filter over the URL-seen set — the prefilter the
north rule names ("bloom-filter/cuckoo-filter URL-seen set").

One filter row per ``domain_shard`` (the salted url-hash shard,
SURVEY.md §2.8 T7), built with applyInPandas (numpy-vectorized — no
per-row Python on the build path), probed vectorized from a broadcast
variable, and used strictly as a PREFILTER in front of the exact
anti-join (seen.py): no false negatives for present keys; a false
positive only routes a row through the exact join.

Why cuckoo over a bloom filter: DELETION. A bloom cannot unset a bit,
so a listing the refresh scheduler re-queues stays "maybe seen" and
pays the exact join forever; `delete_keys` removes re-queued URLs in
place (Fan et al. 2014, "Cuckoo Filter: Practically Better Than
Bloom"). Against the bloom it replaced (BENCH/BASELINE.md, round 6, 2M
keys) it also built and probed faster with ~9x fewer false positives.

Design (partial-key cuckoo, 4-slot buckets, f=12-bit fingerprints):

- bucket count m is a power of two so the partner bucket is the XOR
  form i2 = i1 XOR h(fp) — self-inverse, probe-able from either side;
- the STATIC build replaces the sequential evict-loop insert with a
  two-round vectorized greedy (place everything at i1, overflow
  retries at i2) plus an exact STASH for the residue (stash-backed
  cuckoo hashing, Kirsch-Mitzenmacher-Wieder 2009). At the sizing
  load factor ~0.5 the stash is a vanishing fraction (asserted in
  tests) and membership stays exactly "fingerprint in either bucket
  or stash" — no false negatives by construction, also when the
  sizing hint undercounts and the stash grows;
- deletion zeroes one matching fingerprint occurrence (keys are
  distinct URLs, inserted once each) or drops the stash entry. Only
  inserted keys may be deleted — standard cuckoo semantics.

FP rate ≈ 2·slots/2^f = 8/4096 ≈ 0.2% at f=12. Cost is 2 bytes/slot
× 8·n slots ≈ 4 bytes/key at the greedy build's 50% load (up to ≈8
after rounding m up to a power of two); a sequential evict-loop build
reaches 95% load (≈2.1 bytes/key) at the price of a per-key Python
loop, the wrong trade on an executor.

Memory bound: all filter bytes must fit DRIVER memory (the bounded
collect in probe_cuckoo) and executor memory (the broadcast) — 4-8 GB
at 10^9 keys. Past that (10^10-key frontiers) the scale path is
co-partitioning: shuffle candidates on domain_shard and read each
shard's table only in its own task — never per-row duplication (see
probe_cuckoo's docstring for the measured cost of getting this wrong).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import CUCKOO_SCHEMA

_SLOTS = 4
_F_BITS = 12


def _mix(x: np.ndarray, c1: int, c2: int) -> np.ndarray:
    """splitmix64-style avalanche; each call site's constants give it
    an independent stream."""
    z = x + np.uint64(c1)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(c2)
    return z ^ (z >> np.uint64(31))


def _fp_i1_i2(h: np.ndarray, m: int, f: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """fingerprint in [1, 2^f-1] (0 = empty slot), canonical bucket,
    partner bucket. All uint64 vector math."""
    x = h.astype(np.uint64)
    fp = (_mix(x, 0x9E3779B97F4A7C15, 0x94D049BB133111EB) % np.uint64((1 << f) - 1)) + np.uint64(1)
    i1 = _mix(x, 0xC2B2AE3D27D4EB4F, 0xBF58476D1CE4E5B9) & np.uint64(m - 1)
    i2 = (i1 ^ _mix(fp, 0x165667B19E3779F9, 0x94D049BB133111EB)) & np.uint64(m - 1)
    return fp.astype(np.uint16), i1.astype(np.int64), i2.astype(np.int64)


def _stash_key(i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
    return (i1.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)


def _plan_m(n_keys: int) -> int:
    """Buckets: next power of two giving load factor <= ~0.5 for the
    two-round greedy build (stash stays negligible there)."""
    need = max(n_keys, 1) / (_SLOTS * 0.5)
    m = 1
    while m < need:
        m <<= 1
    return m


def _rank_within(buckets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For each element, its 0-based arrival rank within its bucket
    value (stable). Returns (order, rank_in_order) aligned to input."""
    order = np.argsort(buckets, kind="stable")
    sorted_b = buckets[order]
    starts = np.flatnonzero(np.r_[True, sorted_b[1:] != sorted_b[:-1]])
    lens = np.diff(np.r_[starts, len(sorted_b)])
    rank_sorted = np.arange(len(sorted_b)) - np.repeat(starts, lens)
    rank = np.empty(len(buckets), dtype=np.int64)
    rank[order] = rank_sorted
    return order, rank


def _build_table(h: np.ndarray, m: int, f: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized greedy two-choice placement; returns (table
    uint16[m*_SLOTS], stash uint64[])."""
    table = np.zeros(m * _SLOTS, dtype=np.uint16)
    if len(h) == 0:
        return table, np.zeros(0, dtype=np.uint64)
    fp, i1, i2 = _fp_i1_i2(h, m, f)
    # round 1: everyone tries its canonical bucket
    _, r1 = _rank_within(i1)
    placed1 = r1 < _SLOTS
    table[i1[placed1] * _SLOTS + r1[placed1]] = fp[placed1]
    occ = np.bincount(i1[placed1], minlength=m)
    # round 2: the overflow tries its partner bucket, on top of round-1
    # occupancy (partner buckets may also hold round-1 keys)
    rest = ~placed1
    if rest.any():
        ri2, rfp = i2[rest], fp[rest]
        _, r2 = _rank_within(ri2)
        total = r2 + occ[ri2]
        placed2 = total < _SLOTS
        table[ri2[placed2] * _SLOTS + total[placed2]] = rfp[placed2]
        # stash the residue (exact, tiny at the sizing load factor)
        stash = _stash_key(i1[rest][~placed2], rfp[~placed2])
    else:
        stash = np.zeros(0, dtype=np.uint64)
    return table, np.sort(stash)


def build_cuckoo(seen: DataFrame, n_keys_per_shard: int) -> DataFrame:
    """seen(url_hash, domain_shard) -> one cuckoo row per shard."""
    m = _plan_m(n_keys_per_shard)
    f = _F_BITS

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        table, stash = _build_table(h, m, f)
        return pd.DataFrame(
            {
                "domain_shard": [int(pdf["domain_shard"].iloc[0]) if len(pdf) else -1],
                "m": [m],
                "f": [f],
                "table": [table.tobytes()],
                "stash": [stash.tobytes()],
            }
        )

    return (
        seen.select("url_hash", "domain_shard")
        .groupBy("domain_shard")
        .applyInPandas(_build, schema=CUCKOO_SCHEMA)
    )


def _member_mask(
    h: np.ndarray, table: np.ndarray, stash: np.ndarray, m: int, f: int
) -> np.ndarray:
    fp, i1, i2 = _fp_i1_i2(h, m, f)
    hit = np.zeros(len(h), dtype=bool)
    for s in range(_SLOTS):
        hit |= table[i1 * _SLOTS + s] == fp
        hit |= table[i2 * _SLOTS + s] == fp
    if len(stash):
        hit |= np.isin(_stash_key(i1, fp), stash)
    return hit


def probe_cuckoo(candidates: DataFrame, cuckoo: DataFrame) -> DataFrame:
    """candidates(url_hash, domain_shard, ...) + cuckoo table ->
    candidates with ``maybe_seen``. maybe_seen=False is definitive
    for keys never deleted (no false negatives).

    The per-shard tables ride a Spark BROADCAST VARIABLE read inside
    the UDF (bounded collect: n_shards rows), so candidates are never
    shuffled and no table byte is ever serialized per candidate row.
    The earlier broadcast-JOIN design was quietly quadratic in traffic:
    the join column carrying the shard's table was materialized into
    EVERY candidate row of the Arrow batches feeding the UDF — ~150 KB
    duplicated per row at bench sizing (measured 260 s -> ~1.1 s for a
    200k-row probe of a 2M-key filter). Broadcast lifecycle: one
    broadcast per probe call, freed by Spark's ContextCleaner once the
    caller releases the returned DataFrame — a wave-loop caller that
    drops its frames per wave (the runner does) keeps O(1) broadcasts
    live. For the memory bound and the co-partitioned path past it,
    see the module docstring."""
    sc = candidates.sparkSession.sparkContext
    tables = {
        int(r["domain_shard"]): (
            int(r["m"]), int(r["f"]), bytes(r["table"]), bytes(r["stash"])
        )
        for r in cuckoo.collect()
    }
    bc = sc.broadcast(tables)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _member(url_hash: pd.Series, shard: pd.Series) -> pd.Series:
        out = np.zeros(len(url_hash), dtype=bool)
        if len(url_hash) == 0:
            return pd.Series(out)
        arr_h = url_hash.to_numpy(dtype=np.int64).view(np.uint64)
        sh = shard.to_numpy()
        for s in np.unique(sh):
            ent = bc.value.get(int(s))
            i = np.nonzero(sh == s)[0]
            if ent is None:
                continue
            mm, ff, tb_b, st_b = ent
            tb = np.frombuffer(tb_b, dtype=np.uint16)
            st = np.frombuffer(st_b, dtype=np.uint64)
            out[i] = _member_mask(arr_h[i], tb, st, mm, ff)
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", _member("url_hash", "domain_shard"))


def delete_keys(cuckoo: DataFrame, deletes: DataFrame) -> DataFrame:
    """Remove previously-inserted keys from the per-shard filters —
    the operation a bloom filter cannot do. deletes(url_hash, domain_shard)
    must contain only inserted keys (standard cuckoo deletion
    contract; deleting an absent key could evict another key's
    colliding fingerprint and create a false negative).

    Cogroup join per shard; the per-unique-(bucket,fp) removal loop is
    Python but runs over the DELETE batch only (refresh slots are
    O(refresh_rate), orders below frontier volume) and each iteration
    is O(_SLOTS)."""
    d = deletes.select("url_hash", "domain_shard")

    def _apply(key, cuckoo_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cuckoo_pdf) == 0:
            return cuckoo_pdf
        row = cuckoo_pdf.iloc[0]
        if len(del_pdf) == 0:
            return cuckoo_pdf
        m, f = int(row["m"]), int(row["f"])
        table = np.frombuffer(row["table"], dtype=np.uint16).copy()
        stash = np.frombuffer(row["stash"], dtype=np.uint64).copy()
        h = del_pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        fp, i1, i2 = _fp_i1_i2(h, m, f)
        sk = _stash_key(i1, fp)
        # Drop stash entries first — ONE stash slot per matching delete
        # key (multiset removal). np.setdiff1d would strip ALL
        # occurrences of a colliding (i1, fp) value, silently deleting
        # another URL's entry; and if more delete keys share a stash
        # key than the stash holds, the surplus keys must fall through
        # to table-slot removal.
        from collections import Counter

        stash_cnt = Counter(stash.tolist())
        from_stash = np.zeros(len(sk), dtype=bool)
        for j in range(len(sk)):
            v = int(sk[j])
            if stash_cnt.get(v, 0) > 0:
                stash_cnt[v] -= 1
                from_stash[j] = True
        stash = np.sort(
            np.array(
                [v for v, c in stash_cnt.items() for _ in range(c)],
                dtype=np.uint64,
            )
        )
        rem_fp, rem_i1, rem_i2 = fp[~from_stash], i1[~from_stash], i2[~from_stash]
        pairs = {}
        for j in range(len(rem_fp)):
            pairs.setdefault((int(rem_fp[j]), int(rem_i1[j]), int(rem_i2[j])), 0)
            pairs[(int(rem_fp[j]), int(rem_i1[j]), int(rem_i2[j]))] += 1
        for (fpv, b1, b2), cnt in pairs.items():
            for b in (b1, b2):
                s = 0
                while s < _SLOTS and cnt > 0:
                    if table[b * _SLOTS + s] == fpv:
                        table[b * _SLOTS + s] = 0
                        cnt -= 1
                    s += 1
        out = cuckoo_pdf.copy()
        out.loc[out.index[0], "table"] = table.tobytes()
        out.loc[out.index[0], "stash"] = np.sort(stash).tobytes()
        return out

    return (
        cuckoo.groupBy("domain_shard")
        .cogroup(d.groupBy("domain_shard"))
        .applyInPandas(_apply, schema=CUCKOO_SCHEMA)
    )
