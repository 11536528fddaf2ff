"""Deduplication operators for training-data pipelines.

All are pure DataFrame plans (no Python in the hot path):

- ``exact_dedup``: hash-groupBy on the normalized-text fingerprint.
- ``ngram_jaccard_pairs``: exact word n-gram shingle Jaccard
  |A∩B| / (|A|+|B|−|A∩B|), computed by vectorized numpy postings
  merges per block pair (mapInPandas); only per-doc hash arrays
  shuffle, never the pair expansion.
- MinHash-LSH: k signature minima per doc (codegen'd explode +
  groupBy), cut into b bands of r rows by one builder (``_band_rows``).
  ``minhash_lsh_pairs`` self-joins the whole corpus's band rows;
  ``minhash_probe_band_index`` joins a delta's band rows against a
  stored band index, and serves ``minhash_incremental_pairs``, the
  crawl's per-wave hook and the streaming drain. Candidates are
  verified with exact Jaccard via per-pair array_intersect — only
  candidates pay the pair cost.
- ``simhash``: 64-bit sign fingerprint from token-frequency-weighted
  bit votes; near-dup pairs found by the 4×16-bit block-pigeonhole
  join (hamming ≤ 3 ⇒ at least one equal block), verified by
  bit_count(xor).

Deterministic throughout: hash constants are fixed (no runtime RNG).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens

# MinHash position i is pmod(a_i*h + b_i, P31) with a_i < 2^30 and
# h < 2^31: a*h < 2^61 fits int64 and the modulus wraps ~2^30 times, so
# the k positions are independent hashes of each shingle and the banded
# capture model 1-(1-j^r)^b holds (pinned by the capture tests). A
# modulus above a*h+b would never wrap: every position would be a
# monotone map of the same argmin shingle and capture would collapse to j.
P31 = (1 << 31) - 1
_A_SEED = 0x9E3779B97F4A7C15


def spread(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive in 1-2 scan partitions, so heavy
    row-wise expressions (HOF lambdas are interpreted, not codegen'd)
    run single-threaded. Spread to the session's parallelism; no-op at
    scale, where scans already split into ≥cores partitions."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _mh_constants(k: int) -> list[tuple[int, int]]:
    """Deterministic affine constants (a odd < 2^30, b < 2^30)."""
    out = []
    x = _A_SEED
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (x >> 34) | 1          # odd, < 2^30
        b = (x >> 4) % (1 << 30)
        out.append((a, b))
    return out


def word_kgrams(text: Column, n: int = 3) -> Column:
    """Ordered word n-grams (duplicates kept, document order).

    Built with ONE codegen'd regex pass — a lookahead capture over the
    whitespace-normalized text — instead of a per-gram
    element_at/concat_ws HOF: higher-order lambdas are INTERPRETED
    expression trees, measured ~20× slower on the 5-gram contamination
    scan (11.0 s → 0.6 s at sf0.1, round 4) and the single biggest
    cost in every shingle pipeline. Output is identical (equivalence
    pinned by tests/test_dedup.py, incl. messy whitespace): tokens are
    \\s+-separated, grams joined with a single space."""
    norm = F.regexp_replace(F.trim(text), r"\s+", " ")
    pat = r"(?=(" + " ".join([r"\S+"] * n) + r"))\S+"
    return F.coalesce(
        F.regexp_extract_all(norm, F.lit(pat), 1),
        F.array().cast("array<string>"),
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (0-based array subscripts)."""
    return F.array_distinct(word_kgrams(text, n))


def _doc_gram_counts(docs: DataFrame, grams: Column, id_col: str) -> DataFrame:
    """(doc, g, c): how often each gram of the array ``grams`` occurs
    in each document — the explode → (doc, gram) partial-aggregable
    groupBy, O(len) per row and keyed wide enough never to hot-spot."""
    return (
        docs.select(F.col(id_col).alias("doc"), F.explode(grams).alias("g"))
        .groupBy("doc", "g")
        .agg(F.count("*").alias("c"))
    )


def _md5_hash60(s: Column) -> Column:
    """60-bit integer hash from md5 — chosen because BOTH Spark
    (conv(hex,16,10)) and DuckDB (CAST('0x'||hex AS BIGINT)) can
    compute it identically, so winnowing fingerprints are
    oracle-checkable cross-engine (xxhash64 exists only in Spark)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def winnow_fingerprints(text: Column, n: int = 3, window: int = 4) -> Column:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer et
    al. 2003): hash the ordered word n-grams, slide a window of ``w``
    hashes, keep the minimum of each window, dedup. Guarantees any
    shared run of ≥ n+w-1 tokens between two documents shares ≥1
    fingerprint, while storing ~2/(w+1) of the full shingle index —
    the fingerprint index the 100 TB dedup tier joins on.

    NOTE: as a single Column expression the hash array is inlined into
    the window lambda and recomputed per window — fine for fixtures;
    hot paths must use the staged pipeline in ``winnow_pairs`` (hash
    array materialized once per row; 28 s -> 2 s at sf0.1)."""
    return _winnow(F.transform(word_kgrams(text, n), _md5_hash60), window)


def _winnow(hs: Column, window: int) -> Column:
    """Distinct minima of every ``window``-wide slice of the hash array
    ``hs``; all of ``hs``, deduplicated, when it is shorter than one
    window."""
    idx = F.sequence(F.lit(1), F.size(hs) - window + 1)
    mins = F.transform(idx, lambda i: F.array_min(F.slice(hs, i, window)))
    return F.when(F.size(hs) >= window, F.array_distinct(mins)).otherwise(
        F.array_distinct(hs)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: one
    representative (min id) + member count per group."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _shingle_hashes(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, h): one row per distinct shingle with its 60-bit hash —
    the exploded hash table the signature agg, the verify aggs and the
    blocked-jaccard block builder all derive from. NOTE: computing
    this ONCE per plan via an eager checkpoint and sharing it between
    consumers was measured SLOWER than letting each consumer re-run
    the scan-fused pipeline (round 7: materializing the exploded rows
    cost 46 s executor time vs the ~31 s fused pass, and consumers
    lose whole-stage codegen with the scan) — keep consumers deriving
    it independently."""
    return (
        spread(docs)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        )
        .select("doc", _md5_hash60(F.col("sh")).alias("h"))
    )


def _expand(starts, counts):
    """Concatenated [start, start+count) ranges, vectorized."""
    import numpy as np

    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    ends = np.cumsum(counts)
    out[0] = starts[0]
    out[ends[:-1]] = starts[1:] - (starts[:-1] + counts[:-1] - 1)
    return np.cumsum(out)


def _unpack_block(ids_cell, lens_cell, flat_cell):
    """A block's (ids, per-doc shingle counts, all hashes sorted, the
    row of each sorted hash)."""
    import numpy as np

    ids = np.asarray(ids_cell)
    lens = np.asarray(lens_cell, dtype=np.int64)
    flat = np.asarray(flat_cell, dtype=np.int64)
    rows = np.repeat(np.arange(len(ids), dtype=np.int64), lens)
    order = np.argsort(flat, kind="stable")
    return ids, lens, flat[order], rows[order]


def _jaccard_block_pairs(batches, threshold: float):
    """mapInPandas kernel of ``ngram_jaccard_pairs``: one input row per
    block pair (blk_a, blk_b, ids/lens/flat of each side); yields the
    (doc_a < doc_b, inter, na, nb) integer rows whose jaccard reaches
    the threshold."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        for row in pdf.itertuples(index=False):
            ids_a, lens_a, sha, ra = _unpack_block(row.ids_a, row.lens_a, row.flat_a)
            same = row.blk_a == row.blk_b
            if same:
                ids_b, lens_b, shb, rb = ids_a, lens_a, sha, ra
            else:
                ids_b, lens_b, shb, rb = _unpack_block(row.ids_b, row.lens_b, row.flat_b)
            ua, ia, ca = np.unique(sha, return_index=True, return_counts=True)
            ub, ib, cb = np.unique(shb, return_index=True, return_counts=True)
            _, xa, xb = np.intersect1d(ua, ub, assume_unique=True, return_indices=True)
            if not len(xa):
                continue
            pa, pb = ca[xa], cb[xb]
            # each a-entry of a common hash pairs with all b-entries
            reps = np.repeat(pb, pa)
            left = np.repeat(ra[_expand(ia[xa], pa)], reps)
            right = rb[_expand(np.repeat(ib[xb], pa), reps)]
            nb_rows = len(ids_b)
            counts = np.bincount(
                left * nb_rows + right, minlength=len(ids_a) * nb_rows
            ).reshape(len(ids_a), nb_rows)
            na_m = lens_a[:, None]
            nb_m = lens_b[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                jac = counts / (na_m + nb_m - counts)
            mask = counts > 0
            if same:
                mask &= ids_a[:, None] < ids_b[None, :]
            mask &= jac >= threshold
            ii, jj = np.nonzero(mask)
            if not len(ii):
                continue
            ia_ids, ib_ids = ids_a[ii], ids_b[jj]
            if same:
                lo, hi = ia_ids, ib_ids
            else:
                flip = ib_ids < ia_ids
                lo = np.where(flip, ib_ids, ia_ids)
                hi = np.where(flip, ia_ids, ib_ids)
            yield pd.DataFrame(
                {
                    "doc_a": lo,
                    "doc_b": hi,
                    "inter": counts[ii, jj],
                    "na": lens_a[ii],
                    "nb": lens_b[jj],
                }
            )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_rows: int = 2048,
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold: (doc_a, doc_b, jaccard).

    The work is the inverted-index join's Σ_sh df(sh)² pair
    increments, executed as vectorized numpy inside one mapInPandas
    task per BLOCK PAIR (the jaccard twin of
    similarity.embedding_near_dup_gemm). The row-at-a-time index join
    (shingle self-join + pair groupBy) blows up on a small shingle
    vocabulary: at sf1.0 the 50k synthetic documents share only 27,865
    distinct shingles (mean df ≈ 94), so it emits 257M rows into a
    114M-group aggregation — measured 273.8 s on local[32] against ~8 s
    here. Docs hash into ~n/``block_rows`` blocks carrying per-doc
    sorted 60-bit shingle-hash arrays; for each block pair the task
    merges the two postings lists (argsort + intersect1d), expands the
    per-hash cross products with cumsum tricks, and bincounts row-pair
    keys into the dense intersection-count matrix. Only the (id,
    hashes) arrays are ever shuffled (O(corpus), never O(df²)).

    Tasks emit the integer triples (inter, na, nb) for survivors only;
    jaccard is divided and rounded JVM-side from those exact integers,
    so the float result is the same single IEEE-754 division the
    DuckDB oracle performs (equality with the index join pinned by
    tests/test_dedup.py::test_ngram_jaccard_plans_bit_identical).
    Equality rests on the same negligible-md5-collision assumption the
    whole signature pipeline documents (two distinct shingles of one
    corpus colliding in 60 bits: ~C(27865,2)·2⁻⁶⁰ ≈ 3e-10). Ids may be
    any orderable type; non-ASCII string ids would order by
    Python/numpy unicode rather than Spark's binary collation (all
    fixtures and tables here use ASCII or numeric ids).
    """
    import math

    sess = docs.sparkSession
    id_type = docs.schema[id_col].dataType.simpleString()
    mid_schema = f"doc_a {id_type}, doc_b {id_type}, inter long, na long, nb long"
    # one aggregation measures the corpus: its size, and a bound on its
    # shingle hashes for the broadcast gate below (a token takes at
    # least one character plus a separator, so a text of c characters
    # has at most ceil(c/2) word n-grams)
    n_docs, max_shingles = docs.agg(
        F.count(F.lit(1)), F.sum(F.ceil(F.length(F.col(text_col)) / 2))
    ).first()
    if n_docs == 0:
        return sess.createDataFrame([], f"doc_a {id_type}, doc_b {id_type}, jaccard double")
    par = sess.sparkContext.defaultParallelism
    nblocks = max(math.ceil(n_docs / block_rows), math.ceil(math.sqrt(2 * par)))
    hsz = (
        _shingle_hashes(docs, id_col=id_col, text_col=text_col, n=n)
        .groupBy("doc")
        .agg(F.collect_list("h").alias("hs"))
    )
    # Block payloads are FLAT columns (ids, per-doc lengths, one
    # concatenated hash array), not an array of (id, hashes) structs:
    # Arrow hands each cell to Python as a single numpy-convertible
    # array, so a task's unpack is three np.asarray calls instead of
    # ~2k per-record struct accesses + concatenates — the struct form
    # measured ~2 s of Python per task (run>>cpu in the stage profile).
    # The three transforms decompose ONE collect_list, so the per-doc
    # order of ids/lens/flat is consistent by construction.
    blocks = (
        hsz.select(
            F.pmod(F.xxhash64(F.col("doc")), F.lit(nblocks)).cast("int").alias("blk"),
            F.struct(F.col("doc").alias("id"), F.col("hs").alias("hs")).alias("rec"),
        )
        .groupBy("blk")
        .agg(F.collect_list("rec").alias("recs"))
        .select(
            "blk",
            F.transform("recs", lambda r: r["id"]).alias("ids"),
            F.transform("recs", lambda r: F.size(r["hs"])).alias("lens"),
            F.flatten(F.transform("recs", lambda r: r["hs"])).alias("flat"),
        )
    )
    pair_meta = sess.createDataFrame(
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "blk_a int, blk_b int",
    )
    a_side = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
        F.col("lens").alias("lens_a"), F.col("flat").alias("flat_a"),
    )
    b_side = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
        F.col("lens").alias("lens_b"), F.col("flat").alias("flat_b"),
    )
    # Fan the TINY pair-meta out to the task count FIRST, then attach
    # the block payloads by broadcast: the exchange carries two ints
    # per task and each block's bytes move to the workers exactly once
    # (guide §8 — decide with small rows, move big rows once). Letting
    # the planner shuffle-join here instead ships every block once PER
    # PAIR through the exchange: measured 521 MB shuffled and 25 s of
    # fetch+deserialize at sf1.0 vs ~20 MB broadcast. The broadcast is
    # gated on the measured bound of the hash arrays' bytes (an
    # F.broadcast hint bypasses autoBroadcastJoinThreshold, so the gate
    # keeps a long-document corpus off the 8 GB broadcast cap); past it
    # the plain join keeps the operator correct in its degraded mode —
    # but an exact all-pairs jaccard at >1M docs is compute-infeasible
    # anyway (Σ df² pair increments), and the banded/winnow paths are
    # the scale plans.
    ntasks = min(nblocks * (nblocks + 1) // 2, 4 * par)
    if (max_shingles or 0) * 8 <= 512 * 1024 * 1024:
        a_side, b_side = F.broadcast(a_side), F.broadcast(b_side)
    tasks = pair_meta.repartition(ntasks).join(a_side, "blk_a").join(b_side, "blk_b")

    partial = tasks.mapInPandas(
        lambda batches: _jaccard_block_pairs(batches, threshold), mid_schema
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return partial.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def minhash_signatures(
    docs: DataFrame, k: int = 64, n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """One row per doc with mh0..mh{k-1} — explode the shingle set,
    hash + affine-transform in WHOLE-STAGE CODEGEN, and take the k
    minima with a partially-aggregated groupBy(doc).

    Round-4 plan change, measured 12.5× faster (7.4 s → 0.59 s full
    signature build at sf0.1, bit-identical output): the previous
    row-wise array-HOF form (transform + array_min) kept everything in
    one map stage but HOF lambdas are INTERPRETED — ~30 µs/shingle of
    expression-tree walking dominated the whole minhash runtime, and k
    made almost no difference (k=1 cost the same as k=64). The explode
    form runs md5 + all k transforms inside codegen; the groupBy(doc)
    is map-side combined, and each document's shingles live in one
    partition (one row pre-explode), so the exchange carries exactly
    one 65-value row per document — NOT the shingle table. Zero
    full-table shuffle, scale-safe, and 12× the single-node speed.

    The base shingle hash is the md5-derived 60-bit hash mod 2^31 (not
    xxhash64) so the ENTIRE signature pipeline is reproducible in
    DuckDB — minhash-LSH gets a full cross-engine oracle, like SimHash
    and winnowing. Position i is pmod(a_i*h + b_i, P31) (see P31)."""
    base = _shingle_hashes(docs, id_col=id_col, text_col=text_col, n=n)
    # bound the base hash to 2^31 so a*h fits int64 under ANSI
    ex = base.select("doc", F.pmod(F.col("h"), F.lit(1 << 31)).alias("h"))
    return ex.groupBy("doc").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(P31))).alias(
                f"mh{i}"
            )
            for i, (a, b) in enumerate(_mh_constants(k))
        ]
    )


def _band_rows(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc, band_idx, band_hash): one row per (doc, band) of a
    signature table (``minhash_signatures``), band i holding signature
    rows i·r .. i·r+r-1 with r = k/bands. The band key is the r values
    verbatim (concat-joined), NOT a hash of them: exact tuple equality
    has no collision-induced extra candidates and is reproducible in
    DuckDB (full oracle)."""
    if k % bands:
        raise ValueError(f"k={k} signature rows do not split into {bands} bands")
    r = k // bands
    keys = [
        F.concat_ws("-", *[F.col(f"mh{band * r + j}") for j in range(r)])
        for band in range(bands)
    ]
    return sigs.select(
        "doc", F.posexplode(F.array(*keys)).alias("band_idx", "band_hash")
    )


def minhash_capture_prob(jaccard: float, k: int, bands: int) -> float:
    """P(a pair at this jaccard collides in ≥1 band) = 1-(1-j^r)^b."""
    r = k // bands
    return 1.0 - (1.0 - jaccard**r) ** bands


def _require_recall(
    threshold: float, k: int, bands: int, allow_low_recall: bool
) -> None:
    """The recall guard of every banded MinHash operator: a config that
    captures under 0.9 of the pairs at the threshold raises unless the
    caller states ``allow_low_recall=True`` (a documented
    candidate-generation operating point) — a silently under-recalling
    config was round-3 verdict item #3."""
    if allow_low_recall:
        return
    cap = minhash_capture_prob(threshold, k, bands)
    if cap < 0.9:
        raise ValueError(
            f"MinHash config k={k} bands={bands} captures only "
            f"{cap:.2f} of pairs at jaccard {threshold}; pass "
            f"allow_low_recall=True to run it anyway"
        )


def cheapest_banding(
    p_row: float,
    p_bg: float,
    recall_target: float,
    bg_keep_limit: float,
    max_rows: int,
) -> tuple[int, int] | None:
    """The banded-LSH search both near-dup planners share: the layout
    (r rows per band, b bands) with the fewest signature rows r·b, or
    None. ``p_row`` is one signature row's collision probability for a
    pair AT the threshold, ``p_bg`` for a background pair. A layout is
    valid iff at-threshold pairs collide in ≥1 band with probability
    ≥ recall_target, background pairs with probability ≤ bg_keep_limit
    (the banding actually prunes), and r·b ≤ max_rows. r scans 1..16;
    b is the fewest bands reaching the recall target at that r."""
    import math

    best = None
    for r in range(1, 17):
        pr = p_row**r
        if not 0.0 < pr < 1.0:
            continue
        b = math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - pr))
        if b < 1 or r * b > max_rows:
            continue
        bg = 1.0 - (1.0 - p_bg**r) ** b
        if bg <= bg_keep_limit and (best is None or r * b < best[0] * best[1]):
            best = (r, b)
    return best


def plan_minhash_config(
    threshold: float,
    recall_target: float = 0.9,
    bg_jaccard: float = 0.01,
    bg_keep_limit: float = 0.05,
    max_k: int = 256,
) -> tuple[int, int] | None:
    """Derive a MinHash-LSH config (k signature rows, b bands) from the
    jaccard threshold — the twin of similarity.plan_near_dup_config for
    cosine; a MinHash row collides with probability = the jaccard. A
    config is valid iff (a) pairs AT the threshold collide in ≥1 band
    with probability ≥ recall_target and (b) unrelated background pairs
    (jaccard ≈ bg_jaccard — web documents share almost no shingles)
    collide with probability ≤ bg_keep_limit. Returns the cheapest
    valid (k, b) by signature size (``cheapest_banding``), or None when
    none exists within max_k — at low thresholds (e.g. 0.1, where
    rows/band must be 1-2) at-threshold recall costs hundreds of
    signature rows, and the exact inverted-index join is the honest
    plan instead. Round-3 verdict item: the previous fixed (64,16)
    default silently captured only ~half the pairs at jaccard 0.1."""
    t = min(max(threshold, 1e-9), 1.0 - 1e-9)
    best = cheapest_banding(t, bg_jaccard, recall_target, bg_keep_limit, max_k)
    return None if best is None else (best[0] * best[1], best[1])


def minhash_near_dup_auto(
    docs: DataFrame,
    threshold: float = 0.1,
    recall_target: float = 0.9,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Threshold-adaptive near-dup dispatcher (the jaccard twin of
    similarity.embedding_near_dup_auto): derive a banded config whose
    at-threshold recall ≥ recall_target; when none exists within the
    signature budget — provably the case at low thresholds like 0.1 —
    run the exact inverted-index join instead (full recall, full DuckDB
    oracle). The decision is a function of the parameters, never the
    data, so the chosen plan is deterministic per operating point."""
    cfg = plan_minhash_config(threshold, recall_target=recall_target)
    if cfg is None:
        return ngram_jaccard_pairs(
            docs, threshold=threshold, n=n, id_col=id_col, text_col=text_col
        )
    k, b = cfg
    return minhash_lsh_pairs(
        docs, threshold=threshold, k=k, bands=b, n=n,
        id_col=id_col, text_col=text_col,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    k: int | None = None,
    bands: int | None = None,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_exact: bool = True,
    allow_low_recall: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs. Candidates collide in ≥1 band of
    r=k/bands rows; with verify_exact the candidates are confirmed with
    exact shingle Jaccard (only candidates pay the pair cost).

    (k, bands) default to the threshold-derived config
    (plan_minhash_config) so at-threshold recall ≥ 0.9 by construction;
    an explicit config below that recall raises unless the caller
    states ``allow_low_recall=True`` (``_require_recall``).

    Pairs come from a ``x.doc < y.doc`` self-join of the band rows, so
    each pair is emitted once; ``minhash_probe_band_index``'s delta
    join (``!=``, both orders, then canonicalized) would emit it twice.

    Candidates are verified row-wise with a long-array
    ``array_intersect`` over the two docs' shingle-hash arrays
    (_verify_candidate_pairs): cost ∝ |candidates| × shingles/doc. The
    oracle's codegen explode-join COUNT shape (cinter CTE) lost the
    round-5 A/B at every measured volume — 41k / 0.4M / 3.6M candidate
    pairs (local[32], sf0.1-derived corpora, bit-identical outputs):
    array 2.0/16.7/32.3 s vs join 3.3/27.2/54.4 s — because its shuffle
    volume grows with the same |candidates|×shingles/doc product that
    the array plan pays only interpreter cycles for."""
    if (k is None) != (bands is None):
        # deriving BOTH from the planner here would silently discard
        # the caller's explicit half (e.g. k=128 with bands unset would
        # run a different signature size than requested)
        raise ValueError(
            "pass both k and bands or neither; a partial explicit "
            f"config (k={k}, bands={bands}) would be silently overridden"
        )
    if k is None or bands is None:
        cfg = plan_minhash_config(threshold)
        if cfg is None:
            raise ValueError(
                f"no banded MinHash config reaches recall 0.9 at jaccard "
                f"{threshold} within the signature budget; use "
                f"minhash_near_dup_auto (exact fallback) or pass an "
                f"explicit (k, bands) with allow_low_recall=True"
            )
        k, bands = cfg
    _require_recall(threshold, k, bands, allow_low_recall)
    # NOTE (round 7): sharing one checkpointed (doc, h) exploded table
    # between the signature agg and the verify agg was measured SLOWER
    # (materializing 2.6M exploded rows cost 46 s executor time vs the
    # ~31 s codegen'd fused scan+agg pass it replaced, and both
    # downstream aggs lose whole-stage fusion with the scan) — so the
    # two aggs intentionally re-run the fused shingle pipeline.
    sigs = minhash_signatures(docs, k=k, n=n, id_col=id_col, text_col=text_col)
    # explicit repartition: the signature agg's output is tiny (one row
    # per doc), so AQE's size-based coalescing collapses it to 1-2
    # partitions — and the band self-join below is size-EXPANDING (it
    # emits every bucket collision), so those 1-2 tasks would emit the
    # whole candidate multiset nearly single-threaded (measured 85 s vs
    # 13 s candidate generation on a dense corpus). Same pattern as the
    # crawl fetch join (runner.py): re-spread BEFORE the expansion.
    # The eager localCheckpoint materializes the signature table ONCE
    # (one row of 65 values per doc — MBs): the band self-join below
    # consumes `stacked` on both sides, and Spark duplicates the whole
    # shingle→md5→64-min pipeline per side (exchange reuse cannot fire
    # because column pruning gives the two sides different canonical
    # plans) — measured as two full ~26 s-executor-time corpus passes
    # at sf1.0 (round 7). Same pattern as connected_components.
    sigs = sigs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    stacked = _band_rows(sigs, k, bands)
    x = stacked.alias("x")
    y = stacked.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    if not verify_exact:
        return cands
    # The verify arrays hold the md5-derived 60-bit hashes, NOT the
    # shingle strings: string-array intersection ran interpreted at
    # ~0.8 ms/pair vs ~0.2 ms on long arrays (verify stage 8.9 s →
    # 1.6 s at sf0.1, identical output, round 4). |hash ∩| == |shingle
    # ∩| barring md5 collisions — the same negligible-collision
    # assumption the md5-keyed signature pipeline (and its DuckDB
    # oracle) already rests on.
    return _verify_candidate_pairs(
        cands, docs, threshold=threshold, n=n, id_col=id_col, text_col=text_col
    )


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    n: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs sharing ≥ min_shared winnowing
    fingerprints — the same inverted-index join as the shingle path but
    over an index ~2/(w+1) the size (that factor IS the scale win).

    ``max_fp_df`` is the boilerplate guard: fingerprints whose document
    frequency exceeds the cap are dropped BEFORE the self-join. Without
    it a fingerprint shared by m documents contributes m² join rows, so
    a boilerplate-heavy corpus (headers, licenses, templates — the NORM
    at web scale) turns the index join quadratic (measured: the one
    super-linear growth in the round-3 10× bench leg). A hot
    fingerprint identifies boilerplate, not duplication, so capping
    costs recall only on pairs whose *entire* overlap is boilerplate —
    pairs sharing any distinctive run keep their distinctive
    fingerprints (pinned by tests/test_dedup.py::test_winnow_fp_cap).
    None = pure MOSS semantics (small/curated corpora only).

    Staged selects (grams → hashes → window minima): the hash array
    materializes ONCE per row; a single-expression form would embed the
    gram-hash pipeline inside the window lambda and recompute it per
    window (measured 28 s → ~2 s at sf0.1)."""
    hashed = (
        spread(docs)
        .select(
            F.col(id_col).alias("doc"),
            word_kgrams(F.col(text_col), n).alias("grams"),
        )
        .select("doc", F.transform("grams", _md5_hash60).alias("hs"))
    )
    fps = hashed.select("doc", F.explode(_winnow(F.col("hs"), window)).alias("fp"))
    if max_fp_df is not None:
        # document-frequency guard as a WINDOW filter, not a separate
        # df-aggregate + anti-join: the aggregate form re-evaluates the
        # whole gram→hash→winnow pipeline a second time (measured +75%
        # at the 10× leg), while the window's hash-partition on fp is
        # the exact partitioning the self-join below needs anyway — one
        # pass, one shuffle, reused by the join. The repartition is
        # EXPLICIT (user-specified partition count) so AQE's size-based
        # coalescing cannot collapse the small-byte exchange to 1 task
        # and serialize the window sort + join map side (measured 5.0 s
        # single-task at sf1.0, round 7).
        from pyspark.sql import Window

        par = docs.sparkSession.sparkContext.defaultParallelism
        w = Window.partitionBy("fp")
        fps = (
            fps.repartition(par, "fp")
            .withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_fp_df)
            .drop("_df")
        )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


SIMHASH_BITS = 60  # 60-bit md5-derived hash: computable in BOTH engines


def simhash_bits(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc: token-count-weighted bit votes. The
    60-bit md5-derived token hash (vs xxhash64) makes the whole
    computation reproducible in DuckDB, so simhash pairs get a REAL
    oracle twin (queries.dedup_simhash); 60 = 4 clean 15-bit blocks
    for the hamming≤3 pigeonhole."""
    tf = _doc_gram_counts(
        spread(docs), tokens(F.lower(F.col(text_col))), id_col
    ).withColumn("h", _md5_hash60(F.col("g")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("c"))
            .otherwise(-F.col("c"))
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tf.groupBy("doc").agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
        )
    return agg.select("doc", sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via the
    block-pigeonhole join: split the bits into max_hamming+1 blocks;
    any pair within the radius shares ≥1 exact block."""
    n_blocks = max_hamming + 1
    width = SIMHASH_BITS // n_blocks
    sim = simhash_bits(docs, id_col=id_col, text_col=text_col)
    blocks = sim.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    xx = blocks.alias("x")
    yy = blocks.alias("y")
    cands = (
        xx.join(
            yy,
            (F.col("x.block_idx") == F.col("y.block_idx"))
            & (F.col("x.block_val") == F.col("y.block_val"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """(v, component) for an undirected graph — iterative min-label
    propagation, the dedup-cluster assignment step: near-dup PAIRS
    become CLUSTERS, and the pipeline keeps one representative (the
    min id) per cluster.

    Each round is one shuffle (propagate the min neighbor label, one
    groupBy) and converges in O(graph diameter) rounds — near-dup
    graphs are unions of small cliques, so a handful. Lineage is
    truncated per round with localCheckpoint (an iterative plan would
    otherwise grow unboundedly; a cluster deployment would point this
    at a checkpoint dir instead). Labels are ids, so min-propagation is
    deterministic and reproducible in SQL (the DuckDB recursive-CTE
    twin in queries.dedup_clusters).

    edges: (doc_a, doc_b) — direction ignored; vertices: (doc) — rows
    with no edge stay singleton components.
    """
    half = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    e = (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = vertices.select(F.col("doc").alias("v"), F.col("doc").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    changed = -1
    for _ in range(max_iters):
        prop = (
            e.join(
                labels.select(F.col("v").alias("src"), F.col("label").alias("nl")),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("nl").alias("nl"))
            .withColumnRenamed("dst", "v")
        )
        # the changed flag is computed INSIDE the propagation join (one
        # column compare), so the convergence check is a cheap scan of
        # the already-checkpointed result — not a second join job per
        # round (round-3 advice nit)
        new_labels = labels.join(prop, "v", "left").select(
            "v",
            F.least("label", F.coalesce("nl", "label")).alias("label"),
            (F.coalesce("nl", "label") < F.col("label")).cast("int").alias("_chg"),
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    e.unpersist()
    if changed != 0:
        # silent truncation would split long chains into several
        # clusters and diverge from the recursive-CTE fixpoint oracle —
        # fail loud instead (round-3 advice: non-convergence was silent)
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"rounds ({changed} labels still changing); the graph "
            f"diameter exceeds max_iters — raise max_iters"
        )
    return labels


def dedup_cluster_assignment(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per document with its near-dup cluster: (doc_id,
    cluster_id = min doc_id reachable through exact n-gram-Jaccard
    pairs >= threshold, cluster_size, keep = is-representative). The
    'keep one per cluster' step every dedup pipeline ends with."""
    edges = ngram_jaccard_pairs(
        docs, threshold=threshold, n=n, id_col=id_col, text_col=text_col
    ).select("doc_a", "doc_b")
    vertices = docs.select(F.col(id_col).alias("doc"))
    comp = connected_components(edges, vertices)
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    return comp.select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("v") == F.col("label")).alias("keep"),
    )


def dup_spans(
    docs: DataFrame,
    k: int = 8,
    min_len: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated-substring spans per document — the
    distributed k-gram form of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    removes every substring of >= 50 tokens that appears twice in the
    corpus; there it is a single-machine suffix array, here the
    corpus-scale approximation every large pipeline uses: a token
    position is duplicated iff the k-gram starting there occurs >= 2
    times corpus-wide, and overlapping/adjacent duplicated k-gram
    intervals are merged into maximal spans).

    Returns (doc_id, pos, span_len): one row per maximal span of
    length >= ``min_len`` tokens, ``pos`` the 0-based start token.

    Plan: one codegen regex pass builds the ordered k-grams
    (word_kgrams), posexplode attaches start positions; occurrence
    counts are a map-side-combinable groupBy on the 60-bit gram hash
    (the exchange carries one row per DISTINCT gram, not per
    position); positions meet their counts in a hash join on the gram
    hash (AQE skew-split applies when a boilerplate gram dominates);
    the interval merge is one window over (doc, pos) — the gaps-and-
    islands trick: a new span starts when the gap to the previous
    duplicated start exceeds k (start p covers tokens [p, p+k-1], so
    p' <= p+k overlaps-or-touches). Every stage is keyed and linear;
    nothing quadratic, no Python."""
    from pyspark.sql import Window

    grams = spread(docs).select(
        F.col(id_col).alias("doc"),
        F.posexplode(word_kgrams(F.col(text_col), k)).alias("pos", "g"),
    ).select("doc", "pos", _md5_hash60(F.col("g")).alias("gh"))
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gh")
    )
    dp = grams.join(dup_gh, "gh").select("doc", "pos")
    wo = Window.partitionBy("doc").orderBy("pos")
    prev = F.lag("pos").over(wo)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    isl = dp.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy("doc", "island")
        .agg(F.min("pos").alias("pos"), (F.max("pos") - F.min("pos") + k).alias("span_len"))
        .filter(F.col("span_len") >= min_len)
        .select(F.col("doc").alias(id_col), "pos", "span_len")
    )


def dup_span_stats(
    docs: DataFrame,
    k: int = 8,
    min_len: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-substring coverage: (doc_id, n_tokens,
    n_spans, dup_tokens, dup_frac) over the maximal spans from
    ``dup_spans`` (spans are disjoint by construction, so dup_tokens
    is their plain sum). Docs with no qualifying span keep a zero row
    — the downstream filter ("drop docs with dup_frac > x" / "cut the
    spans out") needs the full corpus, not just offenders."""
    from ..functions.text import token_count

    spans = dup_spans(docs, k=k, min_len=min_len, id_col=id_col, text_col=text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"), F.sum("span_len").alias("dup_tokens")
    )
    base = docs.select(
        F.col(id_col), token_count(F.col(text_col)).cast("bigint").alias("n_tokens")
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            4,
        ).alias("dup_frac"),
    )


def dedup_keep_best(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware cluster representative selection — the refinement
    of keep-min-id every production dedup ends with: within each
    near-dup cluster keep the HIGHEST-quality document (quality_score;
    ties break to the lowest id). Collapsing boilerplate families to
    their best member instead of an arbitrary one is the difference
    between dedup that preserves corpus quality and dedup that
    randomly downgrades it.

    Plan: cluster assignment (iterative min-label propagation) joined
    with the row-wise quality score, then ONE partial-aggregable
    max(struct(q, -id)) per cluster and a join-back — no per-cluster
    sort or window. Returns (doc_id, cluster_id, cluster_size, q,
    keep_best)."""
    from ..functions.text import quality_score

    clusters = dedup_cluster_assignment(
        docs, threshold=threshold, n=n, id_col=id_col, text_col=text_col
    )
    scored = clusters.drop("keep").join(
        docs.select(F.col(id_col), quality_score(F.col(text_col)).alias("q")),
        id_col,
    )
    best = scored.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("q"), (-F.col(id_col)).alias("nid"))).alias("b")
    )
    return scored.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        "q",
        (
            (F.col("q") == F.col("b.q")) & (F.col(id_col) == -F.col("b.nid"))
        ).alias("keep_best"),
    )


def minhash_incremental_pairs(
    docs: DataFrame,
    new_filter,
    threshold: float = 0.1,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    allow_low_recall: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Delta dedup — near-dup pairs TOUCHING the new ingest slice only
    (``new_filter``, a boolean Column over ``docs``): the shape a
    daily-increment pipeline runs, where re-deduping the whole corpus
    per ingest would be O(corpus) every day for an O(delta) question.

    It is ``minhash_probe_band_index`` with the delta
    ``docs.filter(new_filter)`` probing the band table of EVERY doc
    (so a row whose filter is null stays index-only) and ``docs`` as
    the verification texts. In production the index is the STORED
    band table maintained by the previous run; here it derives in-plan
    from the same docs so the operator is self-contained and its output
    is provably the full-corpus pair set restricted to pairs touching
    the delta (pinned by test and by the DuckDB oracle's touch-new
    predicate)."""
    index = minhash_band_table(
        docs, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col
    )
    pairs, _ = minhash_probe_band_index(
        docs.filter(new_filter), index, docs, threshold=threshold, k=k,
        bands=bands, n=n, allow_low_recall=allow_low_recall,
        id_col=id_col, text_col=text_col,
    )
    return pairs


def _verify_candidate_pairs(
    cands: DataFrame,
    docs: DataFrame,
    threshold: float,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs:
    shingle arrays are built ONLY for docs appearing in a candidate
    (semi-join before the collect_list agg), so the verify cost is
    O(candidate docs), never O(corpus).

    The candidate frame is materialized ONCE (eager localCheckpoint —
    pair rows only, small by construction): it is consumed twice below
    (``involved`` prune + the verify join), and without the checkpoint
    Spark re-executes the entire candidate-generation subtree per
    consumer — column pruning gives each consumer a different
    canonical plan, so exchange reuse cannot deduplicate them
    (measured: two extra full corpus passes at sf1.0, round 7). The
    lazy alternative (no checkpoints, planner-chosen joins) had no
    caller and lost on the crawl hook: ≈12 s/wave against ≈4.9 s/wave
    at sf0.1 with 4.6M candidates by wave 7 (round 7)."""
    cands = cands.localCheckpoint(eager=True)
    involved = (
        cands.select(F.col("doc_a").alias("doc"))
        .unionByName(cands.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    docs_inv = docs.join(
        involved.withColumnRenamed("doc", id_col), id_col, "left_semi"
    )
    hs_src = _shingle_hashes(docs_inv, id_col=id_col, text_col=text_col, n=n)
    # materialized once: a_sh and b_sh below are two different
    # projections of this table, and without the checkpoint each
    # broadcast build re-runs the whole semi-join + shingle + agg
    # subtree (measured as two full corpus passes at sf1.0)
    hsz = hs_src.groupBy("doc").agg(
        F.collect_list("h").alias("hs"), F.count("*").alias("n_sh")
    ).localCheckpoint(eager=True)
    a_sh = hsz.select(
        F.col("doc").alias("doc_a"), F.col("hs").alias("sh_a"), F.col("n_sh").alias("na")
    )
    b_sh = hsz.select(
        F.col("doc").alias("doc_b"), F.col("hs").alias("sh_b"), F.col("n_sh").alias("nb")
    )
    # Small array sides: repartition the PAIRS before the joins (a
    # projection placed after a trailing repartition gets pushed below
    # it, so the exchange must come first) and broadcast the array
    # sides so the hash joins preserve the round-robin partitioning and
    # the interpreted array_intersect runs at full parallelism instead
    # of on the 1-2 tasks AQE's size-based coalescing would leave
    # (measured 8.5 s single-task at sf1.0, round 7). The broadcast is
    # GATED on the ACTUAL array bytes (one cheap agg over the
    # materialized hsz — an F.broadcast hint bypasses
    # autoBroadcastJoinThreshold entirely, and a degenerate candidate
    # set can pull most of the corpus into `involved`, where a forced
    # multi-GB broadcast would hit the 8 GB hard cap or OOM the
    # driver). Past the gate the planner-chosen join is the right plan
    # anyway: at that volume the join exchanges are large, so the
    # single-task collapse cannot occur.
    tot = hsz.agg(F.sum("n_sh")).collect()[0][0] or 0
    if tot * 8 <= 256 * 1024 * 1024:
        par = docs.sparkSession.sparkContext.defaultParallelism
        joined = (
            cands.repartition(par)
            .join(F.broadcast(a_sh), "doc_a")
            .join(F.broadcast(b_sh), "doc_b")
        )
    else:
        joined = cands.join(a_sh, "doc_a").join(b_sh, "doc_b")
    scored = joined.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        "na",
        "nb",
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        scored.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_band_table(
    docs: DataFrame,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The STORED band index a delta-ingest pipeline maintains across
    runs: (doc, band_idx, band_hash), one row per (doc, band). Built
    with the same codegen signature agg as ``minhash_lsh_pairs`` —
    one 65-value row per doc crosses the exchange, never the shingle
    table. Persist this table once; every future ingest probes it with
    ``minhash_probe_band_index``, which returns the delta's own rows to
    append."""
    sigs = minhash_signatures(docs, k=k, n=n, id_col=id_col, text_col=text_col)
    return _band_rows(sigs, k, bands)


def minhash_probe_band_index(
    new_docs: DataFrame,
    band_index: DataFrame,
    texts: DataFrame,
    threshold: float = 0.1,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    allow_low_recall: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """One ingest step against a STORED band index: returns
    ``(pairs, delta_bands)`` — the verified near-dup pairs touching
    ``new_docs``, against both the persisted ``band_index`` (prior
    ingests) and the delta itself (same-ingest pairs), and the delta's
    own band rows (materialized) for the caller to append to the
    index. ``texts`` must cover (id_col, text_col) for every doc that
    can appear in a pair — typically the cumulative documents table;
    verification shingles only the candidate docs. The crawl runner's
    per-wave hook, ``streaming.jobs.drain_neardup`` and
    ``minhash_incremental_pairs`` all run this step.

    The delta's bands are built once and materialized (eager
    localCheckpoint): the collision join AND the caller's append both
    consume them, and without it the shingle+signature aggregation
    over the delta would run twice.

    Invariant (pinned by test): running ingests through this probe and
    unioning the outputs reproduces EXACTLY the full-corpus
    ``minhash_lsh_pairs`` set — a pair is caught by the ingest that
    completes it, and only that one (earlier docs sit in the index,
    same-ingest pairs canonicalize + distinct).

    STATE-VERSION WARNING: band hashes are a function of the signature
    hash construction (see P31) and of (k, bands, n). An index
    persisted by pre-round-7 code (whose signature modulus never
    wrapped) does NOT match probes computed now — the join finds zero
    prior-run collisions and silently drops every cross-version pair.
    Such an index (a crawl's ``neardup_bands``, a ``drain_neardup``
    ``state_dir``) must be REBUILT from its texts; the table carries no
    marker, so the operator cannot detect the mismatch itself."""
    _require_recall(threshold, k, bands, allow_low_recall)
    delta_bands = minhash_band_table(
        new_docs, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=True)
    par = new_docs.sparkSession.sparkContext.defaultParallelism
    # AQE-collapse guard before the expanding join
    probe = delta_bands.repartition(par)
    index_all = band_index.select("doc", "band_idx", "band_hash").unionByName(probe)
    x = probe.alias("x")
    y = index_all.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc") != F.col("y.doc")),
        )
        .select(
            F.least(F.col("x.doc"), F.col("y.doc")).alias("doc_a"),
            F.greatest(F.col("x.doc"), F.col("y.doc")).alias("doc_b"),
        )
        .distinct()
    )
    pairs = _verify_candidate_pairs(
        cands, texts, threshold=threshold, n=n, id_col=id_col, text_col=text_col
    )
    return pairs, delta_bands


def remove_dup_spans(
    docs: DataFrame,
    k: int = 8,
    min_len: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The TRANSFORM side of exact-substring dedup (Lee et al. 2022
    actually deletes the duplicated substrings; ``dup_span_stats`` is
    the audit): rebuild each document with every token inside a
    qualifying duplicated span removed, order preserved.

    Plan: token positions (posexplode) anti-join the exploded span
    coverage (sequence(pos, pos+len-1) per span — O(dup tokens), never
    O(doc²)); the surviving tokens fold back to text with ONE
    partial-aggregable groupBy(doc) over array_sort(struct(pos, tok))
    — no per-doc window, order restored by the sort inside the agg
    buffer. Docs shorter than k tokens pass through unchanged.

    Returns (doc_id, n_tokens_before, n_tokens_after, cleaned_md5) —
    the md5 keeps the oracle row compact while still pinning the
    exact reconstructed text."""
    from ..functions.text import token_count, tokens

    spans = dup_spans(docs, k=k, min_len=min_len, id_col=id_col, text_col=text_col)
    covered = spans.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.col("span_len") - 1)
        ).alias("pos"),
    )
    toks = spread(docs).select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    kept = toks.join(covered, ["doc", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned"),
        F.count("*").alias("n_after"),
    )
    base = docs.select(
        F.col(id_col).alias("doc"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens_before"),
    )
    return base.join(rebuilt, "doc", "left").select(
        F.col("doc").alias(id_col),
        "n_tokens_before",
        F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_tokens_after"),
        F.md5(F.coalesce("cleaned", F.lit(""))).alias("cleaned_md5"),
    )
