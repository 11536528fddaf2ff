"""Training-data ASSEMBLY operators: the steps a pretraining pipeline
runs after cleaning/dedup to turn a document corpus into training input
— deterministic splits, repetition-quality filters, PII scrubbing,
benchmark-contamination checks, and context-window packing.

All pure DataFrame plans (no Python in the hot path), all deterministic
(every pseudo-random decision keys off the md5-derived 60-bit hash so
DuckDB reproduces it bit-for-bit — full cross-engine oracles), and all
shaped for 100 TB:

- splits are a row-wise hash mod (zero shuffle);
- repetition metrics use the explode → (doc, gram) groupBy inverted
  pattern, NOT an O(len²) per-row HOF scan — shuffle is on (doc, gram),
  bounded by corpus token count, never by document length². That count
  is written once (``dedup._doc_gram_counts``), and so is whitespace
  tokenization (``functions.text.tokens``);
- contamination is an inverted-index join on shingles (the dedup
  pattern) against a broadcast-size benchmark shingle set;
- packing windows are PARTITIONED (per lang shard) so the global sort a
  naive packer needs never exists; each shard packs independently,
  exactly how a multi-executor packer shards work.

BPE training has one trainer, ``bpe_train``: ``batch=1`` is the
sequential Sennrich spec, larger batches learn mutually-disjoint merges
per Spark round-trip.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import stopword_ratio, token_count, tokens
from .dedup import _doc_gram_counts, _md5_hash60, spread, word_kgrams, word_shingles

# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-bucket, reproducible anywhere)
# ---------------------------------------------------------------------------


def with_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 98,
    val_pct: int = 1,
) -> DataFrame:
    """Assign each document to train/val/test by hash bucket — the
    standard leak-proof split: a function of the id only, stable across
    reruns, machines, and engines (md5-derived bucket, so the DuckDB
    twin lands every row in the same split). Zero shuffle: one row-wise
    expression."""
    # cast matches DuckDB's implicit BIGINT→VARCHAR before md5
    bucket = F.pmod(_md5_hash60(F.col(id_col).cast("string")), F.lit(100))
    return docs.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def split_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return (
        with_split(docs, id_col=id_col)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition-quality filter (the Gopher-rules family)
# ---------------------------------------------------------------------------


def repetition_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_bigram_frac: float = 0.2,
    max_dup_unigram_frac: float = 0.3,
) -> DataFrame:
    """Per-document repetition features (the Gopher repetition-removal
    family, Rae et al. 2021 §A1.1): the fraction of all bigrams taken by
    the single most frequent bigram, and the duplicate-unigram fraction
    (1 − distinct/total). ``keep`` flags documents under both caps.

    Computed with the inverted explode → (doc, gram) groupBy: per-row
    cost is O(len), shuffle keyed on (doc, gram) — a per-row
    count-duplicates HOF would be O(len²) per document, quadratic in
    exactly the long-document tail a repetition filter exists to
    catch. Input spread (round 7): the two explode+agg passes are the
    per-row-heavy kind that a 2-partition small-file scan serializes
    (openCostInBytes floors split sizes) — same rule as the other
    text operators, a no-op at cluster scale."""
    docs = spread(docs)
    uni = (
        _doc_gram_counts(docs, tokens(F.col(text_col)), id_col)
        .groupBy("doc")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
        )
    )
    big = (
        _doc_gram_counts(docs, word_kgrams(F.col(text_col), 2), id_col)
        .groupBy("doc")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    top_frac = F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 4)
    dup_frac = F.round(1.0 - F.col("n_distinct") / F.col("n_tokens"), 4)
    return (
        uni.join(big, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce(top_frac, F.lit(0.0)).alias("top_bigram_frac"),
            dup_frac.alias("dup_unigram_frac"),
        )
        .withColumn(
            "keep",
            (F.col("top_bigram_frac") <= max_top_bigram_frac)
            & (F.col("dup_unigram_frac") <= max_dup_unigram_frac),
        )
    )


# ---------------------------------------------------------------------------
# PII scrub (regex redaction, counted)
# ---------------------------------------------------------------------------

# patterns restricted to syntax Java regex and RE2 (DuckDB) share, so
# the scrub is bit-identical cross-engine
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 -]{8,}[0-9]"


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails and phone-shaped numbers, keeping counts — the
    minimum-viable PII pass every released corpus runs. Pure JVM column
    expressions (regexp_extract_all / regexp_replace); order matters:
    emails first, so the digits inside a mailbox name can't double-count
    as a phone."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(no_email, F.lit(PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(no_email, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        redacted.alias("redacted"),
    )


def pii_stats(docs: DataFrame) -> DataFrame:
    s = pii_scrub(docs)
    return s.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when((F.col("n_emails") > 0) | (F.col("n_phones") > 0), 1)).alias(
            "docs_with_pii"
        ),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.sum(F.length("redacted")).alias("redacted_chars"),
    )


# ---------------------------------------------------------------------------
# Benchmark contamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document count of distinct word n-grams shared with ANY
    benchmark document (the decontamination pass: training text
    overlapping an eval set inflates scores). Inverted-index join on
    the shingle — shuffle keyed by shingle, never an all-pairs join;
    the benchmark shingle set is DISTINCT'd first (small: eval sets are
    tiny next to the corpus) so each training shingle matches at most
    once. Input spread (round 7): the 5-gram explode ran on the raw
    2-partition scan — 2-task 3.5 s-CPU stages at sf1.0; measured
    6.8 s → 1.4 s with the spread."""
    docs = spread(docs)
    cand = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    bench = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
        )
        .distinct()
    )
    return (
        cand.join(bench, "shingle")
        .groupBy("doc")
        .agg(F.count("*").alias("overlap_ngrams"))
        .filter(F.col("overlap_ngrams") >= min_overlap)
        .select(F.col("doc").alias(id_col), "overlap_ngrams")
    )


# ---------------------------------------------------------------------------
# Context-window packing (sequential fill, sharded)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    ctx: int = 512,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-size context windows by sequential
    fill WITHIN a shard: running token total in deterministic (doc_id)
    order; bin = floor(exclusive-cumsum / ctx) — the concat-and-chunk
    packing GPT-style pipelines use. Sharding (per ``shard_col``) is
    the scale property: each shard's window is independent, so packing
    parallelizes across executors and no global sort ever exists. The
    whole plan is two window functions over one exchange."""
    n_tok = token_count(F.col(text_col))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            F.col(id_col), F.col(shard_col).alias("shard"), n_tok.alias("n_tokens")
        )
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("bin", F.floor(F.col("cum_before") / ctx).cast("int"))
        .drop("cum_before")
    )


def packing_stats(docs: DataFrame, ctx: int = 512) -> DataFrame:
    packed = pack_sequences(docs, ctx=ctx)
    per_bin = packed.groupBy("shard", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    return per_bin.groupBy("shard").agg(
        F.count("*").alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.round(F.avg("n_docs"), 4).alias("avg_docs_per_bin"),
        F.round(F.avg(F.least(F.col("n_tokens") / ctx, F.lit(1.0))), 4).alias(
            "avg_fill"
        ),
    )


# ---------------------------------------------------------------------------
# Source-mixture resampling (domain weighting, the "data mixing" step)
# ---------------------------------------------------------------------------


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source mixture resampling — the domain-
    weighting step every pretraining run tunes (e.g. Wikipedia at 2.5
    epochs, low-quality crawl at 0.25). A rate r emits ⌊r⌋ full copies
    of every row plus a fractional copy kept when the (id, epoch)-keyed
    hash falls under frac(r); rows carry a 0-based ``epoch`` column so
    downstream packing can interleave copies instead of clustering
    them.

    Determinism/scale: a pure row-wise expression (explode over ≤⌈r⌉
    sequence elements — ZERO shuffle, the with_split property), keyed
    on the same md5-derived 60-bit hash as the split/packing tier so
    the DuckDB oracle reproduces every keep decision bit-for-bit.
    Every run, engine, and executor count lands on the identical
    sample — reshuffling the cluster can't silently change the
    mixture."""
    for s, r in rates.items():
        if r < 0:
            raise ValueError(f"mixture rate for source {s!r} must be >= 0, got {r}")
    if default_rate < 0:
        raise ValueError(f"default_rate must be >= 0, got {default_rate}")
    rate: F.Column | None = None
    for s, r in sorted(rates.items()):
        cond = F.col(source_col) == s
        rate = (
            F.when(cond, F.lit(float(r)))
            if rate is None
            else rate.when(cond, F.lit(float(r)))
        )
    rate_col = (
        rate.otherwise(F.lit(float(default_rate)))
        if rate is not None
        else F.lit(float(default_rate))
    )
    scale = 1_000_000
    with_rate = docs.withColumn("mix_rate", rate_col)
    # rate 0.0 means "drop this source": sequence(0, ceil(0)-1) would
    # produce the DESCENDING [0, -1] and epoch -1 passes the
    # integer-epoch gate (-1+1 <= floor(0)) — a phantom copy. Gate the
    # epoch list so sub-1 ceilings yield an empty array (row dropped by
    # explode), matching the oracle, which generates no epochs there.
    epoch = F.explode(
        F.when(
            F.ceil(F.col("mix_rate")) >= 1,
            F.sequence(F.lit(0), F.ceil(F.col("mix_rate")).cast("int") - 1),
        ).otherwise(F.array().cast("array<int>"))
    )
    u = F.pmod(
        _md5_hash60(
            F.concat(
                F.col(id_col).cast("string"), F.lit("#"), F.col("epoch").cast("string")
            )
        ),
        F.lit(scale),
    )
    return (
        with_rate.withColumn("epoch", epoch)
        .withColumn("mix_u", u)
        .filter(
            (F.col("epoch") + 1 <= F.floor(F.col("mix_rate")))
            | (
                F.col("mix_u")
                < (F.col("mix_rate") - F.floor(F.col("mix_rate"))) * scale
            )
        )
        .drop("mix_rate", "mix_u")
    )


def mixture_stats(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source achieved mixture: input rows, emitted rows (across
    epochs), and the achieved rate — the number a mixture run is tuned
    against."""
    n_in = docs.groupBy(source_col).agg(F.count("*").alias("n_in"))
    n_out = (
        mixture_sample(
            docs, rates, default_rate=default_rate,
            source_col=source_col, id_col=id_col,
        )
        .groupBy(source_col)
        .agg(F.count("*").alias("n_out"))
    )
    return (
        n_in.join(n_out, source_col, "left")
        .select(
            source_col,
            "n_in",
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.round(F.coalesce("n_out", F.lit(0)) / F.col("n_in"), 4).alias(
                "achieved_rate"
            ),
        )
        .orderBy(source_col)
    )


# ---------------------------------------------------------------------------
# Corpus-level line deduplication (CCNet / C4 style)
# ---------------------------------------------------------------------------


def line_occurrences(
    docs: DataFrame,
    delimiter: str = "\n",
    chunk_words: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per line occurrence: (id, [extra…], pos, line,
    line_hash). ``chunk_words`` re-chunks whitespace tokens into
    fixed-width pseudo-lines for corpora without newline structure
    (the synthetic documents table has none); real crawl text splits
    on ``delimiter``. Downstream consumers project the line text away
    before any exchange — only the 60-bit hash plus (id, pos) and the
    requested passthrough columns ever shuffle. Input spread (round
    7): the chunk/split explode is per-row-heavy; measured
    8.3 s → 4.0 s for line_dedup_stats at sf1.0 with the spread."""
    docs = spread(docs)
    cols = [id_col, *extra_cols]
    if chunk_words is not None:
        words = F.split(F.col(text_col), " ")
        last = (F.ceil(F.size(words) / F.lit(chunk_words)) - 1).cast("int")
        occ = docs.select(
            *cols, words.alias("_w"),
            F.explode(F.sequence(F.lit(0), last)).alias("pos"),
        ).select(
            *cols, "pos",
            F.array_join(
                F.slice("_w", F.col("pos") * chunk_words + 1, chunk_words), " "
            ).alias("line"),
        )
    else:
        occ = docs.select(
            *cols,
            F.posexplode(F.split(F.col(text_col), delimiter)).alias("pos", "line"),
        )
    return occ.withColumn("line_hash", _md5_hash60(F.col("line")))


def dedup_lines(
    docs: DataFrame,
    min_df: int = 2,
    mode: str = "keep_first",
    delimiter: str = "\n",
    chunk_words: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-level duplicated-line removal — the CCNet (Wenzek 2020)
    / C4 cleaning step that strips boilerplate (cookie banners, nav
    text) repeated across documents. Returns every line occurrence
    tagged with its corpus frequency ``line_df`` and a ``kept`` flag:
    ``mode='keep_first'`` keeps only the lexicographically-first
    (id, pos) occurrence of each over-threshold line (CCNet);
    ``mode='drop_all'`` drops every occurrence of a line seen
    ``min_df``+ times (the C4 rule).

    Scale: line frequency and first-occurrence come from ONE
    partial-aggregable groupBy on the 60-bit line hash (map-side
    combine — one skinny row per DISTINCT line crosses the exchange)
    joined back to the occurrences, deliberately NOT a
    count/row_number window: a boilerplate line with 10^8 occurrences
    lands on a single task under a window's per-hash sort, while the
    agg side here combines it map-side and AQE can skew-split the
    join (the same lesson as the round-5 crawl candidate-dedup fix).
    Every decision is a pure function of (line text, id, pos) —
    identical on any engine, executor count, or rerun."""
    if mode not in ("keep_first", "drop_all"):
        raise ValueError(f"unknown dedup_lines mode {mode!r}")
    occ = line_occurrences(
        docs, delimiter=delimiter, chunk_words=chunk_words,
        id_col=id_col, text_col=text_col, extra_cols=extra_cols,
    )
    groups = occ.groupBy("line_hash").agg(
        F.count("*").alias("line_df"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
    )
    joined = occ.join(groups, "line_hash")
    if mode == "keep_first":
        kept = (F.col("line_df") < min_df) | (
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("pos") == F.col("_first.pos"))
        )
    else:
        kept = F.col("line_df") < F.lit(min_df)
    return joined.withColumn("kept", kept).drop("_first")


def line_dedup_stats(
    docs: DataFrame,
    min_df: int = 2,
    mode: str = "keep_first",
    delimiter: str = "\n",
    chunk_words: int | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group line-dedup summary: occurrences, distinct lines,
    dropped occurrences, and documents touched — the audit table a
    cleaning run reports before committing the drop."""
    lines = dedup_lines(
        docs, min_df=min_df, mode=mode, delimiter=delimiter,
        chunk_words=chunk_words, id_col=id_col, text_col=text_col,
        extra_cols=(group_col,),
    )
    return (
        lines.groupBy(group_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.countDistinct("line_hash").alias("n_distinct_lines"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
            F.countDistinct(
                F.when(~F.col("kept"), F.col(id_col))
            ).alias("n_docs_modified"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# Corpus-LM fluency scoring + per-language buckets (the CCNet shape)
# ---------------------------------------------------------------------------


def lm_fluency(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document fluency under a bigram transition model TRAINED ON
    THE CORPUS ITSELF — the engine-side analogue of CCNet's KenLM
    perplexity scoring (Wenzek et al. 2020): documents whose token
    transitions are typical of the corpus score high, word-soup and
    boilerplate-mangled text scores low. (CCNet scores against an
    external Wikipedia KenLM; shipping one is a model artifact, not an
    engine op — the corpus-trained model is the deterministic,
    self-contained form and exercises the identical plan shape: count,
    join, score.)

    Scoring is INTEGER-EXACT so an independent engine reproduces it
    bit-for-bit: each bigram position contributes
    q = floor(1e6 * (c(w_prev w) + 1) / (c(w_prev) + V)) parts-per-
    million of Laplace-smoothed transition probability (V = corpus
    vocab size), and the per-doc score is the exact integer mean
    score_ppm = sum(q) DIV n_bigrams. No float ever crosses an aggregation, so shuffle order
    cannot perturb the result (IEEE double division is correctly
    rounded and therefore engine-identical; SUM of doubles is NOT
    order-stable — the reason q is floored to an integer first).

    Plan: two map-side-combinable count aggs (unigram, bigram), one
    codegen regex pass for the bigram stream, two hash joins to attach
    counts (AQE skew-split applies to stop-word prefixes), one final
    groupBy(doc). Docs with < 2 tokens have no bigram and are
    excluded (unscoreable, exactly as CCNet drops empty lines).

    Returns (doc_id, lang, n_bigrams, score_ppm)."""
    base = spread(docs).select(
        F.col(id_col).alias("doc"), F.col("lang"), F.col(text_col).alias("t")
    )
    bg_occ = base.select(
        "doc",
        "lang",
        F.explode(word_kgrams(F.col("t"), 2)).alias("bg"),
    ).withColumn("prev", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
    uni = (
        base.select(F.explode(tokens(F.col("t"))).alias("prev"))
        .groupBy("prev")
        .agg(F.count("*").alias("c_uni"))
    )
    big = bg_occ.groupBy("bg").agg(F.count("*").alias("c_bg"))
    # Laplace (+1 / +V) smoothing: without it, a chain of SINGLETON
    # transitions scores a perfect 1.0 (its prev token only ever
    # precedes that word) — the self-trained-model degeneracy CCNet
    # sidesteps with an external LM. V is the corpus vocab size, a
    # one-row broadcast (never a driver collect).
    vocab = uni.agg(F.count("*").alias("v"))
    scored = (
        bg_occ.join(big, "bg")
        .join(uni, "prev")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "q",
            F.floor(
                F.lit(1000000.0) * (F.col("c_bg") + 1) / (F.col("c_uni") + F.col("v"))
            ).cast("bigint"),
        )
    )
    return (
        scored.groupBy("doc", "lang")
        .agg(F.count("*").alias("n_bigrams"), F.sum("q").alias("s"))
        .select(
            F.col("doc").alias(id_col),
            "lang",
            "n_bigrams",
            # true integer division (Spark `div`), NOT double-div+cast:
            # DuckDB casts double->bigint by ROUNDING, Spark by
            # truncation — integer DIV is identical in both engines
            F.expr("s div n_bigrams").cast("bigint").alias("score_ppm"),
        )
    )


def lm_fluency_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "ntile",
) -> DataFrame:
    """CCNet head/middle/tail bucketing over per-language fluency, in
    two modes with identical output schema (doc_id, lang, n_bigrams,
    score_ppm, bucket, bucket_name):

    - ``mode='ntile'`` — the SPEC form: NTILE(n) over (score_ppm DESC,
      doc_id) within each language. Exact and tie-splitting, but each
      language partition is a single-task sort over that language's
      whole corpus — with a handful of languages this is a genuine
      scale-killer at 100 TB. Keep it as the small-scale oracle twin.

    - ``mode='quantile'`` — the SCALE form (bucket-by-comparison, no
      corpus sort anywhere): score_ppm lives in the bounded integer
      domain [0, 1e6], so an exact per-(lang, score) HISTOGRAM — at
      most 1e6+1 rows per language regardless of corpus size — gives
      exact bucket boundaries. bucket = 1 + (rank_hi·n) div N where
      rank_hi = #docs in the language scoring strictly higher and N =
      language total; this closed form reproduces NTILE's
      ceil-first-buckets split exactly (sizes: first N mod n buckets
      take ⌈N/n⌉). The only Window runs over the aggregated histogram,
      and the bucket map joins back BROADCAST — corpus rows are never
      sorted or re-shuffled for the bucketing (plan-gated). Deviation
      contract: score ties collapse into the bucket of their first
      tied rank (comparison on score alone cannot split a tie NTILE
      would); equals the ntile form wherever no tie crosses a tercile
      boundary — pinned by test on a tie-free fixture."""
    if mode not in ("ntile", "quantile"):
        raise ValueError(f"mode must be 'ntile' or 'quantile', got {mode!r}")
    scored = lm_fluency(docs, id_col=id_col, text_col=text_col)
    named = (
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == n_buckets, "tail")
        .otherwise("middle")
    )
    if mode == "ntile":
        w = Window.partitionBy("lang").orderBy(F.desc("score_ppm"), F.asc(id_col))
        return scored.withColumn("bucket", F.ntile(n_buckets).over(w)).withColumn(
            "bucket_name", named
        )
    hist = scored.groupBy("lang", "score_ppm").agg(F.count("*").alias("c"))
    hw = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score_ppm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nw = Window.partitionBy("lang")
    bucket_map = hist.select(
        "lang",
        "score_ppm",
        (F.sum("c").over(hw) - F.col("c")).alias("rank_hi"),
        F.sum("c").over(nw).alias("n_lang"),
    ).select(
        "lang",
        "score_ppm",
        (
            F.lit(1)
            + F.expr(f"(rank_hi * {int(n_buckets)}) div n_lang")
        ).cast("int").alias("bucket"),
    )
    return (
        scored.join(F.broadcast(bucket_map), ["lang", "score_ppm"])
        .withColumn("bucket_name", named)
        .select(id_col, "lang", "n_bigrams", "score_ppm", "bucket", "bucket_name")
    )


# ---------------------------------------------------------------------------
# DSIR importance-resampling weights (hashed n-gram bag-of-words)
# ---------------------------------------------------------------------------


def dsir_weights(
    docs: DataFrame,
    target_filter,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance weight (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): hashed
    n-gram bag-of-words features, per-bucket log probability ratio
    between a TARGET distribution (``target_filter``, a boolean Column
    — e.g. one trusted source) and the RAW corpus, summed over each
    doc's feature counts. High weight = looks like the target; the
    downstream selection step resamples the raw corpus by weight.

    Determinism/oracle design: features are unigrams + bigrams hashed
    with the cross-engine 60-bit md5 into ``n_buckets``; bucket
    log-ratios are Laplace-smoothed and FLOORED TO INTEGER MICRO-NATS
    (floor(1e6 * ln(p/q) + 0.5) — floor-plus-half in both engines;
    round() half-ties differ between Python/banker's and SQL/half-away)
    so the per-doc weight Σ count[b]·r_micro[b] is pure integer
    arithmetic — shuffle order cannot perturb it. The only cross-engine
    float is ln() itself on identical rationals (correctly-rounded to
    ~1 ulp in both; a flip would need the true value within 1e-16 of
    the 5e-7 grid — negligible and caught by the oracle if ever hit).

    Plan (round 7): ONE codegen gram pass folded into the per-doc
    bucket-count agg, materialized once (eager localCheckpoint of the
    compact (doc, b, c) table — ~min(feats, n_buckets) rows per doc);
    the global per-bucket totals the ratio table needs are then a
    cheap re-aggregation of that checkpoint instead of a second full
    explode+md5 pass over the corpus (the previous shape ran the gram
    pipeline twice — measured 26.8 s + 19.2 s executor time at sf1.0).
    The O(n_buckets) ratio table is collected to the driver (bounded,
    like IVF centroids), re-emitted as a broadcast literal table, and
    joined back to the checkpointed per-doc counts.

    Returns (doc_id, source, n_feats, logw_micro)."""
    base = spread(docs).select(
        F.col(id_col).alias("doc"),
        F.col("source"),
        F.col(text_col).alias("t"),
        target_filter.alias("is_target"),
    )
    feats = base.select(
        "doc",
        "source",
        "is_target",
        F.explode(
            F.concat(
                tokens(F.col("t")),
                word_kgrams(F.col("t"), 2),
            )
        ).alias("g"),
    ).select(
        "doc",
        "source",
        "is_target",
        F.pmod(_md5_hash60(F.col("g")), F.lit(n_buckets)).cast("int").alias("b"),
    )
    per_bucket = (
        feats.groupBy("doc", "source", "is_target", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    counts = (
        per_bucket.groupBy("b")
        .agg(
            F.sum("c").alias("c_raw"),
            F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0)).alias(
                "c_tgt"
            ),
        )
        .collect()
    )
    c_raw = {r["b"]: r["c_raw"] for r in counts}
    c_tgt = {r["b"]: r["c_tgt"] for r in counts}
    n_raw = sum(c_raw.values())
    n_tgt = sum(c_tgt.values())
    ratio_rows = []
    for b in range(n_buckets):
        p = (c_tgt.get(b, 0) + 1.0) / (n_tgt + n_buckets)
        qq = (c_raw.get(b, 0) + 1.0) / (n_raw + n_buckets)
        ratio_rows.append((b, math.floor(1e6 * math.log(p / qq) + 0.5)))
    ratios = base.sparkSession.createDataFrame(ratio_rows, "b int, r_micro bigint")
    return (
        per_bucket.join(F.broadcast(ratios), "b")
        .groupBy("doc", "source")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("r_micro")).alias("logw_micro"),
        )
        .select(
            F.col("doc").alias(id_col), "source", "n_feats", "logw_micro"
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global training order (scalable global-shuffle rank)
# ---------------------------------------------------------------------------


def training_order(
    docs: DataFrame,
    n_out_shards: int = 8,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document its position in a deterministic global
    training shuffle — the "shuffle the corpus, write N shard files"
    step at the end of every pretraining pipeline. The order is
    by (md5-hash(id), id): uniform, reproducible on any engine, and
    free of the source/time locality the shuffle exists to break.

    A naive global ROW_NUMBER is a single-partition sort — the classic
    scale killer. This plan computes the SAME rank with no global
    sort: the 60-bit hash is RANGE-bucketed by its top bits (bucket =
    h >> (60-log2(P)), so bucket order == hash order); per-bucket
    counts are one map-side-combinable agg whose O(P) result becomes
    prefix-sum offsets re-emitted as a broadcast table; within-bucket
    ranks are a window PARTITIONED by bucket (parallel, ~n/P rows
    each); global_pos = offset[bucket] + rank. Hash uniformity bounds
    bucket skew; P scales with the cluster.

    out_shard carves the order into ``n_out_shards`` contiguous
    equal-size ranges (the shard files a writer would emit).
    Returns (doc_id, global_pos, out_shard)."""
    assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
    shift = 60 - int(math.log2(n_buckets))
    h = _md5_hash60(F.col(id_col).cast("string"))
    base = spread(docs).select(
        F.col(id_col), h.alias("h"), F.shiftright(h, shift).alias("bucket")
    )
    counts = base.groupBy("bucket").agg(F.count("*").alias("c")).collect()
    by_bucket = {r["bucket"]: r["c"] for r in counts}
    n_total = sum(by_bucket.values())
    offsets, acc = [], 0
    for b in sorted(by_bucket):
        offsets.append((b, acc))
        acc += by_bucket[b]
    off = base.sparkSession.createDataFrame(offsets, "bucket long, off long")
    per_shard = max(1, math.ceil(n_total / n_out_shards))
    w = Window.partitionBy("bucket").orderBy("h", id_col)
    return (
        base.join(F.broadcast(off), "bucket")
        .withColumn("global_pos", F.col("off") + F.row_number().over(w) - 1)
        .select(
            id_col,
            "global_pos",
            F.expr(f"global_pos div {per_shard}").cast("int").alias("out_shard"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (distributed merge learning)
# ---------------------------------------------------------------------------

_BPE_L = "\x1e"  # symbol-open sentinel (record separator)
_BPE_R = "\x1f"  # symbol-close sentinel (unit separator)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 12,
    batch: int = 1,
    candidates_factor: int = 4,
    max_rounds: int | None = None,
    text_col: str = "text",
    return_vocab: bool = False,
):
    """Learn byte-pair-encoding merges from the corpus — distributed
    tokenizer fitting (Sennrich et al. 2016): start from characters,
    repeatedly merge the most frequent adjacent symbol pair. Returns
    the learned merge table (merge_rank, lhs, rhs, pair_count) —
    the artifact a tokenizer ships. ``batch=1`` is the Sennrich
    sequential spec: one merge per round, the top pair by (count DESC,
    lhs, rhs) — pinned by test against a separate sequential loop.

    Distribution: the corpus collapses to the UNIQUE-WORD vocabulary
    with frequencies first (the classic Sennrich move — pair counts
    are word-frequency-weighted, so iterations run over |vocab|, not
    corpus tokens). Each word's symbol sequence is one STRING with
    every symbol wrapped in sentinel bytes (\\x1e sym \\x1f), so
    applying a merge is a single literal ``replace()`` — left-to-right
    and non-overlapping in both Spark and DuckDB, which IS greedy BPE
    merge semantics, and the sentinels make mid-symbol false matches
    impossible. Per round: one map-side-combinable pair-count agg over
    the vocab, a collect of the top candidate rows, one replace pass,
    localCheckpoint to truncate lineage. Pairs are counted with
    overlaps (aaa -> (a,a) twice), exactly as the reference impl's
    get_stats. Sentinel bytes must not occur in the text (true for any
    printable corpus; they are stripped defensively).

    Batching — the standard distributed-BPE trick that makes 30k-merge
    production runs feasible: per round, learn up to ``batch``
    MUTUALLY-DISJOINT pairs (no shared symbol among either pick's
    operands OR its result a+b), so O(n_merges) Spark round-trips
    become O(n_merges/batch). Disjointness is what makes the batch
    exact: merging (a,b) only perturbs adjacencies TOUCHING a, b, or
    the new symbol ab, so every disjoint pair's count — and its
    replace() application — is invariant under the others; the batch
    is order-independent and each selected pair carries the same count
    it would sequentially. (Result symbols count as conflicts because
    a pick whose operand equals another pick's RESULT would also merge
    tokens created in the same round — a cascade the sequential form
    never performs at the recorded count.)

    Deterministic selection contract (mirrored verbatim by the DuckDB
    oracles): rank all pairs by (count DESC, lhs, rhs); restrict to the
    top ``candidates_factor·batch`` candidate window; greedily take
    the best candidate disjoint from everything already taken this
    round, up to min(batch, merges still needed). With the default
    ``max_rounds=None`` the schedule is FIXED at ceil(n_merges/batch)
    rounds: a conflict-starved round under-fills rather than extending
    (keeps the unrolled oracle's round count static), so the result
    may carry fewer than ``n_merges`` merges. Production runs pass
    ``max_rounds`` higher — BPE's hottest pairs cluster around common
    symbols (measured ~3 disjoint picks per 128-candidate window at
    sf0.1), so hitting the merge target takes more rounds than the
    minimum; each extra round is still ONE Spark round-trip for up to
    ``batch`` merges, and the loop stops early once ``n_merges`` are
    learned or the vocabulary is exhausted.

    Deviation contract vs the sequential spec: at batch>1 the learned
    sequence can diverge whenever sequential BPE's next-best pair would
    involve a symbol CREATED earlier in the same round (e.g. (t,h) then
    (th,e)) — batching defers such dependent merges to the next round;
    counts of the pairs actually chosen are exact either way."""
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    enc0 = F.regexp_replace(
        F.regexp_replace(F.col("word"), f"[{_BPE_L}{_BPE_R}]", ""),
        "(.)",
        _BPE_L + "$1" + _BPE_R,
    )
    vocab = (
        spread(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", enc0.alias("enc"))
        .localCheckpoint(eager=True)
    )  # one eager materialization: the corpus-sized agg runs once
    sep = _BPE_R + _BPE_L
    syms = F.split(F.expr("substring(enc, 2, length(enc) - 2)"), sep)
    pair_expr = F.expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), "
        "(a, b) -> struct(a, b))"
    )
    merges: list[tuple[int, str, str, int]] = []
    n_rounds = max_rounds if max_rounds is not None else math.ceil(n_merges / batch)
    for _ in range(n_rounds):
        need = min(batch, n_merges - len(merges))
        if need <= 0:
            break
        cand = (
            vocab.select("freq", syms.alias("s"))
            .select("freq", F.explode(pair_expr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(candidates_factor * batch)
            .collect()
        )
        if not cand:
            break
        picked: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for r in cand:
            if len(picked) >= need:
                break
            a, b = r["a"], r["b"]
            # disjointness must cover RESULT symbols too: if an earlier
            # pick creates symbol 'abc' and a later pick's operand is
            # 'abc' (or vice versa), the later replace would also merge
            # tokens the earlier one JUST created — a same-round
            # cascade that breaks count exactness and order
            # independence. Mirrored verbatim by the oracle's
            # NOT EXISTS over {lhs, rhs, lhs||rhs}.
            if a in used or b in used or (a + b) in used:
                continue
            picked.append((a, b, int(r["c"])))
            used.update((a, b, a + b))
        if not picked:
            break
        # all of this round's replaces nest into ONE projection — the
        # whole batch costs one pass over the vocab (order irrelevant
        # by disjointness; applied in selection order on both engines)
        enc_col = F.col("enc")
        for a, b, c in picked:
            merges.append((len(merges) + 1, a, b, c))
            pat = _BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R
            rep = _BPE_L + a + b + _BPE_R
            enc_col = F.call_function("replace", enc_col, F.lit(pat), F.lit(rep))
        # lazy checkpoint: truncates lineage when the NEXT round's agg
        # materializes it — eager=True here cost one extra no-op job
        # per round (measured 30 s -> 9 s for 12 rounds at sf0.1)
        vocab = vocab.select(
            "word", "freq", enc_col.alias("enc")
        ).localCheckpoint(eager=False)
    merges_df = docs.sparkSession.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )
    if return_vocab:
        return merges_df, vocab
    return merges_df


def bpe_token_stats(
    docs: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
) -> DataFrame:
    """The inference side of BPE: apply the learned merges and report
    per-language tokenization stats — (lang, n_words, chars,
    bpe_tokens, tokens_per_word). Token counts come straight off the
    trained vocabulary's final encoding (tokens in a word = sentinel
    count = (len(enc) - len(enc without \x1e))/... one char each), so
    encoding the corpus is a hash join of the word stream against the
    O(|vocab|) token-count table — the document text is never
    re-scanned symbol by symbol."""
    _, vocab = bpe_train(
        docs, n_merges=n_merges, text_col=text_col, return_vocab=True
    )
    tok = vocab.select(
        "word",
        (
            F.length("enc")
            - F.length(F.expr(f"replace(enc, '{_BPE_L}', '')"))
        ).cast("bigint").alias("n_tok"),
    )
    words = spread(docs).select(
        "lang",
        F.explode(tokens(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    return (
        words.join(tok, "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("chars"),
            F.sum("n_tok").alias("bpe_tokens"),
            F.round(F.sum("n_tok") / F.count("*"), 4).alias("tokens_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# Full Gopher quality + repetition rule family
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_top_ngram_frac: tuple[float, float, float] = (0.20, 0.18, 0.16),
    max_dup5_frac: float = 0.15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full Gopher rule family (Rae et al. 2021 §A1.1) — the
    quality gates ``repetition_metrics`` (B2) samples from, complete:
    word-count bounds, mean word length 3-10, symbol-to-word ratio
    ('#' and ellipsis), >=80% words with an alphabetic char, >=2 of
    the 8 required English stop words, top {2,3,4}-gram character
    fractions under (0.20, 0.18, 0.16), and duplicate-5-gram
    character fraction under 0.15.

    Plan shape: the row-wise features are pure JVM expressions (the
    word-level predicates use bounded array HOFs, the house style of
    functions/text.py); the n-gram features are the inverted explode
    -> (doc, gram) partial-aggregable groupBy, then ONE more partial
    agg max(struct(count, gram_chars)) per doc — count ties resolve
    to the longest gram, so the fraction is engine-exact without any
    per-doc sort or window. Nothing is O(len²).

    dup5_char_frac is the occurrence-counting variant (repeats beyond
    the first contribute their full char length, overlaps permitted,
    capped at 1.0); the position-exact union-of-spans form is
    ``dedup.dup_spans`` — at a corpus level rather than per-doc.

    Returns per-doc features + the conjunction ``keep``."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#")))
    ell3 = (F.length(t) - F.length(F.replace(t, F.lit("...")))) / 3
    ell1 = F.length(t) - F.length(F.replace(t, F.lit("…")))
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    stops = F.size(
        F.filter(F.transform(toks, F.lower), lambda w: w.isin(*GOPHER_STOPWORDS))
    )
    base = spread(docs).select(
        F.col(id_col).alias("doc"),
        n_words.cast("bigint").alias("n_words"),
        nonspace.cast("bigint").alias("nonspace_chars"),
        F.round(nonspace / F.greatest(n_words, F.lit(1)), 4).alias("mean_word_len"),
        F.round(
            (hashes + ell3 + ell1) / F.greatest(n_words, F.lit(1)), 4
        ).alias("symbol_ratio"),
        F.round(alpha / F.greatest(n_words, F.lit(1)), 4).alias("alpha_frac"),
        stops.cast("bigint").alias("stop_hits"),
    )

    def top_frac(n: int, out: str) -> DataFrame:
        per = (
            _doc_gram_counts(docs, word_kgrams(F.col(text_col), n), id_col)
            .select(
                "doc",
                F.struct(
                    F.col("c"), (F.length("g") - (n - 1)).cast("bigint").alias("l")
                ).alias("s"),
            )
            .groupBy("doc")
            .agg(F.max("s").alias("top"))
        )
        return per.select(
            "doc", (F.col("top.c") * F.col("top.l")).alias(out)
        )

    dup5 = (
        _doc_gram_counts(docs, word_kgrams(F.col(text_col), 5), id_col)
        .filter(F.col("c") >= 2)
        .groupBy("doc")
        .agg(
            F.sum((F.col("c") - 1) * (F.length("g") - 4)).alias("dup5_chars")
        )
    )
    out = (
        base.join(top_frac(2, "t2"), "doc", "left")
        .join(top_frac(3, "t3"), "doc", "left")
        .join(top_frac(4, "t4"), "doc", "left")
        .join(dup5, "doc", "left")
    )
    div = F.greatest(F.col("nonspace_chars"), F.lit(1))
    t2f = F.round(F.coalesce("t2", F.lit(0)) / div, 4)
    t3f = F.round(F.coalesce("t3", F.lit(0)) / div, 4)
    t4f = F.round(F.coalesce("t4", F.lit(0)) / div, 4)
    d5f = F.round(F.least(F.coalesce("dup5_chars", F.lit(0)) / div, F.lit(1.0)), 4)
    lo2, lo3, lo4 = max_top_ngram_frac
    return out.select(
        F.col("doc").alias(id_col),
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_frac",
        "stop_hits",
        t2f.alias("top2_char_frac"),
        t3f.alias("top3_char_frac"),
        t4f.alias("top4_char_frac"),
        d5f.alias("dup5_char_frac"),
        (
            F.col("n_words").between(min_words, max_words)
            & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("alpha_frac") >= min_alpha_frac)
            & (F.col("stop_hits") >= min_stop_hits)
            & (t2f <= lo2) & (t3f <= lo3) & (t4f <= lo4)
            & (d5f <= max_dup5_frac)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# quality classifier: deterministic logistic regression (B17, round 5)
# ---------------------------------------------------------------------------

# the en list from functions/text.py LANG_STOPWORDS, frozen here as a
# tuple so the classifier's feature definition is self-contained and
# the SQL twin can embed it
_EN_STOPS = ("the", "a", "of", "to", "and", "in", "is", "it", "that", "was")


def quality_lr_fit(
    docs: DataFrame,
    n_steps: int = 8,
    lr: float = 2.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classifier-based quality filtering, the RefinedWeb / DCLM /
    CCNet move: train a cheap linear model to stand in for an
    expensive gate (here: distill the Gopher repetition rule — the
    standard trick of fitting a fast classifier to a slower filter's
    verdicts so the gate can run as one fused column expression).
    Deterministic full-batch logistic regression — ``n_steps``
    gradient-descent steps from zero weights, no RNG, no sampling — on
    three JVM-computed features (stopword fraction, distinct-token
    fraction, scaled log-length); label = ``repetition_metrics`` keep.
    Returns ONE row: the learned weights, training accuracy vs the
    teacher gate, and class balance.

    Scale shape: features are computed once and persisted as a narrow
    (y, x1, x2, x3) frame; each GD step is then a single map-side-
    combinable global aggregate (4 partial sums — the gradient), so a
    step costs one pass over n rows of 4 doubles regardless of corpus
    text size, and the weights that cross steps are 4 scalars on the
    driver. Per-step weights are pinned to a 1e-9 grid in BOTH engines
    (the k-means/PQ trick) so float drift cannot compound across
    steps."""
    # spread (round 7): the feature expressions (stopword fraction via
    # array HOFs, distinct-token fraction) are per-row-heavy and ran on
    # the raw 2-partition scan; every cross-row float this fit produces
    # (moments, gradients, weights) is pinned to the 1e-9 grid by
    # design, so the distribution change cannot perturb results.
    docs = spread(docs)
    toks = tokens(F.lower(F.col(text_col)))
    labels = repetition_metrics(docs, id_col=id_col, text_col=text_col).select(
        id_col, F.col("keep").cast("double").alias("y")
    )
    raw = docs.join(labels, id_col).select(
        "y",
        F.round(stopword_ratio(F.col(text_col), _EN_STOPS), 9).alias("x1"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)),
            9,
        ).alias("x2"),
        F.round(F.log1p(F.size(toks)) / F.lit(10.0), 9).alias("x3"),
    )
    # standardize: full-batch GD on raw fractions spends its first ~20
    # steps fighting the class-imbalance bias; z-scored features reach
    # discriminative weights in ~8. One extra map-side-combinable pass;
    # moments grid-pinned like the weights.
    st = raw.agg(
        *[F.round(F.avg(f"x{j}"), 9).alias(f"m{j}") for j in (1, 2, 3)],
        *[F.round(F.stddev_pop(f"x{j}"), 9).alias(f"s{j}") for j in (1, 2, 3)],
    ).collect()[0]
    feats = raw.select(
        "y",
        *[
            F.round(
                (F.col(f"x{j}") - F.lit(st[f"m{j}"]))
                / F.lit(max(st[f"s{j}"], 1e-9)),
                9,
            ).alias(f"x{j}")
            for j in (1, 2, 3)
        ],
    ).persist()
    try:
        w = [0.0, 0.0, 0.0]
        b = 0.0
        for _ in range(n_steps):
            z = F.lit(b) + sum(F.lit(w[j]) * F.col(f"x{j+1}") for j in range(3))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("y")
            # the updated weights are rounded INSIDE the JVM (F.round is
            # half-away-from-zero, matching DuckDB ROUND; Python round()
            # is banker's and would diverge exactly on grid half-points)
            g = feats.agg(
                *[
                    F.round(
                        F.lit(w[j]) - F.lit(lr) * F.avg(err * F.col(f"x{j+1}")), 9
                    ).alias(f"w{j+1}")
                    for j in range(3)
                ],
                F.round(F.lit(b) - F.lit(lr) * F.avg(err), 9).alias("b"),
            ).collect()[0]
            w = [g[f"w{j+1}"] for j in range(3)]
            b = g["b"]
        z = F.lit(b) + sum(F.lit(w[j]) * F.col(f"x{j+1}") for j in range(3))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        # materialize the one-row result WHILE the persisted features
        # are still alive: the previous shape unpersisted in `finally`
        # before the (lazy) returned aggregate ever ran, so the
        # caller's action raced cache eviction and could re-run the
        # whole feature+label pipeline from scratch (round 7 — observed
        # as a 4.1 s vs 7.4 s run-to-run swing at sf1.0)
        return feats.agg(
            F.lit(w[0]).alias("w_stop"),
            F.lit(w[1]).alias("w_distinct"),
            F.lit(w[2]).alias("w_len"),
            F.lit(b).alias("bias"),
            F.round(F.avg(((p > 0.5) == (F.col("y") > 0.5)).cast("double")), 4).alias(
                "accuracy"
            ),
            F.count("*").alias("n_docs"),
            F.sum(F.col("y").cast("bigint")).alias("n_pos"),
        ).localCheckpoint(eager=True)
    finally:
        feats.unpersist(blocking=False)
