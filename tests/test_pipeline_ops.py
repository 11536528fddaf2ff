"""Training-data assembly operators (operators/pipeline.py): splits,
repetition filters, PII scrub, contamination, packing — planted-fixture
behavior; cross-engine parity is covered by the registered oracles."""

from __future__ import annotations

from conftest import spark_jobs
from pyspark.sql import functions as F

from fundamental_spark.operators.pipeline import (
    contamination_check,
    dedup_lines,
    line_dedup_stats,
    line_occurrences,
    mixture_sample,
    mixture_stats,
    pack_sequences,
    pii_scrub,
    repetition_metrics,
    with_split,
)


def test_split_deterministic_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(str(i), "some text") for i in range(1000)], "doc_id string, text string"
    )
    a = {r["doc_id"]: r["split"] for r in with_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in with_split(docs).collect()}
    assert a == b  # pure function of the id
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 900  # 98% expected, hash noise allowed
    assert c["val"] + c["test"] < 100


def test_repetition_metrics_flags_spam(spark):
    docs = spark.createDataFrame(
        [
            ("spam", "buy now " * 30),                  # one bigram dominates
            ("ok", " ".join(f"w{i}" for i in range(60))),  # all distinct
            ("single", "lonely"),                       # no bigrams at all
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert got["spam"]["keep"] is False
    assert got["spam"]["top_bigram_frac"] > 0.4
    assert got["spam"]["dup_unigram_frac"] > 0.9
    assert got["ok"]["keep"] is True
    assert got["ok"]["dup_unigram_frac"] == 0.0
    assert got["single"]["keep"] is True
    assert got["single"]["top_bigram_frac"] == 0.0


def test_pii_scrub_planted(spark):
    docs = spark.createDataFrame(
        [
            ("a", "contact jan.devries+x@example-site.nl or 06 1234 5678 90 ok"),
            ("b", "clean text with no identifiers at all"),
            ("c", "two mails x@y.org and z@w.io"),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert got["a"]["n_emails"] == 1 and got["a"]["n_phones"] == 1
    assert "<EMAIL>" in got["a"]["redacted"] and "<PHONE>" in got["a"]["redacted"]
    assert "example-site" not in got["a"]["redacted"]
    assert got["b"]["n_emails"] == 0 and got["b"]["n_phones"] == 0
    assert got["b"]["redacted"] == "clean text with no identifiers at all"
    assert got["c"]["n_emails"] == 2


def test_contamination_check_planted(spark):
    bench = spark.createDataFrame(
        [("q1", "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id string, text string",
    )
    docs = spark.createDataFrame(
        [
            ("leak", "intro words then the quick brown fox jumps over the fence"),
            ("clean", " ".join(f"tok{i}" for i in range(20))),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r["overlap_ngrams"] for r in
           contamination_check(docs, bench, n=5).collect()}
    assert "leak" in got and got["leak"] >= 1  # shares 'the quick brown fox jumps'
    assert "clean" not in got


def test_mixture_sample_deterministic_epochs(spark):
    docs = spark.createDataFrame(
        [(str(i), "wiki" if i % 2 else "crawl", "t") for i in range(2000)],
        "doc_id string, source string, text string",
    )
    rates = {"wiki": 2.0, "crawl": 0.5}
    out = mixture_sample(docs, rates).collect()
    by_id: dict[tuple, list] = {}
    for r in out:
        by_id.setdefault((r["doc_id"], r["source"]), []).append(r["epoch"])
    # integer rate: EVERY wiki doc appears exactly twice, epochs {0,1}
    wiki = [v for (_, s), v in by_id.items() if s == "wiki"]
    assert len(wiki) == 1000 and all(sorted(v) == [0, 1] for v in wiki)
    # fractional downsample: kept crawl docs appear once at epoch 0,
    # and the achieved rate sits near 0.5 (hash noise bounded)
    crawl = [v for (_, s), v in by_id.items() if s == "crawl"]
    assert all(v == [0] for v in crawl)
    assert 400 <= len(crawl) <= 600
    # pure function of (doc_id, epoch): identical under repartitioning
    again = sorted(
        (r["doc_id"], r["epoch"])
        for r in mixture_sample(docs.repartition(13), rates).collect()
    )
    assert again == sorted((r["doc_id"], r["epoch"]) for r in out)


def test_mixture_sample_zero_shuffle_plan(spark):
    docs = spark.createDataFrame(
        [("a", "s", "t")], "doc_id string, source string, text string"
    )
    plan = mixture_sample(docs, {"s": 1.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-wise explode+filter, no shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_stats_achieved_rates(spark):
    docs = spark.createDataFrame(
        [(str(i), f"s{i % 4}", "t") for i in range(4000)],
        "doc_id string, source string, text string",
    )
    rates = {"s0": 2.5, "s1": 2.0, "s2": 0.25}
    got = {r["source"]: r for r in
           mixture_stats(docs, rates, default_rate=1.0).collect()}
    assert got["s1"]["n_out"] == 2000 and got["s1"]["achieved_rate"] == 2.0
    assert got["s3"]["n_out"] == 1000  # default 1.0 keeps everything
    assert abs(got["s0"]["achieved_rate"] - 2.5) < 0.15
    assert abs(got["s2"]["achieved_rate"] - 0.25) < 0.1


def test_pack_sequences_sequential_fill(spark):
    # 10-token docs, ctx=32: bins hold ~3 docs; shards independent
    docs = spark.createDataFrame(
        [(f"{s}{i:02d}", s, " ".join(["t"] * 10)) for s in ("en", "fr") for i in range(7)],
        "doc_id string, lang string, text string",
    )
    packed = pack_sequences(docs, ctx=32).collect()
    bins = {(r["shard"], r["doc_id"]): r["bin"] for r in packed}
    # doc k (0-indexed) has cum_before = 10k -> bin = floor(10k/32)
    for s in ("en", "fr"):
        for i in range(7):
            assert bins[(s, f"{s}{i:02d}")] == (10 * i) // 32
    # bins are monotone within a shard and restart per shard
    assert bins[("en", "en00")] == 0 and bins[("fr", "fr00")] == 0


def test_dedup_lines_keep_first_and_drop_all(spark):
    boiler = "accept all cookies"
    docs = spark.createDataFrame(
        [
            (1, "s0", f"unique one\n{boiler}\nalso unique"),
            (2, "s0", f"{boiler}\nanother body"),
            (3, "s1", f"third body\n{boiler}"),
        ],
        "doc_id bigint, source string, text string",
    )
    out = dedup_lines(docs, min_df=2, mode="keep_first").collect()
    dup = [r for r in out if r["line"] == boiler]
    assert len(dup) == 3 and all(r["line_df"] == 3 for r in dup)
    # keep_first: only the lexicographically-first (doc_id, pos) stays
    kept = [(r["doc_id"], r["pos"]) for r in dup if r["kept"]]
    assert kept == [(1, 1)]
    # unique lines all survive
    assert all(r["kept"] for r in out if r["line"] != boiler)
    # drop_all: every occurrence of the over-threshold line goes
    out_da = dedup_lines(docs, min_df=2, mode="drop_all").collect()
    assert not any(r["kept"] for r in out_da if r["line"] == boiler)
    assert all(r["kept"] for r in out_da if r["line"] != boiler)
    # pure function of (line, doc_id, pos): stable under repartitioning
    again = sorted(
        (r["doc_id"], r["pos"], r["kept"])
        for r in dedup_lines(docs.repartition(7), min_df=2).collect()
    )
    assert again == sorted((r["doc_id"], r["pos"], r["kept"]) for r in out)


def test_line_occurrences_chunk_words(spark):
    words = [f"w{i}" for i in range(25)]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id bigint, text string"
    )
    occ = {r["pos"]: r["line"]
           for r in line_occurrences(docs, chunk_words=10).collect()}
    # 25 words -> 3 chunks of 10/10/5, in order, nothing lost
    assert len(occ) == 3
    assert occ[0] == " ".join(words[:10])
    assert occ[1] == " ".join(words[10:20])
    assert occ[2] == " ".join(words[20:])


def test_dedup_lines_agg_join_plan_no_window(spark):
    docs = spark.createDataFrame(
        [(1, "s", "a\nb")], "doc_id bigint, source string, text string"
    )
    df = line_dedup_stats(docs, group_col="source")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # frequency comes from a partial-aggregable groupBy + join, never a
    # window (a hot boilerplate line would serialize onto one task)
    assert "Window" not in plan
    assert "partial_count" in plan  # map-side combine on line_hash
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_fluency_typical_beats_soup(spark):
    """Docs made of the corpus's dominant transitions score above a
    doc of one-off transitions; scoring is integer-exact and docs
    with < 2 tokens are excluded."""
    from fundamental_spark.operators.pipeline import lm_fluency, lm_fluency_buckets

    common = "the cat sat on the mat " * 10          # dominant bigrams
    docs = spark.createDataFrame(
        [
            (1, "en", common.strip()),
            (2, "en", common.strip()),
            (3, "en", "zeta omega kappa lambda iota theta"),  # one-off chain
            (4, "en", "solo"),                                 # unscoreable
        ],
        "doc_id bigint, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in lm_fluency(docs).collect()}
    assert 4 not in rows
    assert rows[1]["score_ppm"] == rows[2]["score_ppm"]  # identical text
    assert rows[1]["score_ppm"] > rows[3]["score_ppm"]

    b = {r["doc_id"]: r for r in lm_fluency_buckets(docs).collect()}
    assert b[1]["bucket_name"] == "head"
    assert b[3]["bucket_name"] == "tail"


def test_lm_fluency_exactness(spark):
    """score_ppm is the exact floor-mean of per-position ppm floors —
    recomputed by hand on a 3-doc corpus."""
    from fundamental_spark.operators.pipeline import lm_fluency

    docs = spark.createDataFrame(
        [(1, "en", "a b a b"), (2, "en", "a b c")],
        "doc_id bigint, lang string, text string",
    )
    # unigrams: a=3, b=3, c=1 -> V=3.  bigrams: 'a b'=3, 'b a'=1, 'b c'=1
    # Laplace q = floor(1e6 * (c_bg+1) / (c_uni+V)):
    # doc1 positions: ab, ba, ab -> q = [1e6*4/6, 1e6*2/6, 1e6*4/6]
    #   = [666666, 333333, 666666]; 1666665 div 3 = 555555
    # doc2: ab, bc -> [666666, 1e6*2/6=333333]; 999999 div 2 = 499999
    rows = {r["doc_id"]: r["score_ppm"] for r in lm_fluency(docs).collect()}
    assert rows == {1: 555555, 2: 499999}


def test_dsir_target_like_docs_weigh_more(spark):
    """Docs sharing the target's vocabulary get a higher importance
    weight than docs from a disjoint vocabulary; weights are exact
    integers and identical for identical text."""
    from fundamental_spark.operators.pipeline import dsir_weights

    tgt = "alpha beta gamma delta epsilon " * 6
    off = "one two three four five six seven " * 6
    docs = spark.createDataFrame(
        [
            (1, "wiki", tgt.strip()),
            (2, "wiki", tgt.strip()),
            (3, "web", tgt.strip()),   # raw doc that LOOKS like target
            (4, "web", off.strip()),   # raw doc that doesn't
        ],
        "doc_id bigint, source string, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dsir_weights(
            docs, target_filter=F.col("source") == "wiki", n_buckets=64
        ).collect()
    }
    assert rows[3]["logw_micro"] == rows[1]["logw_micro"]  # same text
    assert rows[3]["logw_micro"] > rows[4]["logw_micro"]


def test_training_order_matches_global_sort_and_has_no_global_window(spark):
    """The bucket-offset plan reproduces the naive global ROW_NUMBER
    exactly, is a permutation of 0..n-1 with contiguous equal shards,
    and its physical plan contains no single-partition window."""
    from fundamental_spark.operators.dedup import _md5_hash60
    from fundamental_spark.operators.pipeline import training_order

    docs = spark.createDataFrame(
        [(i,) for i in range(987)], "doc_id bigint"
    ).withColumn("text", F.lit("t"))
    out = training_order(docs, n_out_shards=4, n_buckets=16)
    rows = out.collect()
    pos = sorted(r["global_pos"] for r in rows)
    assert pos == list(range(987))
    # oracle: naive global sort by (hash, id)
    naive = (
        docs.select("doc_id", _md5_hash60(F.col("doc_id").cast("string")).alias("h"))
        .orderBy("h", "doc_id")
        .collect()
    )
    want = {r["doc_id"]: i for i, r in enumerate(naive)}
    assert {r["doc_id"]: r["global_pos"] for r in rows} == want
    # shards are contiguous ranges of ceil(987/4)=247
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["out_shard"], []).append(r["global_pos"])
    assert sorted(by_shard) == [0, 1, 2, 3]
    assert max(by_shard[0]) == 246 and min(by_shard[1]) == 247
    # plan: every Window sits above a hash-partitioned exchange on
    # bucket, never a SinglePartition
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_bpe_train_hand_checked(spark):
    """Classic BPE walkthrough: corpus {low×5, lower×2, newest×6,
    widest×3} (Sennrich's example shape, no </w> marker). Top merges
    recomputed by hand; overlapping pairs count like get_stats."""
    from fundamental_spark.operators.pipeline import bpe_train

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    merges = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train(docs, n_merges=4).collect()
    ]
    # counts: es = 6+3 = 9 (newest, widest); then est = 9; lo = 5+2 = 7
    assert merges[0] == (1, "e", "s", 9)
    assert merges[1] == (2, "es", "t", 9)
    assert merges[2] == (3, "l", "o", 7)
    assert merges[3] == (4, "lo", "w", 7)


def test_bpe_train_sentinel_safety_and_overlap(spark):
    """Overlapping-pair greedy semantics ('aaaa' merges to two 'aa',
    never three) and symbols never match across word boundaries."""
    from fundamental_spark.operators.pipeline import bpe_train

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ba ab")], "doc_id bigint, text string"
    )
    merges = {
        r["merge_rank"]: (r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train(docs, n_merges=2).collect()
    }
    # (a,a) appears 3× per 'aaaa' word (overlap-counted), 2 words = 6
    assert merges[1] == ("a", "a", 6)
    # after the merge each 'aaaa' is [aa, aa]: (aa,aa) count 2 beats
    # any cross-boundary phantom
    assert merges[2] == ("aa", "aa", 2)


def test_bpe_token_stats_compression(spark):
    """After 4 merges on the Sennrich corpus, frequent words encode in
    fewer tokens than their char count (compression), and per-word
    counts follow the learned merges exactly."""
    from fundamental_spark.operators.pipeline import bpe_token_stats

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, "en", text)], "doc_id bigint, lang string, text string")
    r = bpe_token_stats(docs, n_merges=4).collect()[0]
    # merges: es, est, lo, low -> low=1 tok, lower=3 (low,e,r),
    # newest=4 (n,e,w,est), widest=4 (w,i,d,est)
    assert r["n_words"] == 16
    assert r["bpe_tokens"] == 5 * 1 + 2 * 3 + 6 * 4 + 3 * 4
    assert r["chars"] == 5 * 3 + 2 * 5 + 6 * 6 + 3 * 6
    assert r["tokens_per_word"] == round((5 + 6 + 24 + 12) / 16, 4)


def test_gopher_quality_rules(spark):
    """Each rule triggers on its planted offender and the clean doc
    passes everything."""
    from fundamental_spark.operators.pipeline import gopher_quality

    clean = ("the quick brown fox and the lazy dog have gone to rest "
             "with friends of that old farm near the quiet river bend "
             "while evening light settled over distant hills and small "
             "birds returned home to warm nests hidden among tall reeds "
             "as farmers walked slowly back from fields carrying worn "
             "tools and speaking softly about tomorrow")
    spammy = "buy now best offer " * 30 + " the of and that be"
    symbols = ("### " * 20) + "the of and that " + "word " * 40
    numeric = ("12345 67890 11111 " * 25) + "the of and be"
    short = "the of and"
    docs = spark.createDataFrame(
        [
            (1, clean.strip()),
            (2, spammy.strip()),
            (3, symbols.strip()),
            (4, numeric.strip()),
            (5, short),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False            # top-bigram repetition
    assert got[2]["top2_char_frac"] > 0.2
    assert got[3]["keep"] is False            # symbol ratio
    assert got[3]["symbol_ratio"] > 0.1
    assert got[4]["keep"] is False            # alpha fraction
    assert got[4]["alpha_frac"] < 0.8
    assert got[5]["keep"] is False            # word count
    assert got[5]["n_words"] < 50
    # dup5 on a doc that repeats one 5-gram verbatim twice among filler
    block = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    d6 = spark.createDataFrame(
        [(6, f"{block} {filler} {block}")], "doc_id bigint, text string"
    )
    r6 = gopher_quality(d6).collect()[0]
    # one repeat of a 5-gram with 26 non-space chars over the doc
    assert r6["dup5_char_frac"] > 0.0


def test_integer_exact_ops_are_partition_invariant(spark):
    """The integer-exact scoring designs (lm_fluency, dsir_weights,
    dup_span_stats) must be BIT-identical under arbitrary input
    partitioning — the whole point of flooring to integers before any
    aggregation crosses a shuffle."""
    import random as _r

    from fundamental_spark.operators.dedup import dup_span_stats
    from fundamental_spark.operators.pipeline import dsir_weights, lm_fluency

    rng = _r.Random(53)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, "en" if i % 3 else "de", f"src{i % 4}",
         " ".join(vocab[rng.randrange(40)] for _ in range(80)))
        for i in range(120)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    )
    shuffled = docs.repartition(17)

    a = sorted(tuple(r) for r in lm_fluency(docs).collect())
    b = sorted(tuple(r) for r in lm_fluency(shuffled).collect())
    assert a == b

    tf = F.col("source") == "src0"
    a = sorted(tuple(r) for r in dsir_weights(docs, tf, n_buckets=64).collect())
    b = sorted(tuple(r) for r in dsir_weights(shuffled, tf, n_buckets=64).collect())
    assert a == b

    a = sorted(tuple(r) for r in dup_span_stats(docs).collect())
    b = sorted(tuple(r) for r in dup_span_stats(shuffled).collect())
    assert a == b
    # invariants: spans never exceed the doc
    for _, n_tokens, n_spans, dup_tokens, dup_frac in a:
        assert 0 <= dup_tokens <= n_tokens
        assert (n_spans == 0) == (dup_tokens == 0)
        assert 0.0 <= dup_frac <= 1.0


def test_new_ops_survive_empty_corpus(spark):
    """Production guard: every round-5 corpus op returns an empty (or
    well-formed degenerate) result on an empty documents table instead
    of crashing — the first thing a scheduled pipeline hits on a
    no-new-data day."""
    from fundamental_spark.operators.dedup import (
        dedup_keep_best,
        dup_span_stats,
        minhash_incremental_pairs,
    )
    from fundamental_spark.operators.pipeline import (
        bpe_train,
        dsir_weights,
        gopher_quality,
        lm_fluency_buckets,
        training_order,
    )

    empty = spark.createDataFrame(
        [], "doc_id bigint, lang string, source string, text string"
    )
    assert dup_span_stats(empty).count() == 0
    assert lm_fluency_buckets(empty).count() == 0
    assert dsir_weights(empty, F.col("source") == "x").count() == 0
    assert gopher_quality(empty).count() == 0
    assert training_order(empty).count() == 0
    assert bpe_train(empty, n_merges=3).count() == 0
    assert dedup_keep_best(empty).count() == 0
    assert minhash_incremental_pairs(
        empty, F.col("doc_id") % 10 == 0, allow_low_recall=True
    ).count() == 0


def test_quality_lr_distills_the_repetition_gate(spark):
    from fundamental_spark.operators.pipeline import (
        quality_lr_fit,
        repetition_metrics,
    )

    # 12 clean docs (all-distinct tokens) + 8 spammy docs (one token
    # repeated well past the dup-unigram cap) — the teacher gate splits
    # them exactly, and distinct-fraction is the separating feature
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(24))) for i in range(12)]
    rows += [(100 + i, ("spam " * 20) + f"tail{i} end{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    keep_rate = (
        repetition_metrics(docs).filter("keep").count() / docs.count()
    )
    out = quality_lr_fit(docs).collect()[0]
    assert out["n_docs"] == 20 and out["n_pos"] == 12
    # beats the majority-class baseline = the model actually separates
    assert out["accuracy"] > max(keep_rate, 1 - keep_rate)
    assert out["accuracy"] >= 0.95
    assert out["w_distinct"] > 0  # higher distinct fraction -> keep
    # deterministic: a second fit reproduces every weight bit-for-bit
    again = quality_lr_fit(docs).collect()[0]
    assert tuple(out) == tuple(again)


def test_mixture_sample_rate_zero_drops_source(spark):
    """rate 0.0 means 'drop this source' — it must emit NOTHING. The
    ungated sequence(0, ceil(0)-1) produced a DESCENDING [0, -1] whose
    epoch -1 passed the integer-epoch gate, a phantom copy per row."""
    import pytest

    docs = spark.createDataFrame(
        [(str(i), "wiki" if i % 2 else "junk", "t") for i in range(100)],
        "doc_id string, source string, text string",
    )
    out = mixture_sample(docs, {"wiki": 1.0, "junk": 0.0}).collect()
    assert all(r["source"] == "wiki" for r in out)
    assert len(out) == 50 and all(r["epoch"] == 0 for r in out)
    with pytest.raises(ValueError):
        mixture_sample(docs, {"wiki": -0.5})


def _bpe_sequential(docs, n_merges: int, text_col: str = "text"):
    """Reference sequential BPE trainer (Sennrich 2016) as its own
    loop: per round, the single top pair by (count DESC, lhs, rhs) over
    the frequency-weighted unique-word vocabulary, applied as one SQL
    ``replace()`` on the sentinel-wrapped symbol strings. Returns
    [(merge_rank, lhs, rhs, pair_count)]."""
    from fundamental_spark.operators.dedup import spread
    from fundamental_spark.operators.pipeline import _BPE_L, _BPE_R

    def sql_str(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    enc0 = F.regexp_replace(
        F.regexp_replace(F.col("word"), f"[{_BPE_L}{_BPE_R}]", ""),
        "(.)",
        _BPE_L + "$1" + _BPE_R,
    )
    vocab = (
        spread(docs)
        .select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", enc0.alias("enc"))
        .localCheckpoint(eager=True)
    )
    sep = _BPE_R + _BPE_L
    syms = F.split(F.expr("substring(enc, 2, length(enc) - 2)"), sep)
    pair_expr = F.expr(
        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), "
        "(a, b) -> struct(a, b))"
    )
    merges = []
    for rank in range(1, n_merges + 1):
        top = (
            vocab.select("freq", syms.alias("s"))
            .select("freq", F.explode(pair_expr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], top[0]["c"]
        merges.append((rank, a, b, int(c)))
        pat = _BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R
        rep = _BPE_L + a + b + _BPE_R
        vocab = vocab.select(
            "word", "freq", F.expr("replace(enc, {}, {})".format(
                sql_str(pat), sql_str(rep)
            )).alias("enc"),
        ).localCheckpoint(eager=False)
    return merges


def test_bpe_batched_equals_sequential_at_batch1(spark):
    """batch=1 must reproduce the sequential reference trainer EXACTLY
    (ranks, pairs, counts) — the sequential-spec pin for bpe_train."""
    from fundamental_spark.operators.pipeline import bpe_train

    docs = spark.createDataFrame(
        [("d1", "low lower lowest low low"), ("d2", "new newer newest new"),
         ("d3", "wide wider widest wide low")],
        "doc_id string, text string",
    )
    seq = _bpe_sequential(docs, n_merges=8)
    b1 = [tuple(r) for r in bpe_train(docs, n_merges=8, batch=1).collect()]
    assert seq == b1


def test_bpe_batched_disjoint_and_counts_exact(spark):
    """batch>1: every round's picks are mutually symbol-disjoint (the
    invariant that makes a batch order-independent and its counts
    exact w.r.t. the round-start encoding), and on this deterministic
    fixture every pair shared with the sequential trainer carries the
    identical count (disjoint picks leave each other's counts
    untouched; a cross-trainer count shift would mean the batch
    violated disjointness somewhere)."""
    from fundamental_spark.operators.pipeline import bpe_train

    docs = spark.createDataFrame(
        [("d1", "the quick brown fox jumps over the lazy dog " * 3),
         ("d2", "pack my box with five dozen liquor jugs " * 2),
         ("d3", "the jay pig fox zebra and my wolves quack " * 2)],
        "doc_id string, text string",
    )
    batched = [tuple(r) for r in
               bpe_train(docs, n_merges=8, batch=4).collect()]
    # per-round disjointness: ranks 1-4 = round 1, 5-8 = round 2
    for lo in (0, 4):
        used: set[str] = set()
        for _, a, b, _c in batched[lo:lo + 4]:
            assert a not in used and b not in used, batched[lo:lo + 4]
            used.update((a, b))
    # count exactness: the sequential trainer, run long enough to pick
    # the same pairs, reports the same count for every shared pair
    seq = {(a, b): c for _, a, b, c in
           (tuple(r) for r in bpe_train(docs, n_merges=16).collect())}
    shared = [(a, b, c) for _, a, b, c in batched if (a, b) in seq]
    assert shared, "fixture produced no shared pairs"
    for a, b, c in shared:
        assert seq[(a, b)] == c, (a, b, c, seq[(a, b)])


def test_bpe_round_schedule(spark):
    """batch=0 is refused before any Spark work. With max_rounds=None
    the schedule is fixed at ceil(n_merges/batch) rounds, so a
    conflict-starved corpus (single-letter words: every hot pair shares
    the symbol 'a') under-fills; a large max_rounds reaches exactly
    n_merges and stops as soon as it does."""
    import pytest

    from fundamental_spark.operators.pipeline import bpe_train

    docs = spark.createDataFrame(
        [(n, " ".join(["a" * n] * (41 - n))) for n in range(2, 41)],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError):
        bpe_train(docs, batch=0)
    fixed = [tuple(r) for r in bpe_train(docs, n_merges=8, batch=4).collect()]
    assert 0 < len(fixed) < 8
    assert [r[0] for r in fixed] == list(range(1, len(fixed) + 1))
    with spark_jobs(spark) as jobs:
        long = [
            tuple(r)
            for r in bpe_train(docs, n_merges=8, batch=4, max_rounds=100).collect()
        ]
    assert [r[0] for r in long] == list(range(1, 9))
    assert long[: len(fixed)] == fixed  # same rounds, same picks
    assert len(jobs) < 100  # stopped at the merge target, not at max_rounds
