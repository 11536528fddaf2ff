"""Text-analysis functions (langid, quality, tokens, fingerprint) and
BM25 keyword search."""

from __future__ import annotations

from pyspark.sql import functions as F

from fundamental_spark.functions.text import (
    fingerprint,
    langid,
    punct_ratio,
    quality_score,
    token_count,
)


def test_langid_and_features(spark):
    docs = spark.createDataFrame(
        [
            ("e1", "the cat sat on the mat and it was the best of all"),
            ("s1", "el perro corre en la casa y es el mejor de los dos"),
            ("n1", "de hond loopt in het park en het is een mooie dag"),
            ("u1", "zzz qqq www"),
            ("p1", "hello, world!!! what?? yes; no: maybe..."),
        ],
        "doc_id string, text string",
    )
    t = F.col("text")
    feats = docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        quality_score(t).alias("quality"),
        langid(t).alias("lang_pred"),
    )
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert rows["e1"]["lang_pred"] == "en"
    assert rows["s1"]["lang_pred"] == "es"
    assert rows["n1"]["lang_pred"] == "nl"
    assert rows["u1"]["lang_pred"] == "und"
    assert rows["p1"]["punct_ratio"] > 0.2
    assert rows["e1"]["n_tokens"] == 13
    assert 0.0 <= rows["e1"]["quality"] <= 1.0
    # fingerprint invariant under case/whitespace
    d2 = spark.createDataFrame(
        [("a", "Hello  World"), ("b", "hello world")], "doc_id string, text string"
    )
    fps = [r["fp"] for r in d2.select(fingerprint(t).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_bm25_ranking_and_topk(spark):
    from fundamental_spark.functions.text import bm25_topk

    docs = spark.createDataFrame(
        [
            # repeats the rare term in a short doc -> highest tf, low dl
            (1, "dup dup dup scan"),
            # one rare-term hit in a longer doc
            (2, "dup scan merge join filter sort window batch"),
            # common term only
            (3, "join scan merge"),
            # no query term at all -> must not appear
            (4, "scan merge filter sort"),
            # filler docs so idf('dup') > idf('join')
            (5, "join alpha beta"),
            (6, "join gamma delta"),
            (7, "join epsilon zeta"),
        ],
        "doc_id bigint, text string",
    )
    out = bm25_topk(docs, query_terms=("dup", "join"), k=10).collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids
    assert len(ids) == 6
    # the dup-heavy short doc dominates; the single-hit dup doc beats
    # any join-only doc (df(dup)=2 of 7 vs df(join)=5 of 7)
    assert ids[0] == 1
    scores = {r.doc_id: r.bm25 for r in out}
    assert scores[2] > max(scores[i] for i in (3, 5, 6, 7))
    by_id = {r.doc_id: r.n_terms_matched for r in out}
    assert by_id[1] == 1 and by_id[2] == 2 and by_id[3] == 1
    # k cap respected
    assert len(bm25_topk(docs, query_terms=("dup", "join"), k=2).collect()) == 2
