"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are JVM column expressions (split/filter/
aggregate HOFs, regexp) — no Python per row. These run over the
``documents`` table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (public-knowledge word lists)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and", "in", "is", "it", "that", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "les", "des", "dans"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "von", "zu", "mit"),
    "nl": ("de", "het", "een", "en", "van", "is", "dat", "op", "te", "met"),
}

QUALITY_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "de", "la", "el")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the baseline token counter)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^.,!?;:]", ""))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = QUALITY_STOPWORDS) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def _lattice4(num: Column, den: Column) -> Column:
    """round(num/den, 4) as an INTEGER in [0, 10000]. Rounding to 0 dp
    is the one scale where Spark (BigDecimal on the double's shortest
    decimal repr) and DuckDB (x*10^k scaling) can never disagree: the
    only boundary doubles are exact X.5 values, which both engines
    round away from zero. At scale 4 the two implementations DO
    disagree on composites whose true decimal lands exactly on a
    0.00005 boundary (observed at sf0.1), so the quality composite is
    assembled on this integer lattice instead."""
    return F.round(num * F.lit(10000.0) / den).cast("long")


def punct_ratio4(text: Column) -> Column:
    """punct_ratio rounded to 4 dp on the integer lattice (see
    _lattice4 for why this beats ROUND(x, 4) cross-engine)."""
    n_punct = F.length(F.regexp_replace(text, r"[^.,!?;:]", ""))
    return _lattice4(n_punct, F.greatest(F.length(text), F.lit(1))) / F.lit(10000.0)


def stopword_ratio4(text: Column) -> Column:
    """stopword_ratio rounded to 4 dp on the integer lattice."""
    hits = F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*QUALITY_STOPWORDS)))
    return _lattice4(hits, F.greatest(token_count(text), F.lit(1))) / F.lit(10000.0)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic: length saturation + low punctuation
    + stopword presence (natural-language signal). Deterministic and
    cross-engine EXACT: each sub-ratio is rounded to the 1e-4 integer
    lattice, the weighted sum (weights 0.4/0.3/0.3 = integers 4/3/3
    over a 1e-5 lattice) stays in int64, and the final half-up to 4 dp
    is integer floor((N+5)/10) — no double ever meets a decimal
    rounding boundary. SQL twin in queries.py mirrors it literally."""
    toks_n = token_count(text)
    lp4 = F.least(toks_n * F.lit(100), F.lit(10000)).cast("long")
    n_punct = F.length(F.regexp_replace(text, r"[^.,!?;:]", ""))
    p4 = _lattice4(n_punct, F.greatest(F.length(text), F.lit(1)))
    hits = F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*QUALITY_STOPWORDS)))
    s4 = _lattice4(hits, F.greatest(toks_n, F.lit(1)))
    n = 4 * lp4 + 3 * (F.lit(10000) - p4) + 3 * s4
    return F.floor((n + F.lit(5)) / F.lit(10.0)) / F.lit(10000.0)


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.encode(normalize_text(text), "UTF-8"))


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    def pred(t: Column) -> Column:
        return t.isin(*words)

    return F.size(F.filter(toks, pred))


def langid(text: Column) -> Column:
    """Stopword-vote language ID: argmax over per-language hit counts;
    'und' when nothing matches. Pure JVM expression."""
    toks = tokens(F.lower(text))
    best = F.lit("und")
    best_score = F.lit(0)
    for lang, words in LANG_STOPWORDS.items():
        hits = _hits(toks, words)
        cond = hits > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, hits).otherwise(best_score)
    return best


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed BM25 keyword search: top-k documents for a bag of
    query terms (Robertson-Sparck Jones BM25, the Lucene-default
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf, so scores are always
    positive). The corpus-curation retrieval primitive: inspect what a
    contamination / dedup / quality query flagged by ranked example.

    Scale shape (the inverted-index plan, no index materialized):
    - the exploded token stream is filtered to the query terms BEFORE
      any aggregation — everything downstream is proportional to docs
      CONTAINING a query term, not the corpus;
    - per-(doc, term) tf is a map-side-combinable count, keyed wide
      enough to never hot-spot (doc_id is in the key);
    - df and the (N, avgdl) corpus stats are tiny (≤|terms| rows, 1
      row) and broadcast;
    - the final top-k is orderBy+limit -> TakeOrderedAndProject (per-
      partition heaps, never a global sort).
    """
    terms = [t.lower() for t in query_terms]
    dl = F.size(tokens(F.col(text_col))).alias("dl")
    # spread the token-explode side only (round 7): the lower+split+
    # explode pass is per-row-heavy and a small-file scan serializes it
    # (openCostInBytes floors split sizes; no-op at cluster scale). The
    # corpus-stats leg below deliberately stays on the UNSPREAD input:
    # avg(dl) is a float partial-sum whose order must not change.
    from ..operators.dedup import spread

    toks = spread(docs).select(
        F.col(id_col), dl, F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    ).filter(F.col("term").isin(*terms))
    tf = toks.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.select(dl).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / norm
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.desc("bm25"), F.col(id_col)).limit(k)
