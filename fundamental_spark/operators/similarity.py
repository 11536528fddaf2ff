"""Similarity search over embedding columns (array<float>).

- ``cosine`` / ``dot``: JVM higher-order functions (zip_with +
  aggregate in double precision) — no Python, no UDF.
- ``brute_force_topk``: exact top-k neighbors for a (small) query set:
  broadcast the queries, score every corpus vector, rank per query
  with a window. O(|Q|·|corpus|) scoring but fully distributed; the
  correct baseline and the verifier for approximate methods.
- ``lsh_topk``: random-hyperplane LSH (deterministic planes derived
  from fixed constants): bucket vectors by sign signature, search only
  same-bucket (multi-probe: hamming-1 buckets optional) — the scale
  path; recall measured against brute force in tests.
- ``embedding_near_dup_gemm`` / ``embedding_near_dup_lsh_pairs`` /
  ``embedding_near_dup_auto``: all pairs ≥ cosine threshold — exact
  blocked GEMM, banded hyperplane LSH, and the threshold-driven
  dispatcher between them. The O(n²) crossJoin reference they are
  checked against lives in tests/test_similarity.py.
- ``gemm_topk`` / ``ivf_topk`` / ``pq_topk`` / ``ivfpq_topk``: the
  exact GEMM, IVF-cell, PQ-ADC and composed IVF+PQ top-k, and
  ``semdedup`` (k-means cells, in-cell greedy drop).

Every top-k operator ends in one shared core: ``_topk_by_cos`` (the
rank window, cos DESC / neighbor_id ASC, cos rounded to 4 dp after
the cut), ``_adc_rerank`` + ``_lut`` (the PQ ADC scan and exact
re-rank), and ``_pin9`` (the 1e-9 half-away grid every BLAS-side
compare is pinned to, mirrored by the oracles' ROUND(.., 9)). Cell
assignment and PQ encoding run as GEMM over Arrow batches
(``assign_cells_gemm`` / ``assign_pq_codes_gemm``); their interpreted
JVM-fold twins are test references in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import cheapest_banding, spread


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _to_double(a), _to_double(b)
    return dot(ad, bd) / (norm(ad) * norm(bd))


# ---- SQL-text twins of the fold primitives --------------------------------
#
# Literal-heavy expressions (a dot product against a 64-component
# constant centroid/plane, repeated 8-16×) built Column-by-Column cost
# ~3 py4j round trips PER COMPONENT on the driver — measured 2-5 s of
# pure plan-BUILD time per LSH/IVF/PQ stage at bench scale, dwarfing
# the 0.2-0.3 s of actual execution. These helpers render the SAME
# expression tree as one SQL string parsed in a single F.expr call
# (double literals via repr() round-trip + CAST, so the values are
# bit-identical to F.lit), cutting plan construction to milliseconds.


def _dlit(x: float) -> str:
    """SQL double literal that round-trips repr() exactly."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sql_arr(vals: list[float]) -> str:
    return "array(" + ", ".join(_dlit(v) for v in vals) + ")"


def _sql_dot(vec_sql: str, vals: list[float]) -> str:
    """Textual twin of ``dot()``: the identical zip_with/aggregate
    left-associative fold, same start value, same lambda shapes."""
    return (
        f"aggregate(zip_with({vec_sql}, {_sql_arr(vals)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_to_double(vec_sql: str) -> str:
    """Textual twin of ``_to_double``."""
    return f"transform({vec_sql}, x -> CAST(x AS DOUBLE))"


# ---- the shared ANN core ----------------------------------------------------


def _pin9(a):
    """Pin a numpy array to the 1e-9 grid, rounding half AWAY from zero.

    The cross-engine contract of every BLAS-side compare: the DuckDB
    oracles mirror it with ``ROUND(.., 9)``, which rounds half away;
    ``np.round`` rounds half to even and disagrees exactly at grid
    boundaries. BLAS pairwise and the oracle's sequential fold differ
    by ~1e-15, far below the grid."""
    import numpy as np

    return np.sign(a) * np.floor(np.abs(a) * 1e9 + 0.5) / 1e9


def _topk_by_cos(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) from (query_id, neighbor_id,
    cos) rows: the top ``k`` per query by raw cosine DESC, neighbor_id
    ASC on ties, with the cosine rounded to 4 dp only after the cut —
    the tail every top-k operator and its DuckDB twin share."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 4).alias("cos"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — exact top-k by cosine.
    Queries are broadcast; scoring runs where the corpus lives."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    return _topk_by_cos(scored, k)


def gemm_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine via blocked GEMM: the queries (small) are
    collected once and broadcast as a normalized numpy matrix; each
    corpus partition streams through mapInPandas and scores an Arrow
    batch against ALL queries with one float64 matrix multiply, keeping
    only its local top-k per query; a final window takes the global
    top-k over the per-partition survivors (executors emit ≤ k rows per
    query per batch, so the shuffle is tiny).

    This is the 100 TB brute-force path: ~100× less per-pair overhead
    than interpreted JVM HOF cosine, no per-row Python (Arrow batches),
    and the corpus is never collected or shuffled."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id bigint, rank int, neighbor_id bigint, cos double"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    out_schema = "query_id bigint, neighbor_id bigint, cos double"

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T  # (batch, n_queries)
            for j in range(len(q_ids)):
                col = sims[:, j]
                mask = ids != q_ids[j]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # tie order (cos desc, neighbor_id asc) must match the
                # final window so the k-boundary cut is identical
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))
                top = cand_idx[order[:k]]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(top), q_ids[j]),
                        "neighbor_id": ids[top],
                        "cos": col[top],
                    }
                )

    return _topk_by_cos(spread(corpus).mapInPandas(score, out_schema), k)


_PLANE_SEED = 0x2545F4914F6CDD1D


def _plane_constants(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (xorshift-derived,
    mapped to [-1, 1]); fixed at import — no runtime RNG."""
    planes = []
    x = _PLANE_SEED
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(((x % 2000003) / 1000001.5) - 1.0)
        planes.append(row)
    return planes


def lsh_signature(vec_name: str, n_planes: int, dim: int) -> Column:
    """Sign signature as a long: bit i = (vec · plane_i) > 0.
    ``vec_name`` is the input COLUMN NAME — the whole signature is one
    SQL string (see the _sql_dot rationale above: Column-by-Column
    construction of n_planes×dim literals cost seconds of driver-side
    py4j before any job ran)."""
    planes = _plane_constants(n_planes, dim)
    vd = _sql_to_double(f"`{vec_name}`")
    sig = "CAST(0 AS BIGINT)"
    for i, p in enumerate(planes):
        d = _sql_dot(vd, p)
        sig = (
            f"({sig} | (CASE WHEN ({d}) > 0 THEN "
            f"shiftleft(CAST(1 AS BIGINT), {i}) ELSE 0 END))"
        )
    return F.expr(sig)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the LSH bucket (plus all
    hamming-1 probes of the query signature), then exact cosine rank
    within candidates. At corpus scale the bucket join replaces the
    full scan; recall vs brute force is measured in tests."""
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_signature(vec_col, n_planes, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_signature(vec_col, n_planes, dim).alias("qsig"),
    )
    # multi-probe: query probes its own bucket + all hamming-1 buckets
    probes = q.select(
        "query_id",
        "qv",
        F.explode(
            F.array(
                F.col("qsig"),
                *[
                    F.col("qsig").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos")
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_by_cos(scored, k)


def _unit(vec: list[float]) -> list[float]:
    """Unit-normalize, rounding each component to 9 decimals.

    The rounding pins the centroid values to a grid far coarser than
    FP-summation-order noise (~1e-16 relative), so an independent
    engine (the DuckDB oracle for ``ann_ivf``) recomputing the same
    Lloyd iterations lands on bit-identical centroids regardless of
    its reduction order."""
    import math as _math

    n = _math.sqrt(sum(x * x for x in vec)) or 1.0
    return [round(x / n, 9) for x in vec]


def assign_cells_gemm(
    df: DataFrame,
    cents_normed: list[list[float]],
    n: int,
    vec_col: str,
    out_col: str = "cells",
) -> DataFrame:
    """Append ``out_col`` = the n nearest centroid indices — the
    O(n·k·d) GEMM scale path for cell assignment.

    Same selection contract as the JVM-fold twin in
    tests/test_similarity.py (top-n by dot DESC, cell index DESC on
    ties — stable ascending argsort reversed),
    but the k dots per vector are ONE BLAS matmul per Arrow batch
    instead of k interpreted JVM fold expressions per row: at 500k
    vectors × 320 centroids (the bench_big vectors leg) the fold form
    spent ~200 s in Lloyd assignment alone, the GEMM form runs the
    same assignment in seconds, and at SemDeDup's deployment sizing
    (110k clusters) the fold form is simply not runnable. Dots are
    pinned to the 1e-9 grid (``_pin9``) BEFORE the compare, so
    the argmax is engine-independent despite BLAS pairwise vs
    sequential-fold summation (~1e-15 apart); the DuckDB oracles
    mirror the pin with ROUND(list_dot_product(..), 9)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    C = np.array(cents_normed, dtype=np.float64)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(IntegerType()))]
    )

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype=object)
                yield pdf
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            s = _pin9(mat @ C.T)
            order = np.argsort(s, axis=1, kind="stable")[:, ::-1][:, :n]
            pdf[out_col] = [row.astype("int32").tolist() for row in order]
            yield pdf

    return df.mapInPandas(gen, schema)


def _first_by_unique_id(ordered: DataFrame, k: int) -> list:
    """The first ``k`` rows of an id-ordered frame, for seeding. Fetches
    k+1 rows and raises if any id repeats among them: a tie at or
    across the cut makes the seed order depend on partitioning, and
    with it every centroid trained from the seeds."""
    rows = ordered.limit(k + 1).collect()
    ids = [r["id"] for r in rows]
    if len(set(ids)) < len(ids):
        raise ValueError(
            "seed selection needs unique ids; repeated among the first "
            f"{k + 1} by id: {sorted({i for i in ids if ids.count(i) > 1})}"
        )
    return rows[:k]


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd) as DataFrame jobs.

    Seeding is the first ``n_centroids`` vectors by id (no RNG); each
    iteration assigns every vector to its nearest centroid JVM-side and
    recomputes per-cell means with one posexplode + groupBy(cell, pos)
    aggregation — the component matrix that reaches the driver is only
    n_centroids × dim. Empty cells keep their previous centroid.
    Returns unit-normalized centroids (cosine geometry)."""
    # materialized once: every Lloyd round (and the seed collect) scans
    # this small (id, float64-vector) frame — without the checkpoint
    # each round re-runs the parquet scan + cast pipeline (round 7)
    base = spread(corpus).select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    ).localCheckpoint(eager=True)
    seeds = _first_by_unique_id(base.orderBy("id"), n_centroids)
    cents = [_unit([float(x) for x in r["v"]]) for r in seeds]
    dim = len(cents[0]) if cents else 0
    for _ in range(n_iters):
        # GEMM assignment (assign_cells_gemm): Lloyd's per-iteration
        # O(n·k·d) is the dominant cost at deployment cell counts —
        # the interpreted-fold form spent ~200 s/iter-set at 500k×320
        comps = (
            assign_cells_gemm(base.select("v"), cents, 1, "v")
            .select(F.col("cells")[0].alias("cell"), "v")
            .select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            # round: see _unit — keeps the per-cell means reproducible
            # across engines/partitionings despite FP reduction order
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in comps:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cents = [
            _unit([by_cell[i][p] for p in range(dim)]) if i in by_cell else old
            for i, old in enumerate(cents)
        ]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    n_assign: int = 2,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_centroids`` Voronoi cells around deterministic spherical-k-means
    centroids (``kmeans_centroids``; ``kmeans_iters=0`` falls back to
    the raw first-n-by-id seeds); each corpus vector is listed in its
    ``n_assign`` nearest cells (multi-assignment "spilling": boundary
    vectors — the dominant recall loss — live in both adjacent lists);
    each query probes its ``n_probe`` nearest cells and ranks exact
    cosine only within them. The scan fraction is
    ~``n_probe*n_assign/n_centroids`` (default 4× pruning); spilling
    buys recall 0.92 → 0.96 at the SAME scan fraction on sf0.01
    (measured; exposed by the ann_ivf_recall query) — the IVF trade the
    100 TB tier makes."""
    cents = kmeans_centroids(
        corpus, n_centroids=n_centroids, n_iters=kmeans_iters,
        id_col=id_col, vec_col=vec_col,
    )

    c = assign_cells_gemm(
        spread(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        cents, n_assign, "cv",
    ).select("neighbor_id", "cv", F.explode("cells").alias("cell"))
    q = assign_cells_gemm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        cents, n_probe, "qv",
    ).select("query_id", "qv", F.explode("cells").alias("cell"))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a (query, neighbor) pair can meet through several shared
        # cells under multi-assignment — dedupe before the cosine
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos")
        )
    )
    return _topk_by_cos(scored, k)


def embedding_near_dup_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 24,
    bands: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via banded hyperplane LSH — the 100 TB path.

    Signature of ``n_planes`` sign bits split into ``bands`` bands of
    r = n_planes/bands bits; candidate pairs collide in ≥1 band
    (P[caught] = 1-(1-p^r)^b with p = 1-θ/π), then exact-cosine
    verified. Shuffles on (band, value) — never materializes the cross
    product; ``embedding_near_dup_gemm`` (all-pairs) is the exact
    plan, this operator is the one that scales. Recall vs the exact
    pair set is measured in tests/test_similarity.py."""
    assert n_planes % bands == 0
    r = n_planes // bands
    mask = (1 << r) - 1
    # norms are computed once per row BEFORE the pair join (the join is
    # a projection barrier), so the per-pair verify is a dot product
    # plus one scalar divide instead of dot + two array norms.
    # skinny candidate generation: the band-join branch carries ONLY
    # (id, band) rows — never the 64-double payload — and the expensive
    # hyperplane signature is computed exactly once, in that branch;
    # the vector/norm branch never touches the planes.
    base = spread(corpus)
    vd = _to_double(F.col(vec_col))
    banded = base.select(
        F.col(id_col).alias("id"),
        lsh_signature(vec_col, n_planes, dim).alias("sig"),
    ).select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), i * r).bitwiseAND(F.lit(mask))
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = base.select(
        F.col(id_col).alias("id"), vd.alias("v"), norm(vd).alias("nrm")
    )
    scored = (
        cands.join(
            vecs.select(
                F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
            ),
            "id_b",
        )
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return scored.select(
        "id_a", "id_b", F.round(cos, 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


def plan_near_dup_config(
    threshold: float,
    recall_target: float = 0.9,
    bg_keep_limit: float = 0.25,
    max_planes: int = 63,
) -> tuple[int, int] | None:
    """Derive a banded-LSH config (r bits/band, bands) for a cosine
    threshold, or None when banding cannot help.

    Hyperplane LSH collision prob per bit is p = 1 - θ/π. A config
    works iff (a) pairs AT the threshold survive ≥1 band with
    probability ≥ recall_target, and (b) orthogonal background pairs
    (p = 1/2, the bulk of a random corpus) collide with probability
    ≤ bg_keep_limit — otherwise the "candidates" are the cross
    product and exact scoring is strictly faster (the round-2 bench
    defect: at threshold 0.4 every ≤63-plane config keeps >59% of
    background, measured 13.4 s vs 2.7 s exact). Returns the cheapest
    (fewest planes) config that satisfies both (dedup.cheapest_banding,
    the search MinHash's planner shares); max_planes=63 keeps the
    signature in one long."""
    import math

    t = min(max(threshold, -1.0), 1.0)
    p = 1.0 - math.acos(t) / math.pi
    return cheapest_banding(p, 0.5, recall_target, bg_keep_limit, max_planes)


def embedding_near_dup_auto(
    corpus: DataFrame,
    threshold: float = 0.4,
    recall_target: float = 0.9,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Threshold-adaptive near-dup pairs: banded hyperplane LSH when a
    config exists that both recalls at-threshold pairs and prunes the
    orthogonal background (high thresholds), exact distributed scoring
    otherwise (moderate thresholds, where banding keeps ~everything and
    only adds signature+join overhead). The decision is a pure function
    of the parameters (plan_near_dup_config), never of the data — the
    chosen plan is deterministic for a given operating point."""
    cfg = plan_near_dup_config(threshold, recall_target=recall_target)
    if cfg is None:
        # exact branch rides the DISTRIBUTED blocked-GEMM plan: same
        # result set as the crossJoin HOF-dot reference (pinned in
        # tests/test_similarity.py), ~100× less per-pair overhead —
        # numpy matmul per block pair instead of an interpreted HOF dot
        # product per pair; no driver collect, any id type (round-5:
        # the round-4 version collected the whole corpus matrix to the
        # driver and hard-coded bigint ids)
        return embedding_near_dup_gemm(
            corpus, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    r, b = cfg
    return embedding_near_dup_lsh_pairs(
        corpus,
        threshold=threshold,
        n_planes=r * b,
        bands=b,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )


def embedding_near_dup_gemm(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via DISTRIBUTED blocked GEMM
    — the fast exact plan (the near-dup twin of ``gemm_topk``).

    The corpus is hashed into ~n/``block_rows`` blocks, each folded to
    one row holding its (id, vector) records; a driver-side metadata
    table of the B(B+1)/2 block pairs equi-joins the block table twice,
    and each task scores one block pair with a single float64 matmul,
    emitting only the id_a < id_b survivors at ≥ threshold. Nothing is
    ever collected to the driver (round-4 shipped a full-corpus
    ``collect()`` + broadcast here — the first thing to fall over at a
    1-10M-doc corpus); shuffle is O(n·d·B) bytes against the O(n²·d)
    compute any exact all-pairs plan already commits to, so the
    network is never the binding term. Ids keep their input type (the
    output schema is parameterized, not hard-coded bigint). Cosines
    are emitted raw and rounded JVM-side so the output is bit-aligned
    with the DuckDB oracle exactly like ``ann_gemm``. The scale path
    for huge n remains ``embedding_near_dup_lsh_pairs`` — exact n² is
    intrinsically bounded, this just removes its interpreter tax
    (~100× per pair vs the HOF plan)."""
    import math

    import numpy as np
    import pandas as pd

    sess = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"
    n = corpus.count()
    if n == 0:
        return sess.createDataFrame([], out_schema)
    par = sess.sparkContext.defaultParallelism
    # enough blocks that (a) a block matrix stays small (block_rows·d
    # doubles) and (b) the pair fan-out B(B+1)/2 covers the cores
    nblocks = max(math.ceil(n / block_rows), math.ceil(math.sqrt(2 * par)))

    # Block payloads are FLAT columns (ids + one concatenated float64
    # array), not an array of (id, vector) structs: Python-side unpack
    # becomes one np.asarray + reshape instead of thousands of
    # per-record struct accesses (round 7 — same change as the blocked
    # jaccard plan in dedup.py; the two transforms decompose ONE
    # collect_list so id/vector order is consistent by construction).
    blocks = (
        spread(corpus)
        .select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks)).cast("int").alias("blk"),
            F.struct(
                F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
            ).alias("rec"),
        )
        .groupBy("blk")
        .agg(F.collect_list("rec").alias("recs"))
        .select(
            "blk",
            F.transform("recs", lambda r: r["id"]).alias("ids"),
            F.flatten(F.transform("recs", lambda r: r["v"])).alias("flat"),
        )
    )
    # block-pair metadata (ints only — never data) built driver-side;
    # each unordered row pair lands in exactly one (blk_a <= blk_b) task
    pair_meta = sess.createDataFrame(
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "blk_a int, blk_b int",
    )
    # Fan the TINY pair-meta out to the task count FIRST, then attach
    # the block payloads by broadcast (guide §8 — decide with small
    # rows, move big rows once): letting the planner shuffle-join here
    # ships every block once PER PAIR through the exchange — measured
    # at 500k×64 vectors the planner flips from broadcast to SMJ
    # (blocks ~260 MB > the auto threshold) and the B≈123-block
    # fan-out shuffles ~30 GB where the broadcast moves 260 MB once
    # (147.6 s → ~60 s for the same threshold-0.995 run, round 7).
    # The gate uses the ACTUAL n·dim·8 payload bytes (dim from one
    # first() row); past ~512 MB the plain join is the degraded mode —
    # and an exact all-pairs cosine at that n is n²-infeasible anyway
    # (the LSH path is the scale plan). The repartition also prevents
    # AQE coalescing the expanding GEMM onto 1-2 tasks (same respread
    # rule as the band joins in dedup.py).
    a_side = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
        F.col("flat").alias("flat_a"),
    )
    b_side = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
        F.col("flat").alias("flat_b"),
    )
    first = corpus.select(vec_col).first()
    dim = len(first[0]) if first and first[0] is not None else 0
    if n * max(dim, 1) * 8 <= 512 * 1024 * 1024:
        a_side, b_side = F.broadcast(a_side), F.broadcast(b_side)
    ntasks = min(nblocks * (nblocks + 1) // 2, 4 * par)
    tasks = pair_meta.repartition(ntasks).join(a_side, "blk_a").join(b_side, "blk_b")

    def _unpack(ids_cell, flat_cell):
        ids = np.asarray(ids_cell)
        mat = np.asarray(flat_cell, dtype=np.float64).reshape(len(ids), -1)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return ids, mat

    def score(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a, ma = _unpack(row.ids_a, row.flat_a)
                if row.blk_a == row.blk_b:
                    sims = ma @ ma.T
                    # margin covers the JVM-side round(…,4): a raw cos
                    # down to θ-5e-5 can still round up to ≥ θ
                    ii, jj = np.nonzero(
                        (sims >= threshold - 1e-4)
                        & (ids_a[:, None] < ids_a[None, :])
                    )
                    lo, hi, cs = ids_a[ii], ids_a[jj], sims[ii, jj]
                else:
                    ids_b, mb = _unpack(row.ids_b, row.flat_b)
                    sims = ma @ mb.T
                    ii, jj = np.nonzero(sims >= threshold - 1e-4)
                    ia, ib, cs = ids_a[ii], ids_b[jj], sims[ii, jj]
                    flip = ib < ia
                    lo = np.where(flip, ib, ia)
                    hi = np.where(flip, ia, ib)
                if len(lo):
                    yield pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cs})

    partial = tasks.mapInPandas(score, out_schema)
    return partial.select(
        "id_a", "id_b", F.round("cos", 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 16,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embeddings, then WITHIN each cluster drop every
    vector that has an earlier-id neighbor at cosine ≥ threshold. One
    representative (the min-id one) survives per tight semantic group;
    cross-cluster comparisons — the quadratic cost SemDeDup exists to
    avoid — are never generated. The drop rule is a deterministic
    greedy-by-id variant of the paper's in-cluster dedup (the paper
    picks the survivor by centroid distance or at random; id order
    keeps the retained set reproducible and SQL-expressible, with the
    same retained-mass behavior).

    Returns one row per corpus vector: (id, cell, kept).

    Spark plan: deterministic spherical k-means (``kmeans_centroids`` —
    the same centroid machinery the ann_ivf DuckDB oracle re-derives as
    unrolled CTE rounds), the pinned GEMM argmax cell assignment
    (``assign_cells_gemm``, as in ``ivf_topk``), then ONE
    exchange grouping each cell's vectors into an Arrow batch where a
    single float64 matmul scores all of the cell's pairs and a
    column-wise any() marks the dropped ids (applyInPandas; no pair
    table is ever materialized). 100 TB notes: compute is O(Σ n_c²), so
    ``n_centroids`` must scale ~n/target_cell_size (SemDeDup uses 110k
    clusters for LAION-scale corpora); a skewed giant cell concentrates
    its n_c² matmul in one task — raise n_centroids or pre-split hot
    cells with the block-pair trick of ``embedding_near_dup_gemm``
    before shipping a cluster-scale run."""
    import numpy as np
    import pandas as pd

    sess = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, cell int, kept boolean"
    cents = kmeans_centroids(
        corpus, n_centroids=n_centroids, n_iters=kmeans_iters,
        id_col=id_col, vec_col=vec_col,
    )
    if not cents:
        return sess.createDataFrame([], out_schema)
    assigned = assign_cells_gemm(
        spread(corpus).select(
            F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
        ),
        cents, 1, "v",
    ).select("id", "v", F.col("cells")[0].alias("cell"))

    def cell_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        mat /= nrm
        sims = mat @ mat.T
        # dropped[j] ⇔ ∃ i<j with cos(i,j) ≥ θ; ids are sorted, so
        # "earlier id" is exactly the strict upper triangle; the cosine
        # is pinned before the compare, like the oracle's ROUND(.., 9).
        hot = _pin9(sims) >= threshold
        hot[np.tril_indices(len(pdf))] = False
        dropped = hot.any(axis=0)
        return pd.DataFrame(
            {"id": pdf["id"].to_numpy(), "cell": pdf["cell"].to_numpy(),
             "kept": ~dropped}
        )

    return assigned.groupBy("cell").applyInPandas(cell_dedup, out_schema)

# ---- product quantization (PQ) ANN ----------------------------------------
#
# Cross-engine determinism contract (the ann_pq DuckDB oracle): all
# vector arithmetic goes through the same sequential-fold primitives
# the ann_ivf/ann_lsh oracles already proved bit-equal across engines
# (Spark aggregate/zip_with fold ≡ DuckDB list_dot_product ≡ Python
# left-assoc sum), per-iteration k-means means are pinned to a 1e-9
# grid on both sides (ROUND(AVG, 9)), and ADC scores are sums of
# bit-identical LUT entries in a fixed left-associative order — so
# even the rank-boundary cut of the re-rank candidate set is
# deterministic. An earlier draft unrolled every distance into literal
# chains for whole-stage codegen; the generated method was so large
# that janino compilation alone cost ~12 s per stage — the interpreted
# fold projection (the ann_ivf pattern) is ~25× faster end-to-end at
# bench scale and the per-row cost only matters if PQ encoding is run
# un-sampled over the full corpus (see pq_topk notes). A third cost
# hid on the DRIVER: building those folds Column-by-Column spent ~3
# py4j round trips per literal × m·ksub·dsub literals ≈ 15-19 s of
# plan BUILD per pq_topk call before any job ran — now rendered as
# SQL strings (one F.expr parse; see the _sql_dot block up top).


def _unit_vec(vec: Column) -> Column:
    """x / sqrt(Σx²) with the oracle's fold order."""
    vd = _to_double(vec)
    return F.transform(vd, lambda x: x / F.sqrt(dot(vd, vd)))


def _pq_np_setup(codebooks: list[list[list[float]]]):
    """(m, dsub, centroid matrices, sequential-fold ‖c‖² rows) — the
    shared numpy view of a PQ codebook set."""
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    c2s = []
    for cb in codebooks:
        row = []
        for cvec in cb:
            c2 = 0.0
            for c in cvec:
                c2 = c2 + float(c) * float(c)
            row.append(c2)
        c2s.append(np.array(row, dtype=np.float64))
    return m, dsub, cs, c2s


def _pq_codes_np(mat, cs, c2s, dsub: int):
    """Per-subspace argmin codes for a float64 batch matrix of UNIT
    vectors: key = −2⟨u_s,c⟩ + ‖c‖² pinned to the 1e-9 half-away grid,
    ties → smaller index (np.argmin first-hit)."""
    import numpy as np

    out = []
    for s in range(len(cs)):
        key = -2.0 * (mat[:, s * dsub:(s + 1) * dsub] @ cs[s].T) + c2s[s]
        out.append(np.argmin(_pin9(key), axis=1))
    return out


def _np_unit(mat):
    """Unit-normalize a float64 batch matrix (zero rows unchanged).
    Differs from the JVM ``_unit_vec`` fold by ~1e-16 per component —
    only ever feeds comparisons pinned to the 1e-9 grid or means
    rounded to 9 dp, never an unpinned cross-engine value."""
    import numpy as np

    nrm = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    nrm[nrm == 0.0] = 1.0
    return mat / nrm


def pq_train_partials(
    df: DataFrame, codebooks: list[list[list[float]]], vec_col: str
) -> DataFrame:
    """One Lloyd-iteration pass for PQ training, with the map-side
    combine done INSIDE the Arrow batch: encode the batch (GEMM), then
    np.add.at-accumulate per-(subspace, cell) component sums and
    counts, emitting ≤ m·ksub·dsub tiny partial rows per batch instead
    of n·d exploded rows. The iteration's exchange carries O(batches ×
    m·ksub·dsub) partials regardless of corpus size — the explode form
    it replaces shipped 32M rows per iteration at 500k×64 and made
    codebook training the dominant term of ann_pq (measured 50 s → a
    few s). Mean = ROUND(SUM/COUNT, 9) downstream, so numpy partial-sum
    order is washed by the same grid the oracle uses."""
    import numpy as np
    import pandas as pd

    m, dsub, cs, c2s = _pq_np_setup(codebooks)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _np_unit(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            codes = _pq_codes_np(mat, cs, c2s, dsub)
            ks = len(c2s[0])
            recs: dict[str, list] = {"s": [], "cell": [], "pos": [], "sx": [], "cnt": []}
            for s in range(m):
                sums = np.zeros((ks, dsub), dtype=np.float64)
                np.add.at(sums, codes[s], mat[:, s * dsub:(s + 1) * dsub])
                cnts = np.bincount(codes[s], minlength=ks)
                for j in np.nonzero(cnts)[0]:
                    for p in range(dsub):
                        recs["s"].append(s)
                        recs["cell"].append(int(j))
                        recs["pos"].append(p)
                        recs["sx"].append(float(sums[j, p]))
                        recs["cnt"].append(int(cnts[j]))
            yield pd.DataFrame(recs)

    return df.mapInPandas(
        gen, "s int, cell int, pos int, sx double, cnt long"
    )


def assign_pq_codes_gemm(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    u_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Append ``code_0..code_{m-1}`` int columns — PQ encoding as m
    little BLAS matmuls per Arrow batch instead of m·ksub interpreted
    fold dots per row (``assign_cells_gemm``'s trick applied to the
    OTHER O(n·k·d) cost in the vector tier: encoding the corpus is
    n·m·ksub·dsub multiplies however it's computed, and the fold form
    made it the dominant term of ann_pq at 500k vectors).

    Distance key and tie rule match the JVM-fold twin in
    tests/test_similarity.py exactly:
    −2⟨u_s,c⟩ + ‖c‖² with ‖c‖² accumulated SEQUENTIALLY in Python
    (bit-identical to both engines' fold), the key pinned by ``_pin9``
    before the argmin (the oracle mirrors with ROUND(.., 9)), ties → smaller code index (np.argmin's first-hit
    rule). ``normalize=True`` unit-normalizes inside the batch
    (``_np_unit``), letting callers pass the raw embedding and skip
    the interpreted JVM ``_unit_vec`` pass AND the 2× Arrow width of a
    float64 u column — safe because the 1e-16 normalization delta
    feeds only the pinned keys."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    m, dsub, cs, c2s = _pq_np_setup(codebooks)
    schema = StructType(
        list(df.schema.fields)
        + [StructField(f"code_{s}", IntegerType()) for s in range(m)]
    )

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                for s in range(m):
                    pdf[f"code_{s}"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            mat = np.array(pdf[u_col].tolist(), dtype=np.float64)
            if normalize:
                mat = _np_unit(mat)
            for s, codes in enumerate(_pq_codes_np(mat, cs, c2s, dsub)):
                pdf[f"code_{s}"] = codes.astype("int32")
            yield pdf

    return df.mapInPandas(gen, schema)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic per-subspace L2 k-means codebooks (classic PQ
    training, Jégou et al. 2011): the unit-normalized d-dim vector is
    split into ``m`` contiguous ``d/m``-dim subvectors; each subspace
    trains its own ``ksub`` centroids with Lloyd iterations seeded by
    the first ``ksub`` vectors by id (no RNG). ALL subspaces train in
    the same jobs: one exchange per iteration carries the
    (subspace, cell, pos) partial means — ksub·d components reach the
    driver per iteration, independent of corpus size. Empty cells keep
    their previous centroid. 100 TB note: like FAISS, train on a
    bounded id-ordered sample (pass ``corpus.orderBy(id).limit(n)``) —
    codebook quality saturates long before corpus size does."""
    first = corpus.select(vec_col).first()
    dim = len(first[0]) if first else 0
    if dim == 0 or dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # materialized once: each training iteration's partials pass scans
    # this frame (see kmeans_centroids — same rule, round 7)
    base = spread(corpus).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("rv")
    ).localCheckpoint(eager=True)
    # seeds via the JVM _unit_vec fold — bit-identical to the oracle's
    # eu CTE, and an empty cell's centroid survives iterations RAW
    # (unrounded), so the seed source must stay fold-exact cross-engine.
    # The fold runs AFTER the orderBy+limit (ksub rows), not before:
    # projecting first paid the interpreted HOF over the whole corpus
    # just to keep 16 rows (measured 15.4 s executor time at sf1.0).
    seeds = _first_by_unique_id(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("rv"))
        .orderBy("id")
        .select("id", _unit_vec(F.col("rv")).alias("u")),
        ksub,
    )
    if len(seeds) < ksub:
        raise ValueError(f"corpus smaller than ksub={ksub}")
    cents = [
        [[float(x) for x in r["u"][s * dsub:(s + 1) * dsub]] for r in seeds]
        for s in range(m)
    ]
    for _ in range(n_iters):
        comps = (
            pq_train_partials(base.select("rv"), cents, "rv")
            .groupBy("s", "cell", "pos")
            .agg(F.round(F.sum("sx") / F.sum("cnt"), 9).alias("mc"))
            .collect()
        )
        by_sc: dict[tuple[int, int], dict[int, float]] = {}
        for r in comps:
            by_sc.setdefault((r["s"], r["cell"]), {})[r["pos"]] = r["mc"]
        cents = [
            [
                [by_sc[(s, j)][p] for p in range(dsub)]
                if (s, j) in by_sc
                else old
                for j, old in enumerate(cents[s])
            ]
            for s in range(m)
        ]
    return cents


def _lut(cb: list[list[list[float]]]) -> Column:
    """Per-query ADC lookup table over the unit query column ``qu``:
    the flat array lut[s*ksub + j] = ⟨q_s, c_{s,j}⟩, one SQL expression
    (see _sql_dot)."""
    dsub = len(cb[0][0])
    return F.expr("array(" + ", ".join(
        _sql_dot(f"slice(`qu`, {s * dsub + 1}, {dsub})", cvec)
        for s, cents_s in enumerate(cb)
        for cvec in cents_s
    ) + ")")


def _adc_rerank(
    pairs: DataFrame,
    corpus: DataFrame,
    cb: list[list[list[float]]],
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC scan + exact re-rank, shared by ``pq_topk`` and
    ``ivfpq_topk``: ``pairs`` holds the (query, doc) rows that meet
    (query_id, neighbor_id, qv_raw, lut, code_0..code_{m-1}); each ADC
    score is m LUT lookups summed left to right, the top ``rerank`` per
    query by (score DESC, neighbor_id ASC) join back their raw vectors,
    and ``_topk_by_cos`` ranks them by exact cosine."""
    ksub = len(cb[0])
    score = None
    for s in range(len(cb)):
        term = F.element_at(
            F.col("lut"), F.lit(s * ksub) + F.col(f"code_{s}") + 1
        )
        score = term if score is None else score + term
    aw = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    cand = (
        pairs.select("query_id", "neighbor_id", "qv_raw", score.alias("score"))
        .withColumn("arank", F.row_number().over(aw))
        .filter(F.col("arank") <= rerank)
    )
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv_raw")
    )
    scored = cand.join(nvec, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv_raw"), F.col("cv_raw")).alias("cos"),
    )
    return _topk_by_cos(scored, k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k: asymmetric distance computation (ADC) over
    m-byte codes, then exact re-rank of the ADC top-``rerank``
    candidates — the FAISS IVFADC refinement layout. Each corpus
    vector is compressed to ``m`` centroid codes (m bytes — 32× under
    the float32 vector at the defaults, the memory trade PQ exists
    for); each query precomputes its m·ksub inner-product lookup table
    ONCE, every (query, doc) ADC score is m table lookups summed in a
    fixed order (codegen'd element_at chain — no HOF in the n×q scan),
    and only q·rerank candidate rows ever touch a real vector again.

    100 TB notes: a deployment materializes the code columns once and
    scans only them per query batch (column pruning does the 32×); the
    re-rank join touches q·rerank rows — independent of corpus size;
    for sub-linear candidate generation compose with the IVF cell
    restriction (``ivf_topk``). Approximation quality is surfaced by
    the registered ``ann_pq_recall`` twin rather than hidden (ADC
    alone ranks near-ties poorly — recall@5 ≈ 0.3 on the testdata
    clusters; the exact re-rank stage lifts it to ~0.9 while scanning
    10% of the corpus as real vectors)."""
    cb = pq_codebooks(
        corpus, m=m, ksub=ksub, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    # the ADC scan reads ONLY the code columns — the raw vector never
    # rides through the n×q join (that would undo the 32× compression);
    # re-rank joins it back for just q·rerank candidate rows
    codes = assign_pq_codes_gemm(
        spread(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("rv")
        ),
        cb, "rv", normalize=True,
    ).drop("rv")
    qlut = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv_raw"),
        _unit_vec(F.col(vec_col)).alias("qu"),
    ).select("query_id", "qv_raw", _lut(cb).alias("lut"))
    pairs = codes.join(F.broadcast(qlut), F.col("neighbor_id") != F.col("query_id"))
    return _adc_rerank(pairs, corpus, cb, k, rerank, id_col, vec_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    n_assign: int = 2,
    kmeans_iters: int = 3,
    m: int = 8,
    ksub: int = 16,
    pq_iters: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ composed ANN — the FAISS IVFADC layout actually deployed
    at 10^9+ vectors (Jégou et al. 2011 §V): IVF cells give SUB-LINEAR
    candidate generation (each query scans ~n_probe·n_assign/
    n_centroids of the corpus), PQ codes make that scan read m bytes
    per row instead of the raw vector (32× at the defaults), and an
    exact re-rank of the ADC top-``rerank`` restores quality. Deviation
    from FAISS noted: codes encode the unit vector itself, not the
    cell residual — identical to the registered ``ann_pq`` encoding so
    one code column serves both layouts (residual PQ would need one
    codebook set per probe arrangement to stay oracle-checkable).

    Plan shape: corpus vectors are encoded ONCE (codes + cell list,
    both deterministic), queries broadcast with their precomputed LUT,
    the ADC scan joins codes⋈queries on cell (never a cross join), and
    only q·rerank candidate rows ever touch a real vector again. All
    arithmetic rides the same sequential-fold/1e-9-grid primitives the
    ann_ivf/ann_pq oracles proved bit-equal across engines, so the
    composition carries a full DuckDB oracle too."""
    cents = kmeans_centroids(
        corpus, n_centroids=n_centroids, n_iters=kmeans_iters,
        id_col=id_col, vec_col=vec_col,
    )
    cb = pq_codebooks(
        corpus, m=m, ksub=ksub, n_iters=pq_iters, id_col=id_col, vec_col=vec_col
    )
    cu = assign_cells_gemm(
        spread(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("rv")
        ),
        cents, n_assign, "rv",
    )
    # encode first, THEN explode the cell list — the m code columns
    # must be computed once per vector, not once per (vector, cell)
    codes = assign_pq_codes_gemm(cu, cb, "rv", normalize=True).select(
        "neighbor_id",
        F.explode("cells").alias("cell"),
        *[f"code_{s}" for s in range(m)],
    )
    qlut = assign_cells_gemm(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv_raw"),
            _unit_vec(F.col(vec_col)).alias("qu"),
        ),
        cents, n_probe, "qv_raw",
    ).withColumnRenamed("cells", "qcells").select(
        "query_id", "qv_raw", _lut(cb).alias("lut"), F.explode("qcells").alias("cell")
    )
    # a pair can meet through several shared cells under
    # multi-assignment — its code/LUT values are identical on every
    # meeting, so dedup before scoring is value-deterministic
    pairs = (
        codes.join(F.broadcast(qlut), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _adc_rerank(pairs, corpus, cb, k, rerank, id_col, vec_col)


def embedding_outliers(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Embedding-space outlier detection: the ``k`` vectors FARTHEST
    from their group centroid, per group — the prune-by-centroid-
    distance step of semantic curation (the complement of SemDeDup's
    keep-nearest: far-from-centroid points are the mislabeled/garbage
    candidates a curation pass reviews).

    Centroids are per-component means rounded to 9 dp (the kmeans
    cross-engine trick: the grid is far coarser than FP summation-
    order noise, so an independent engine lands on identical
    centroids); each vector scores cosine-to-centroid with the JVM
    fold, ranks within its group (cos asc, id asc — the ann-family
    tie rule), and the bottom ``k`` flag as outliers. The centroid
    table is O(#groups × dim) and broadcast; at corpus scale the
    scoring pass is the mapInPandas GEMM shape (gemm_topk) — this
    exact form is its oracle.

    Returns (vec_id, label, cos, outlier_rank, is_outlier)."""
    base = spread(emb)
    comps = (
        base.select(
            F.col(group_col).alias("g"),
            F.posexplode(_to_double(F.col(vec_col))).alias("pos", "x"),
        )
        .groupBy("g", "pos")
        .agg(F.round(F.avg("x"), 9).alias("m"))
    )
    cent = comps.groupBy("g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    scored = base.join(
        F.broadcast(cent), base[group_col] == cent["g"]
    ).select(
        F.col(id_col),
        F.col(group_col),
        cosine(F.col(vec_col), F.col("c")).alias("cos_raw"),
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy(group_col).orderBy(F.asc("cos_raw"), F.asc(id_col))
    return (
        scored.withColumn("outlier_rank", F.row_number().over(w))
        .select(
            id_col,
            group_col,
            F.round("cos_raw", 4).alias("cos"),
            "outlier_rank",
            (F.col("outlier_rank") <= k).alias("is_outlier"),
        )
    )
