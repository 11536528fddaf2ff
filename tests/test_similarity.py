"""Similarity search: brute-force exactness, LSH recall, near-dup pairs."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from fundamental_spark.operators.dedup import spread
from fundamental_spark.operators.similarity import (
    _dlit,
    _sql_dot,
    _sql_to_double,
    brute_force_topk,
    cosine,
    embedding_near_dup_gemm,
    embedding_near_dup_lsh_pairs,
    lsh_topk,
)


def embedding_near_dup_pairs(corpus, threshold=0.4, id_col="vec_id", vec_col="embedding"):
    """Reference exact near-dup: every pair with cosine ≥ threshold via
    a crossJoin and the JVM HOF cosine — O(n²) by construction, the
    plan the blocked GEMM (embedding_near_dup_gemm) must reproduce
    bit-for-bit, and the shape of the DuckDB oracle twin."""
    a = spread(corpus).select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine(F.col("va"), F.col("vb"))
    return pairs.select(
        "id_a", "id_b", F.round(cos, 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


# ---- interpreted JVM-fold twins of the GEMM assignment paths ---------------
#
# Test references for assign_cells_gemm and assign_pq_codes_gemm: the
# same selection rules as the library's BLAS forms, written as one SQL
# fold expression per row (see similarity._sql_dot).


def _nearest_cells_col(cents_normed, vec_name, n):
    """Array of the n nearest centroid indices, computed JVM-side.
    Centroids are unit-normalized, so cosine argmax reduces to a dot
    product (the per-vector norm divides every score equally); ties
    take the larger cell index."""
    vd = _sql_to_double(f"`{vec_name}`")
    scored = "array(" + ", ".join(
        f"named_struct('s', {_sql_dot(vd, cvec)}, 'c', {i})"
        for i, cvec in enumerate(cents_normed)
    ) + ")"
    return F.expr(
        f"transform(slice(reverse(array_sort({scored})), 1, {n}), t -> t.c)"
    )


def _pq_dist_key_sql(u_sql, s, dsub, cvec):
    """Monotone L2 key for subspace ``s``: ‖u_s − c‖² minus the
    centroid-independent ‖u_s‖² term — i.e. −2⟨u_s,c⟩ + ‖c‖², with
    ‖c‖² computed by the same sequential fold on both engines."""
    sub = f"slice({u_sql}, {s * dsub + 1}, {dsub})"
    c2 = 0.0
    for c in cvec:
        c2 = c2 + float(c) * float(c)
    return f"CAST(-2.0 AS DOUBLE) * ({_sql_dot(sub, cvec)}) + {_dlit(c2)}"


def _pq_argmin_code(u_name, s, dsub, cents_s):
    """Nearest-centroid code for subspace ``s``: ascending struct-array
    sort on (distance key, index) — ties take the smaller index,
    mirrored by the oracle's ORDER BY key ASC, c ASC."""
    u_sql = f"`{u_name}`"
    scored = "array(" + ", ".join(
        f"named_struct('d', {_pq_dist_key_sql(u_sql, s, dsub, cvec)}, 'c', {j})"
        for j, cvec in enumerate(cents_s)
    ) + ")"
    return F.expr(f"array_sort({scored})[0].c")


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(120):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # planted twin: vec 200 nearly equals vec 0
    base = rows[0][1]
    rows.append((200, [x + rng.gauss(0, 0.01) for x in base]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"), dim


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    vals = [r["c"] for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(vals[0] - 1.0) < 1e-9
    assert abs(vals[1]) < 1e-9
    assert abs(vals[2] - 1 / math.sqrt(2)) < 1e-9


def test_brute_force_finds_planted_twin(vectors):
    emb, _ = vectors
    res = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in res.collect())
    assert rows[0] == (1, 200)  # the planted twin is rank 1
    assert res.count() == 3


def test_lsh_recall_vs_brute_force(vectors):
    emb, dim = vectors
    queries = emb.filter(F.col("vec_id") < 8)
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          brute_force_topk(emb, queries, k=1).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              lsh_topk(emb, queries, k=1, n_planes=6, dim=dim).collect()}
    # multi-probe LSH recall@1 on gaussian data: expect most top-1s found
    recall = len(bf & approx) / len(bf)
    assert recall >= 0.5, (recall, bf, approx)


def test_ivf_finds_planted_twin_and_prunes(vectors, spark):
    from fundamental_spark.operators.similarity import ivf_topk

    emb, _ = vectors
    # the planted twin shares its base vector's cell, so probing the
    # query's own nearest cells must find it at rank 1
    res = ivf_topk(emb, emb.filter(F.col("vec_id") == 0), k=3,
                   n_centroids=8, n_probe=2)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in res.collect())
    assert rows[0] == (1, 200)
    # recall@1 over several queries stays useful despite the pruning
    queries = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          brute_force_topk(emb, queries, k=1).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in
           ivf_topk(emb, queries, k=1, n_centroids=8, n_probe=4).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, recall


def test_near_dup_pairs_threshold(vectors):
    emb, _ = vectors
    pairs = embedding_near_dup_gemm(emb, threshold=0.95)
    rows = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 200) in rows
    assert all(a < b for a, b in rows)
    ref = embedding_near_dup_pairs(emb, threshold=0.95)
    assert rows == {(r["id_a"], r["id_b"]) for r in ref.collect()}


def test_gemm_topk_equals_jvm_brute_force(vectors):
    from fundamental_spark.operators.similarity import gemm_topk

    emb, _ = vectors
    queries = emb.filter(F.col("vec_id") < 8)
    bf = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in brute_force_topk(emb, queries, k=4).collect()
    )
    gm = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in gemm_topk(emb, queries, k=4).collect()
    )
    assert gm == bf


def test_near_dup_lsh_recall_vs_exact(spark):
    """The banded-LSH near-dup must reproduce the exact all-pairs result
    on a high-threshold fixture (the regime real near-dup dedup runs in),
    AND generate far fewer candidates than n²/2 — the pruning claim."""
    rng = random.Random(7)
    dim = 32
    rows = []
    for i in range(150):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # plant 10 high-cosine twins (cos ≈ 0.99)
    for j in range(10):
        base = rows[j][1]
        rows.append((1000 + j, [x + rng.gauss(0, 0.05) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert len(exact) >= 10
    approx = embedding_near_dup_lsh_pairs(
        emb, threshold=0.9, n_planes=64, bands=8, dim=dim
    )
    got = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, (recall, exact - got)
    # pruning evidence: candidate pairs (pre-verify) << all pairs
    n = emb.count()
    cand_cnt = (
        embedding_near_dup_lsh_pairs(emb, threshold=-1.0, n_planes=64, bands=8, dim=dim)
        .count()
    )
    assert cand_cnt < (n * (n - 1) / 2) * 0.25, cand_cnt


def test_plan_near_dup_config_decision_rule():
    """The dispatcher's config search: no workable banding at moderate
    thresholds (exact wins), cheap high-recall configs at high ones."""
    from fundamental_spark.operators.similarity import plan_near_dup_config

    # threshold 0.4: every <=63-plane config either misses at-threshold
    # pairs or keeps most of the orthogonal background -> None (exact)
    assert plan_near_dup_config(0.4) is None
    assert plan_near_dup_config(0.0) is None
    # high thresholds: a config exists and satisfies both constraints
    for t in (0.9, 0.95, 0.99):
        cfg = plan_near_dup_config(t)
        assert cfg is not None
        r, b = cfg
        assert 1 <= r <= 16 and r * b <= 63
        p = 1 - math.acos(t) / math.pi
        assert 1 - (1 - p**r) ** b >= 0.9          # recall at threshold
        assert 1 - (1 - 0.5**r) ** b <= 0.25       # background pruning


def test_near_dup_auto_dispatch(spark, vectors):
    """Auto dispatch: blocked-GEMM exact plan (MapInPandas, no band
    join — round 4) at threshold 0.4, banded LSH plan (band-key
    equi-join) at threshold 0.95 — and at 0.4 its rows equal the
    pure-JVM exact operator's exactly."""
    from fundamental_spark.operators.similarity import embedding_near_dup_auto

    emb, dim = vectors
    lo = embedding_near_dup_auto(emb, threshold=0.4)
    lo_plan = lo._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in lo_plan and "band_idx" not in lo_plan
    exact_rows = sorted(map(tuple, embedding_near_dup_pairs(emb, threshold=0.4).collect()))
    assert sorted(map(tuple, lo.collect())) == exact_rows

    hi = embedding_near_dup_auto(emb, threshold=0.95, dim=dim)
    hi_plan = hi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in hi_plan and "NestedLoop" not in hi_plan
    assert "band_idx" in hi_plan  # the banded collision join
    # the planted twin (0 ~ 200, cos ~ 1.0) survives the LSH branch
    assert any(r["id_a"] == 0 and r["id_b"] == 200 for r in hi.collect())


def test_kmeans_centroids_deterministic_and_converges(spark):
    """Deterministic spherical k-means: planted 3-cluster data yields
    one centroid per planted direction; repeated runs are identical."""
    from fundamental_spark.operators.similarity import (
        cosine,
        kmeans_centroids,
    )

    rng = random.Random(5)
    dirs = [[1.0] + [0.0] * 7, [0.0] * 4 + [1.0] + [0.0] * 3, [0.0] * 7 + [1.0]]
    rows = []
    for i in range(120):
        base = dirs[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.08) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    c1 = kmeans_centroids(emb, n_centroids=3, n_iters=4)
    c2 = kmeans_centroids(emb, n_centroids=3, n_iters=4)
    assert c1 == c2  # no RNG anywhere
    for c in c1:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9  # unit-normalized
    # every planted direction is recovered by some centroid (cos > 0.95)
    for d in dirs:
        best = max(
            sum(x * y for x, y in zip(c, d)) / (sum(y * y for y in d) ** 0.5)
            for c in c1
        )
        assert best > 0.95, (d, best)


def test_seed_selection_rejects_repeated_ids(spark):
    """k-means and PQ seed from the first k vectors by id. An id
    repeated at the cut (here the 3rd and 4th smallest) makes the seed
    order depend on partitioning, so both trainers must refuse it."""
    from fundamental_spark.operators.similarity import kmeans_centroids, pq_codebooks

    rng = random.Random(17)
    ids = [0, 1, 2, 2] + list(range(3, 40))
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in ids],
        "vec_id bigint, embedding array<float>",
    ).repartition(4)
    with pytest.raises(ValueError, match="unique ids"):
        kmeans_centroids(emb, n_centroids=3, n_iters=1)
    with pytest.raises(ValueError, match="unique ids"):
        pq_codebooks(emb, m=2, ksub=3, n_iters=1)
    # a repeat past the first k+1 ids cannot reorder the seeds
    late = emb.filter(F.col("vec_id") != 2).unionByName(emb.filter(F.col("vec_id") == 30))
    assert len(kmeans_centroids(late, n_centroids=3, n_iters=1)) == 3
    assert len(pq_codebooks(late, m=2, ksub=3, n_iters=1)) == 2


def test_embedding_near_dup_gemm_equals_jvm_exact(spark):
    """The blocked-GEMM exact near-dup (round 4) must reproduce the
    pure-JVM exact plan bit-for-bit at the registered operating point
    (raw cosines rounded JVM-side, same tie semantics) — it is the plan
    embedding_near_dup_auto dispatches to at moderate thresholds."""
    from fundamental_spark.operators.similarity import embedding_near_dup_auto

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    jvm = sorted(tuple(r) for r in embedding_near_dup_pairs(emb, 0.4).collect())
    gemm = sorted(tuple(r) for r in embedding_near_dup_gemm(emb, 0.4).collect())
    auto = sorted(tuple(r) for r in embedding_near_dup_auto(emb, 0.4).collect())
    assert jvm == gemm == auto
    assert jvm  # non-trivial fixture


def test_gemm_blocked_multi_block_and_string_ids(spark):
    """Round-5: the GEMM exact plan is distributed (no driver collect)
    — force MANY small blocks and verify bit-parity with the JVM exact
    plan, and that non-integral ids keep their type (the round-4
    version hard-coded bigint and collected the corpus)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    jvm = sorted(tuple(r) for r in embedding_near_dup_pairs(emb, 0.4).collect())
    many = sorted(
        tuple(r) for r in embedding_near_dup_gemm(emb, 0.4, block_rows=16).collect()
    )
    assert jvm == many and jvm

    s = emb.select(
        F.concat(F.lit("doc-"), F.format_string("%05d", F.col("vec_id"))).alias("vec_id"),
        "embedding",
    )
    got = embedding_near_dup_gemm(s, 0.4, block_rows=16)
    assert dict(got.dtypes)["id_a"] == "string"
    got_pairs = sorted((r["id_a"], r["id_b"], r["cos"]) for r in got.collect())
    want = sorted(
        (f"doc-{a:05d}", f"doc-{b:05d}", c) if f"doc-{a:05d}" < f"doc-{b:05d}"
        else (f"doc-{b:05d}", f"doc-{a:05d}", c)
        for a, b, c in jvm
    )
    assert got_pairs == want


def test_semdedup_greedy_rule_vs_numpy_reference(vectors, spark):
    """SemDeDup: the distributed per-cell matmul must reproduce the
    greedy earlier-id drop rule computed independently (numpy over the
    same deterministic cells), and every dropped id must have an
    earlier-id same-cell witness at >= threshold."""
    import numpy as np

    from fundamental_spark.operators.similarity import kmeans_centroids, semdedup

    emb, _ = vectors
    thr = 0.9
    got = {r["id"]: (r["cell"], r["kept"]) for r in
           semdedup(emb, threshold=thr, n_centroids=4).collect()}
    assert len(got) == emb.count()
    # the planted twin (200 ~ 0) shares a cell and must be dropped,
    # its earlier-id original kept
    assert got[200][0] == got[0][0]
    assert got[0][1] and not got[200][1]

    # independent reference: same centroids (public function), argmax
    # assignment JVM-side, then a pure-numpy greedy pass
    cents = kmeans_centroids(emb, n_centroids=4)
    assigned = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        _nearest_cells_col(cents, "embedding", 1)[0].alias("cell"),
    ).collect()
    by_cell: dict[int, list] = {}
    for r in sorted(assigned, key=lambda r: r["id"]):
        by_cell.setdefault(r["cell"], []).append(r)
    want = {}
    for cell, rs in by_cell.items():
        mat = np.array([r["embedding"] for r in rs], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        for j, r in enumerate(rs):
            dropped = any(sims[i, j] >= thr for i in range(j))
            want[r["id"]] = (cell, not dropped)
    assert got == want


def test_pq_topk_planted_twin_and_determinism(vectors, spark):
    """PQ+re-rank must surface the planted near-identical twin at rank
    1 (it survives any reasonable ADC cut and wins the exact re-rank),
    and training must be run-to-run deterministic (no RNG anywhere)."""
    from fundamental_spark.operators.similarity import pq_codebooks, pq_topk

    emb, _ = vectors  # dim=16
    res = pq_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=3,
        m=4, ksub=8, rerank=20,
    )
    rows = sorted((r["rank"], r["neighbor_id"]) for r in res.collect())
    assert rows[0] == (1, 200)  # the planted twin wins the exact re-rank
    assert len(rows) == 3

    cb1 = pq_codebooks(emb, m=4, ksub=8)
    cb2 = pq_codebooks(emb, m=4, ksub=8)
    assert cb1 == cb2
    assert len(cb1) == 4 and all(len(s) == 8 for s in cb1)
    assert all(len(c) == 4 for s in cb1 for c in s)


def test_pq_rerank_bounds_exact_work(vectors, spark):
    """The re-rank stage must only ever touch rerank candidates per
    query: with rerank >= corpus the result equals brute force exactly
    (the ADC cut keeps everything), pinning the two-stage semantics."""
    from fundamental_spark.operators.similarity import pq_topk

    emb, _ = vectors
    q = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    bf = sorted(
        tuple(r)
        for r in brute_force_topk(emb, q, k=5).collect()
    )
    pq_full = sorted(
        tuple(r)
        for r in pq_topk(emb, q, k=5, m=4, ksub=8, rerank=n).collect()
    )
    assert pq_full == bf


def test_embedding_outliers_planted(spark):
    """A vector pointing away from its group's direction ranks as the
    group's #1 outlier; tight members don't flag at small k."""
    import random as _r

    from fundamental_spark.operators.similarity import embedding_outliers

    rng = _r.Random(41)
    rows = []
    for i in range(20):  # label 0: clustered around +e1 with noise
        v = [1.0] + [rng.uniform(-0.1, 0.1) for _ in range(63)]
        rows.append((i, v, 0))
    rows.append((99, [-1.0] + [0.0] * 63, 0))      # planted anti-vector
    for i in range(100, 110):  # label 1: around +e2
        v = [0.0, 1.0] + [rng.uniform(-0.1, 0.1) for _ in range(62)]
        rows.append((i, v, 1))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = embedding_outliers(emb, k=1)
    top = {r["label"]: r["vec_id"] for r in out.collect() if r["is_outlier"]}
    assert top[0] == 99
    ranks = {r["vec_id"]: r["outlier_rank"] for r in out.collect()}
    assert ranks[99] == 1
    assert out.filter(F.col("is_outlier")).count() == 2  # one per label


def test_ivfpq_topk_planted_twin_and_determinism(vectors, spark):
    """Composed IVF+PQ (FAISS IVFADC shape): the planted near-identical
    twin must survive BOTH approximations (cell pruning and code
    compression — near-identical vectors share cells and codes) and win
    the exact re-rank at rank 1; the whole pipeline is RNG-free so two
    runs must be identical."""
    from fundamental_spark.operators.similarity import ivfpq_topk

    emb, _ = vectors  # dim=16
    kwargs = dict(k=3, n_centroids=4, n_probe=2, n_assign=2,
                  m=4, ksub=8, rerank=20)
    res = ivfpq_topk(emb, emb.filter(F.col("vec_id") == 0), **kwargs)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in res.collect())
    assert rows[0] == (1, 200)  # the twin survives cells + codes + re-rank
    assert len(rows) == 3
    again = sorted(
        (r["rank"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb.repartition(7), emb.filter(F.col("vec_id") == 0), **kwargs
        ).collect()
    )
    assert again == rows


def test_gemm_assignment_agrees_with_jvm_fold_twins(spark):
    """The BLAS scale paths must agree with their interpreted JVM-fold
    twins on real data: assign_cells_gemm vs _nearest_cells_col (cell
    assignment) and assign_pq_codes_gemm vs _pq_argmin_code (PQ
    encoding). The folds compare RAW dots, the GEMM forms compare
    1e-9-pinned dots — agreement everywhere the corpus has no sub-1e-9
    argmax tie, which this sweep asserts on sf0.01's 500 vectors."""
    from fundamental_spark.operators.similarity import (
        _unit_vec,
        assign_cells_gemm,
        assign_pq_codes_gemm,
        kmeans_centroids,
        pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = kmeans_centroids(emb, n_centroids=8, n_iters=2)
    fold = {
        r["vec_id"]: r["cells"]
        for r in emb.select(
            "vec_id", _nearest_cells_col(cents, "embedding", 2).alias("cells")
        ).collect()
    }
    gemm = {
        r["vec_id"]: r["cells"]
        for r in assign_cells_gemm(
            emb.select("vec_id", "embedding"), cents, 2, "embedding"
        ).collect()
    }
    assert fold == gemm

    cb = pq_codebooks(emb, m=4, ksub=8, n_iters=1)
    dsub = len(cb[0][0])
    base = emb.select("vec_id", _unit_vec(F.col("embedding")).alias("u"))
    fold_codes = {
        r["vec_id"]: tuple(r[f"c{s}"] for s in range(4))
        for r in base.select(
            "vec_id",
            *[_pq_argmin_code("u", s, dsub, cb[s]).alias(f"c{s}") for s in range(4)],
        ).collect()
    }
    gemm_codes = {
        r["vec_id"]: tuple(r[f"code_{s}"] for s in range(4))
        for r in assign_pq_codes_gemm(base, cb, "u").collect()
    }
    assert fold_codes == gemm_codes



def test_pin9_matches_duckdb_round_half_away():
    """``_pin9`` is the cross-engine contract behind every pinned GEMM
    compare: it must equal the oracles' DuckDB ``ROUND(x, 9)`` on grid
    boundaries, where numpy's half-to-even ``np.round`` disagrees."""
    import duckdb
    import numpy as np

    from fundamental_spark.operators.similarity import _pin9

    vals = [2.5e-9, -2.5e-9, 5e-10, 0.1234567885, 3.0000000005]
    con = duckdb.connect()
    want = [con.execute("SELECT ROUND(?::DOUBLE, 9)", [v]).fetchone()[0] for v in vals]
    assert _pin9(np.array(vals)).tolist() == want
    assert _pin9(np.array([vals, vals])).tolist() == [want, want]  # batch shape
    assert all(np.round(v, 9) != w for v, w in zip(vals, want))
