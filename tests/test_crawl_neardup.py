"""Per-wave near-dup dedup wired into the crawl loop: the stored band
index (neardup_bands) grows with each wave's delta, each wave's probe
is O(delta), and the cumulative pair set equals the full-corpus
MinHash-LSH restriction — the dedup_minhash_incremental production
shape (round-5 verdict #7)."""

from __future__ import annotations

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from fundamental_spark.crawl.runner import CrawlRunner
from fundamental_spark.synth.site import build_site, web_rows


def test_probe_band_index_incremental_equals_full(spark):
    """Pure operator pin: ingest a corpus in 3 slices, maintaining the
    band index across ingests; the union of per-ingest probe outputs
    must equal minhash_lsh_pairs over the full corpus at the same
    explicit config."""
    from fundamental_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
        minhash_probe_band_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the registered (64,16)@0.1 operating point: recall is identical
    # on both sides of the comparison (same bands), so the EQUALITY is
    # exact even though the config under-recalls vs exhaustive jaccard
    thr, k, bands = 0.1, 64, 16
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, threshold=thr, k=k, bands=bands, allow_low_recall=True
        ).collect()
    }
    assert full, "fixture must contain near-dup pairs"
    slices = [
        docs.filter(F.abs(F.hash("doc_id")) % 3 == i) for i in range(3)
    ]
    index = spark.createDataFrame([], "doc string, band_idx int, band_hash string")
    got = set()
    for sl in slices:
        pairs, sl_bands = minhash_probe_band_index(
            sl, index, docs, threshold=thr, k=k, bands=bands,
            allow_low_recall=True,
        )
        got |= {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs.collect()}
        # the probe hands back the slice's band rows for the append
        assert sorted(sl_bands.collect()) == sorted(
            minhash_band_table(sl, k=k, bands=bands).collect()
        )
        index = index.unionByName(sl_bands).localCheckpoint(eager=True)
    assert got == full


def test_crawl_wave_neardup_hook(spark, tmp_path):
    """Integration: a crawl with neardup_dedup=True maintains the band
    index per wave and its cumulative neardup_pairs equals the
    full-corpus LSH pair set over the final documents table."""
    from fundamental_spark.operators.dedup import (
        minhash_lsh_pairs,
        plan_minhash_config,
    )

    # clone_every=6: every 6th listing per city is a field-clone of its
    # predecessor (own url, identical rendered text) — deterministic
    # jaccard≈1 near-dup pairs, so the equality pin below can never be
    # vacuous and the 0.6 threshold gets a principled
    # plan_minhash_config banding on both sides of the comparison.
    site = build_site(seed=7, cities=("delft", "leiden"),
                      listings_per_city=24, page_size=8, clone_every=6)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    thr = 0.6
    runner = CrawlRunner(
        spark=spark,
        warehouse_root=str(tmp_path / "wh"),
        web=web,
        neardup_dedup=True,
        neardup_threshold=thr,
    )
    runner.init([(site.search_url(c, 1), c) for c in site.cities])
    waves = runner.run()
    assert waves > 1  # the index must actually span waves
    texts = CrawlRunner._doc_text(runner.table("documents")).select(
        "doc_id", "text"
    )
    n_docs = texts.count()
    assert n_docs > 0
    cfg = plan_minhash_config(thr)
    k, bands = cfg if cfg is not None else (64, 16)
    # the stored index covers every doc exactly once
    idx = runner.table("neardup_bands")
    assert idx.count() == n_docs * bands
    assert idx.select("doc").distinct().count() == n_docs
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in runner.table("neardup_pairs").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            texts, threshold=thr, k=k, bands=bands, allow_low_recall=True
        ).collect()
    }
    assert want, "equality pin must not be vacuous"
    assert got == want


def test_crawl_neardup_with_compaction(spark, tmp_path):
    """The hook's re-read-every-wave tables (documents, neardup_bands)
    joined the per-wave compaction list in round 6 — a crawl with
    compact_every=2 must still satisfy the full-corpus pair equality
    and lose no band/document rows to the rewrite."""
    from fundamental_spark.operators.dedup import (
        minhash_lsh_pairs,
        plan_minhash_config,
    )

    site = build_site(seed=11, cities=("gouda",), listings_per_city=18,
                      page_size=6, clone_every=5)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    thr = 0.6
    runner = CrawlRunner(
        spark=spark,
        warehouse_root=str(tmp_path / "wh"),
        web=web,
        neardup_dedup=True,
        neardup_threshold=thr,
        compact_every=2,
    )
    runner.init([(site.search_url(c, 1), c) for c in site.cities])
    waves = runner.run()
    assert waves > 1
    texts = CrawlRunner._doc_text(runner.table("documents")).select(
        "doc_id", "text"
    )
    n_docs = texts.count()
    cfg = plan_minhash_config(thr)
    k, bands = cfg if cfg is not None else (64, 16)
    idx = runner.table("neardup_bands")
    assert idx.count() == n_docs * bands
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in runner.table("neardup_pairs").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            texts, threshold=thr, k=k, bands=bands, allow_low_recall=True
        ).collect()
    }
    assert want and got == want


def test_runner_refuses_a_threshold_banding_cannot_serve(spark, tmp_path):
    """At jaccard 0.1 no banded config reaches recall 0.9 within the
    signature budget; the runner raises at construction, naming the
    threshold, instead of running a fixed (64, 16) that captures
    ~0.0016 of at-threshold pairs. Nothing is written."""
    site = build_site(seed=7, cities=("delft",), listings_per_city=4, page_size=4)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    root = tmp_path / "wh"
    with pytest.raises(ValueError, match="neardup_threshold=0.1"):
        CrawlRunner(spark=spark, warehouse_root=str(root), web=web,
                    neardup_dedup=True, neardup_threshold=0.1)
    assert not root.exists()
    # the hook off, the threshold is not consulted
    CrawlRunner(spark=spark, warehouse_root=str(root), web=web,
                neardup_threshold=0.1)


def test_neardup_wave_job_count(spark, tmp_path):
    """A non-terminal crawl wave with the near-dup hook on: wave 2
    fetches search page 2 and the detail pages of page 1, so its delta
    probes a band index that wave 1 already filled."""
    site = build_site(seed=7, cities=("delft",), listings_per_city=12,
                      page_size=8, clone_every=6)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    runner = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "wh"),
                         web=web, neardup_dedup=True, neardup_threshold=0.6)
    runner.init([(site.search_url(c, 1), c) for c in site.cities])
    assert runner.step()
    with spark_jobs(spark) as jobs:
        assert runner.step()
    assert len(jobs) == 50
