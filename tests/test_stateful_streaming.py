"""Streaming near-dup drain (``streaming/jobs.py::drain_neardup``): the
union of its per-micro-batch pairs equals the one-shot full-corpus
MinHash-LSH pair set, its micro-batch job count is pinned, and it
refuses a low-recall config before the query starts."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streamed_neardup_matches_full_corpus_lsh(spark, tmp_path):
    """Streaming near-dup (foreachBatch band-index probe, T12 twin):
    draining the documents table in 3 micro-batches must produce, as
    the union of per-batch pair outputs, EXACTLY the one-shot
    full-corpus minhash_lsh_pairs set at the same (64,16)@0.1 config —
    pairs spanning batches are caught by the batch that completes
    them, same-batch pairs by canonicalize+distinct."""
    import time as _time

    from fundamental_spark.operators.dedup import minhash_lsh_pairs
    from fundamental_spark.streaming.jobs import drain_neardup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs.select("doc_id", "text"),
            threshold=0.1, k=64, bands=16, allow_low_recall=True,
        ).collect()
    }
    assert want, "fixture must contain near-dup pairs"
    src = str(tmp_path / "docs_src")
    n = docs.count()
    bounds = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, 10 ** 9)]
    for lo, hi in bounds:
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)  # file source orders by mtime
    state = str(tmp_path / "state")
    drain_neardup(spark, src, str(tmp_path / "ckpt"), state,
                  threshold=0.1, k=64, bands=16, allow_low_recall=True)
    got_rows = spark.read.parquet(f"{state}/pairs/batch=*").collect()
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got_rows}
    assert got == want
    # every pair is emitted by exactly one micro-batch
    assert len(got_rows) == len(got)
    # the persisted band index covers every doc exactly once per band
    idx = spark.read.parquet(f"{state}/bands/batch=*")
    assert idx.count() == n * 16


def test_neardup_micro_batch_job_count(spark, tmp_path):
    """The Spark jobs of one drain_neardup micro-batch (one source
    file, first batch). Streaming jobs run under the query's run id as
    their job group, which a listener reads at query start."""
    from pyspark.sql.streaming import StreamingQueryListener

    from fundamental_spark.streaming.jobs import drain_neardup

    run_ids = []

    class _RunIds(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") < 30).coalesce(1).write.parquet(src)
    listener = _RunIds()
    spark.streams.addListener(listener)
    try:
        drain_neardup(spark, src, str(tmp_path / "ckpt"), str(tmp_path / "state"),
                      threshold=0.1, k=64, bands=16, allow_low_recall=True)
    finally:
        spark.streams.removeListener(listener)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(run_ids) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(run_ids[0])) == 26


def test_drain_neardup_refuses_its_low_recall_default(spark, tmp_path):
    """Called with no config, the drain would run (64, 16) at jaccard
    0.1, which captures 0.0016 of the pairs at the threshold: it raises
    before the query starts, so no checkpoint or state is written."""
    import os

    import pytest

    from fundamental_spark.streaming.jobs import drain_neardup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") < 30).coalesce(1).write.parquet(src)
    ckpt, state = str(tmp_path / "ckpt"), str(tmp_path / "state")
    with pytest.raises(ValueError, match="allow_low_recall"):
        drain_neardup(spark, src, ckpt, state)
    assert not os.path.exists(ckpt)
    assert not os.path.exists(state)
