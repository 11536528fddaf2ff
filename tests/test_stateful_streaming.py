"""applyInPandasWithState sessionization: the streamed closed sessions
must agree exactly with the batch twin (queries.event_sessions) — the
custom-stateful-operator contract."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from fundamental_spark.queries import event_sessions
from fundamental_spark.streaming.stateful import drain_sessions

SF = "/root/testdata/sf0.001"


def test_streamed_sessions_match_batch(spark, tmp_path):
    # split events into several files so state must carry across
    # micro-batches (one file per trigger). The parquet file source
    # orders files by MODIFICATION TIME, so write the ts-slices
    # sequentially — the operator's contract is in-order micro-batches
    # (a 24/7 deployment gets that from the upstream log).
    import time as _time

    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{SF}/events.parquet")
    sliced = ev.withColumn("_slice", F.ntile(4).over(W.orderBy("ts", "event_id")))
    src = str(tmp_path / "events_src")
    for i in range(1, 5):
        sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
    assert len(glob.glob(src + "/part-*")) >= 4

    out = str(tmp_path / "sessions")
    drain_sessions(spark, src, str(tmp_path / "ckpt"), out)

    streamed = spark.read.parquet(out)
    batch = event_sessions(spark, SF)

    # the operator emits sessions CLOSED by a later event; the final
    # open session per user has no successor to close it in a bounded
    # drain. So: streamed == batch minus each user's last session.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("session_no"))
    closed_expected = (
        batch.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .drop("_rk")
    )
    key = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    got = {tuple(r[k] for k in key) for r in streamed.collect()}
    want = {tuple(r[k] for k in key) for r in closed_expected.collect()}
    assert got == want
    assert len(got) > 0  # the gap rule actually closed sessions mid-stream


def test_streamed_dedup_matches_batch_keep_first(spark, tmp_path):
    """Streaming exact dedup (built-in stateful dropDuplicates) over an
    id-ordered multi-file drain keeps exactly the batch keep-min-id
    representative set — including dups planted ACROSS micro-batches."""
    import time as _time

    from fundamental_spark.operators.dedup import exact_dedup
    from fundamental_spark.streaming.jobs import drain_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # plant a cross-batch dup: copy doc 0's text onto a high id
    first_text = docs.orderBy("doc_id").first()["text"]
    extra = spark.createDataFrame(
        [(99990, first_text, "en", "srcX", len(first_text))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    all_docs = docs.unionByName(extra)
    src = str(tmp_path / "docs_src")
    n = docs.count()
    bounds = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, 10 ** 9)]
    for i, (lo, hi) in enumerate(bounds):
        (all_docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)  # file source orders by mtime
    out = str(tmp_path / "out")
    drain_dedup(spark, src, str(tmp_path / "ckpt"), out)
    out_rows = spark.read.parquet(out).collect()
    kept_ids = {r["doc_id"] for r in out_rows}
    kept_fps = {r["fp"] for r in out_rows}
    groups = exact_dedup(all_docs).collect()
    # exactly one survivor per distinct fingerprint, covering all of them
    assert len(out_rows) == len(groups)
    assert kept_fps == {r["fp"] for r in groups}
    # the planted CROSS-batch dup is dropped via carried state — this
    # part is deterministic regardless of within-batch first-row picks
    assert 99990 not in kept_ids


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
