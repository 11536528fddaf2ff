"""Storage-layer scale contracts (round-2 verdict items #1-2).

1. Bucketed MERGE: the properties snapshot is hash-partitioned on the
   merge key; a batch rewrites ONLY the buckets containing batch keys.
   With bucket SIZE held fixed (the Iceberg bounded-data-file model —
   bucket count scales with the table, file size does not), per-batch
   ingest cost is FLAT as the table grows 10x.
2. Delta compaction: read_deltas opens O(deltas-since-compaction) dirs,
   not every snapshot dir ever written; the version/rollback contract
   (exact resume) survives compaction.
"""

from __future__ import annotations

import os

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from fundamental_spark.tableformat import Warehouse

DDL = "url string, price bigint, status string"


def _schema(spark):
    return spark.createDataFrame([], DDL).schema


def _rows(spark, n, price_off=0, status="active", start=0):
    return spark.range(start, start + n).select(
        F.concat(F.lit("https://x/u"), F.col("id")).alias("url"),
        (F.col("id") + price_off).alias("price"),
        F.lit(status).alias("status"),
    )


def _snapshot_rows(spark, wh, name, version):
    """Rows physically written by snapshot `version` (the write cost)."""
    base = wh._snapshot_dir(name, version)
    leaf = [
        os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith("bkt=")
    ]
    if not leaf:
        return 0
    return spark.read.option("basePath", base).parquet(*leaf).count()


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_bucketed("props", key="url", n_buckets=20)
    wh.merge_upsert("props", _rows(spark, 2000), key="url", schema=_schema(spark))
    assert wh.read("props").count() == 2000

    # 5-row update batch: touches <= 5 of 20 buckets -> writes <= ~5/20
    # of the table (+ batch), never the full snapshot
    batch = _rows(spark, 5, price_off=1_000_000)
    v = wh.merge_upsert("props", batch, key="url", schema=_schema(spark))
    written = _snapshot_rows(spark, wh, "props", v)
    assert written <= 2000 * (5 / 20) * 1.6 + 5   # vs 2000 for a full rewrite
    # merged values are correct: 5 updated, rest untouched
    out = wh.read("props")
    assert out.count() == 2000
    assert out.filter(F.col("price") >= 1_000_000).count() == 5


def test_merge_cost_flat_as_table_grows_10x_at_fixed_bucket_size(spark, tmp_path):
    """The Iceberg model: data-file (bucket) size is bounded, file count
    grows with the table — so MERGE cost is O(batch x bucket_size),
    INDEPENDENT of table size. 2k rows/20 buckets and 20k rows/200
    buckets have the same 100-row buckets; the same 5-key batch must
    cost the same, not 10x."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    costs = {}
    for name, n_rows, n_buckets in (("small", 2_000, 20), ("big", 20_000, 200)):
        wh.ensure_bucketed(name, key="url", n_buckets=n_buckets)
        wh.merge_upsert(name, _rows(spark, n_rows), key="url", schema=_schema(spark))
        v = wh.merge_upsert(
            name, _rows(spark, 5, price_off=9_999_999), key="url", schema=_schema(spark)
        )
        costs[name] = _snapshot_rows(spark, wh, name, v)
    # flat: 10x the table, same per-batch write cost (within skew slack)
    assert costs["big"] <= costs["small"] * 2.5
    assert costs["big"] < 20_000 / 10  # and nowhere near a full rewrite


def test_bucketed_matches_flat_merge_semantics(spark, tmp_path):
    """Bucketed and flat merge are the same MERGE — including the
    when_matched_update expression path (republish transition shape)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = _schema(spark)
    base = _rows(spark, 50, status="inactive")
    batch = _rows(spark, 30, price_off=100, status="active", start=25)  # 25 overlap

    when_matched = {
        "status": F.when(
            (F.col("t.status") == "inactive") & (F.col("b.status") == "active"),
            F.lit("republished"),
        ).otherwise(F.col("b.status")),
    }
    wh.merge_upsert("flat", base, key="url", schema=schema)
    wh.merge_upsert("flat", batch, key="url", schema=schema,
                    when_matched_update=when_matched)
    wh.ensure_bucketed("bkt", key="url", n_buckets=8)
    wh.merge_upsert("bkt", base, key="url", schema=schema)
    wh.merge_upsert("bkt", batch, key="url", schema=schema,
                    when_matched_update=when_matched)

    flat = sorted(map(tuple, wh.read("flat").collect()))
    bkt = sorted(map(tuple, wh.read("bkt").collect()))
    assert flat == bkt
    assert len(bkt) == 55
    assert sum(1 for r in bkt if r[2] == "republished") == 25


def test_ensure_bucketed_migrates_existing_flat_snapshot(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("t", _rows(spark, 100))
    wh.ensure_bucketed("t", key="url", n_buckets=8)
    assert wh.read("t").count() == 100
    # and merges after migration are bucket-pruned
    v = wh.merge_upsert("t", _rows(spark, 2, price_off=10_000), key="url",
                        schema=_schema(spark))
    assert _snapshot_rows(spark, wh, "t", v) <= 100 * (2 / 8) * 2 + 2
    assert wh.read("t").filter(F.col("price") >= 10_000).count() == 2
    # overwrite on a bucketed table stays bucketed + readable
    wh.overwrite("t", _rows(spark, 10))
    assert wh.read("t").count() == 10


def test_vacuum_removes_dead_snapshots_keeps_live_buckets(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_bucketed("t", key="url", n_buckets=4)
    wh.merge_upsert("t", _rows(spark, 200), key="url", schema=_schema(spark))
    for i in range(5):  # several single-bucket-ish merges
        wh.merge_upsert("t", _rows(spark, 1, start=i, price_off=50), key="url",
                        schema=_schema(spark))
    before = wh.read("t").collect()
    removed = wh.vacuum("t")
    assert removed >= 1  # at least one fully-superseded snapshot dir gone
    after = wh.read("t").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_compaction_folds_history_and_keeps_read_contract(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in range(10):
        wh.append_delta("log", _rows(spark, 10, start=i * 10))
    full_before = sorted(r["url"] for r in wh.read_deltas("log").collect())

    new_floor = wh.compact_deltas("log", upto=7)
    assert new_floor == 7
    # folded dirs are gone; the base + live deltas reproduce the log
    assert not os.path.exists(wh._snapshot_dir("log", 3))
    assert os.path.exists(wh._compact_dir("log", 7))
    assert sorted(r["url"] for r in wh.read_deltas("log").collect()) == full_before
    # pinned reads at/above the floor still work; below it is expired
    assert wh.read_deltas("log", version=8).count() == 80
    with pytest.raises(ValueError):
        wh.read_deltas("log", version=6)
    with pytest.raises(ValueError):
        wh.rollback("log", 6)
    # rollback to a post-floor version still works (resume contract)
    wh.rollback("log", 8)
    assert wh.read_deltas("log").count() == 80
    # append + re-compact keeps going (floor advances)
    wh.append_delta("log", _rows(spark, 5, start=500))
    assert wh.compact_deltas("log") == 9
    assert wh.read_deltas("log").count() == 85
    assert not os.path.exists(wh._compact_dir("log", 7))


def test_crawl_with_compaction_equals_without_and_resumes(spark, tmp_path):
    """Runner-level: aggressive compaction (every 2 waves) must not
    change any output table, and exact resume (T5) must survive a
    checkpoint that predates later compactions."""
    from fundamental_spark.crawl.runner import CrawlRunner
    from fundamental_spark.synth.site import build_site, web_rows

    site = build_site(seed=83, cities=("delft",), listings_per_city=60, page_size=10)
    web = spark.createDataFrame(web_rows(site), "url string, html string")

    def mk(root, **kw):
        return CrawlRunner(spark=spark, warehouse_root=str(root), web=web,
                           wave_seconds=12.0, **kw)

    def state(r):
        return (
            sorted(x["url"] for x in r.table("url_seen").collect()),
            sorted((x["url"], x["wave_fetched"]) for x in r.table("crawl_log").collect()),
            r.table("documents").count(),
        )

    plain = mk(tmp_path / "plain")
    plain.init([(site.search_url(c, 1), c) for c in site.cities])
    plain.run()

    compacting = mk(tmp_path / "compact", compact_every=2)
    compacting.init([(site.search_url(c, 1), c) for c in site.cities])
    compacting.step()
    compacting.step()
    compacting.step()  # at least one compaction has fired by now
    assert compacting.wh.compaction_floor("url_seen") > 0
    del compacting

    resumed = mk(tmp_path / "compact", compact_every=2)
    resumed.run()
    assert state(plain) == state(resumed)
    # the url_seen dir listing stayed bounded by compact_every
    v = resumed._versions["url_seen"]
    assert v - resumed.wh.compaction_floor("url_seen") <= 2 * 2


def test_read_matching_prunes_to_touched_buckets(spark, tmp_path):
    """read_matching on a bucketed table must read only the buckets
    containing the requested keys — same rows as a full-scan semi-join,
    far fewer input files."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_bucketed("t", key="url", n_buckets=20)
    wh.merge_upsert("t", _rows(spark, 2000), key="url", schema=_schema(spark))
    keys = _rows(spark, 3).select("url")
    got = sorted(map(tuple, wh.read_matching("t", keys, key="url").collect()))
    want = sorted(
        map(tuple, wh.read("t").join(keys, "url", "left_semi").collect())
    )
    assert got == want and len(got) == 3
    # pruning: the matching read's scan covers <= 3 of 20 bucket dirs
    plan = wh.read_matching("t", keys, key="url")._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    # count bucket dirs mentioned in the scan's location list
    assert plan.count("bkt=") <= 3 or "3 paths" in plan
    # flat tables fall back to full-scan semi-join (same answer)
    wh.overwrite("flat", _rows(spark, 100))
    got2 = wh.read_matching("flat", keys, key="url").count()
    assert got2 == 3


def test_merge_upsert_completes_interrupted_bucketing_migration(spark, tmp_path):
    """Crash window (round-3 advice #2): _meta.json visible but the
    process died before _commit_bucketed wrote the manifest — the
    current snapshot is flat. merge_upsert must complete the migration
    instead of crashing in _read_manifest, and subsequent merges must
    be bucket-pruned again."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("props", _rows(spark, 300))          # flat table
    # simulate the crash: meta written, migration never ran
    import json as _json

    with open(wh._meta_path("props"), "w") as f:
        _json.dump({"key": "url", "n_buckets": 8}, f)
    assert not os.path.exists(
        wh._manifest_path("props", wh.current_version("props"))
    )
    batch = _rows(spark, 5, price_off=1_000_000)
    v = wh.merge_upsert("props", batch, key="url", schema=_schema(spark))
    assert os.path.exists(wh._manifest_path("props", v))
    got = wh.read("props")
    assert got.count() == 300
    assert got.filter(F.col("price") >= 1_000_000).count() == 5
    # next merge is pruned: writes a strict subset of buckets
    v2 = wh.merge_upsert(
        "props", _rows(spark, 3, price_off=2_000_000), key="url",
        schema=_schema(spark),
    )
    assert _snapshot_rows(spark, wh, "props", v2) < 300


def test_append_delta_files_commit_protocol(spark, tmp_path):
    """Iceberg-style task-file commit (round 4): only files reported by
    the job survive — orphans of failed/duplicate task attempts are
    removed before the pointer flips."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def job(out_dir):
        t = pa.table({"url": ["a", "b"], "price": [1, 2]})
        pq.write_table(t, os.path.join(out_dir, "part-good.parquet"))
        # a duplicate/failed attempt's leftover, NOT reported
        pq.write_table(t, os.path.join(out_dir, "part-orphan.parquet"))
        # a task killed MID-WRITE leaves its temp file (round-4 advice:
        # a stray non-underscore file breaks every subsequent read)
        pq.write_table(t, os.path.join(out_dir, "part-killed.parquet.inprogress"))
        return ["part-good.parquet"]

    v = wh.append_delta_files("log", job)
    snap = wh._snapshot_dir("log", v)
    assert sorted(os.listdir(snap)) == ["part-good.parquet"]
    assert wh.read_deltas("log").count() == 2  # the orphan did not double data


def test_auto_vacuum_keeps_disk_usage_flat_over_long_merge_run(spark, tmp_path):
    """Round-5 (r3 verdict #9): vacuum is WIRED into the bucketed
    commit cadence — a long MERGE run's snapshot-dir count stays
    bounded by live-buckets + cadence window instead of growing one
    dir per merge, reads stay correct throughout, and rollback below
    the vacuum floor fails loudly."""
    import pytest as _pytest

    wh = Warehouse(spark, str(tmp_path / "wh"), auto_vacuum_every=8)
    wh.ensure_bucketed("t", key="url", n_buckets=4)
    wh.merge_upsert("t", _rows(spark, 100), key="url", schema=_schema(spark))
    for i in range(24):  # 3 full vacuum cycles of single-row merges
        wh.merge_upsert("t", _rows(spark, 1, start=i % 5, price_off=i), key="url",
                        schema=_schema(spark))
    tdir = tmp_path / "wh" / "t"
    n_dirs = sum(1 for d in os.listdir(tdir) if d.startswith("v") and
                 os.path.isdir(tdir / d))
    # 25 commits happened; without GC there would be 25 dirs. Live set
    # is <= 4 buckets' versions + commits since the last vacuum (< 8).
    assert n_dirs <= 12, n_dirs
    assert wh.vacuum_floor("t") >= 16
    rows = wh.read("t").collect()
    assert len(rows) == 100
    with _pytest.raises(ValueError):
        wh.rollback("t", wh.vacuum_floor("t") - 1)


def test_recorded_schema_reads_submit_no_job(spark, tmp_path):
    """The first commit records the table schema beside ``_current``;
    read/read_deltas hand it to the parquet reader instead of running a
    footer-inference job, and return the schema inference would give."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append_delta("t", _rows(spark, 3))
    wh.append_delta_rows("t", [{"url": "u", "price": 9, "status": "s"}], _schema(spark))
    assert sorted(os.listdir(tmp_path / "wh" / "t")) == [
        "_current", "_schema.json", "v000001", "v000002",
    ]
    with spark_jobs(spark) as jobs:
        deltas = wh.read_deltas("t")
        snap = wh.read("t", version=1)
    assert jobs == []
    inferred = spark.read.parquet(wh._snapshot_dir("t", 1), wh._snapshot_dir("t", 2))
    assert deltas.schema == snap.schema == inferred.schema
    assert sorted(r["price"] for r in deltas.collect()) == [0, 1, 2, 9]


@pytest.mark.parametrize("how", ["append_delta", "overwrite", "append_delta_rows"])
def test_schema_mismatch_raises_and_writes_nothing(spark, tmp_path, how):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("t", _rows(spark, 3))
    bad = _rows(spark, 2).withColumn("price", F.col("price").cast("string"))
    with pytest.raises(ValueError, match="differs from the recorded"):
        if how == "append_delta_rows":
            wh.append_delta_rows("t", [], bad.schema)
        else:
            getattr(wh, how)("t", bad)
    assert wh.current_version("t") == 1
    assert not os.path.exists(wh._snapshot_dir("t", 2))
    with pytest.raises(ValueError):  # a renamed column is a mismatch too
        wh.append_delta("t", _rows(spark, 2).withColumnRenamed("status", "state"))
    # nullability is not part of the check (reads relax it anyway)
    from pyspark.sql.types import StructField, StructType

    strict = StructType([StructField(f.name, f.dataType, False) for f in _schema(spark)])
    wh.append_delta_rows("t", [], strict)
    assert wh.current_version("t") == 2


def test_bucketed_merge_refuses_schema_drift(spark, tmp_path):
    """Bucketed tables record their schema like flat ones, so a merge
    that would widen a column's type raises before anything is
    written."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_bucketed("t", key="url", n_buckets=4)
    wh.merge_upsert("t", _rows(spark, 10), key="url", schema=_schema(spark))
    drift = _rows(spark, 2).withColumn("price", F.col("price").cast("double"))
    with pytest.raises(ValueError, match="differs from the recorded"):
        wh.merge_upsert("t", drift, key="url", schema=drift.schema)
    assert wh.current_version("t") == 1
    assert not os.path.exists(wh._snapshot_dir("t", 2))
    assert dict(wh.read("t").dtypes)["price"] == "bigint"
    # with every bucket empty the record still gives the columns
    wh.overwrite("t", _rows(spark, 0))
    assert wh.read("t").dtypes == _rows(spark, 0).dtypes
    assert wh.read("t").count() == 0


def test_metadata_written_before_json_encoding_still_reads(spark, tmp_path):
    """Pointers and floors were bare integers and manifests carried a
    ``schema`` field; such files still read, commit and roll back, and
    the pointer the writer leaves is still the bare integer."""
    import json

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append_delta("log", _rows(spark, 2))
    wh.append_delta("log", _rows(spark, 3, start=2))
    wh.compact_deltas("log", upto=1)
    wh.ensure_bucketed("b", key="url", n_buckets=4)
    wh.merge_upsert("b", _rows(spark, 8), key="url", schema=_schema(spark))
    tdir = tmp_path / "wh"
    (tdir / "log" / "_current").write_text("2\n")
    (tdir / "log" / "_compaction").write_text("1")
    (tdir / "b" / "_current").write_text("1")
    (tdir / "b" / "_vacuum_floor").write_text("1")
    manifest = tdir / "b" / "v000001" / "_manifest.json"
    doc = json.loads(manifest.read_text())
    manifest.write_text(json.dumps({**doc, "schema": _schema(spark).json()}))

    assert (wh.current_version("log"), wh.compaction_floor("log")) == (2, 1)
    assert wh.read_deltas("log").count() == 5
    assert wh.append_delta("log", _rows(spark, 1, start=5)) == 3
    wh.rollback("log", 2)
    assert wh.read_deltas("log").count() == 5
    assert wh.vacuum_floor("b") == 1
    assert wh.read("b").count() == 8
    assert wh.merge_upsert("b", _rows(spark, 2, start=8), key="url",
                           schema=_schema(spark)) == 2
    assert wh.read("b").count() == 10
    wh.rollback("b", 1)
    assert wh.read("b").count() == 8
    assert (tdir / "log" / "_current").read_bytes() == b"2"
    assert (tdir / "b" / "_current").read_bytes() == b"1"


def test_table_without_schema_record_reads_by_inference(spark, tmp_path):
    """Warehouses written before the record existed, and tables only
    ever written by append_delta_files, keep footer inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append_delta("old", _rows(spark, 3))
    os.remove(wh._schema_path("old"))
    wh.append_delta("old", _rows(spark, 2))
    assert wh._recorded_schema("old") is None
    assert wh.read_deltas("old").count() == 5

    def job(out_dir):
        pq.write_table(pa.table({"url": ["a"]}), os.path.join(out_dir, "part-a.parquet"))
        return ["part-a.parquet"]

    wh.append_delta_files("files", job)
    assert wh._recorded_schema("files") is None
    assert wh.read_deltas("files").collect()[0]["url"] == "a"


@pytest.mark.parametrize("scheme", ["file://", "hdfs://namenode", "s3a://bucket"])
def test_uri_root_is_rejected_before_anything_is_created(spark, tmp_path, monkeypatch, scheme):
    """Table metadata is written with Python file calls, so a URI root
    would split one table between the path Spark resolves and a
    relative directory named after the URI in the working directory."""
    monkeypatch.chdir(tmp_path)
    root = f"{scheme}{tmp_path}/wh"
    with pytest.raises(ValueError, match="URI scheme"):
        Warehouse(spark, root)
    assert os.listdir(tmp_path) == []
