"""Exact resume from checkpoint (T5) + retry ledger (T6).

The runner commits each wave by atomically writing checkpoint.json
pinning every table's snapshot version. Killing the process between
(or during) waves and reopening the runner must produce a final state
identical to an uninterrupted run — including crawl order and spans.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fundamental_spark.crawl.runner import CrawlRunner
from fundamental_spark.synth.reference_sim import simulate_crawl
from fundamental_spark.synth.site import build_site, web_rows


def _mk_runner(spark, root, site, web=None, **kw):
    web = web if web is not None else spark.createDataFrame(
        web_rows(site), "url string, html string"
    )
    kw.setdefault("spider_type", "active")
    return CrawlRunner(spark=spark, warehouse_root=str(root), web=web, **kw)


def _final_state(runner):
    log = sorted(
        (r["city"], r["discovered_on_page"], r["priority"], r["page_pos"], r["url"],
         r["wave_fetched"])
        for r in runner.table("crawl_log").collect()
    )
    seen = sorted(r["url"] for r in runner.table("url_seen").collect())
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in runner.table("documents").collect()
    }
    return log, seen, docs


def test_resume_mid_crawl_identical_to_uninterrupted(spark, tmp_path):
    site = build_site(seed=29, cities=("zwolle", "breda"), listings_per_city=30,
                      page_size=10)
    # uninterrupted reference run
    r_full = _mk_runner(spark, tmp_path / "full", site)
    r_full.init([(site.search_url(c, 1), c) for c in site.cities])
    r_full.run()

    # interrupted run: 2 waves, then "crash" (drop the runner object)
    r_part = _mk_runner(spark, tmp_path / "part", site)
    r_part.init([(site.search_url(c, 1), c) for c in site.cities])
    r_part.step()
    r_part.step()
    del r_part

    # reopen from checkpoint (fresh object, same warehouse) and finish
    r_resumed = _mk_runner(spark, tmp_path / "part", site)
    assert r_resumed.wave == 2  # state restored from checkpoint.json
    r_resumed.run()

    assert _final_state(r_resumed) == _final_state(r_full)


def test_uncommitted_snapshots_are_ignored_on_resume(spark, tmp_path):
    """A crash mid-wave leaves orphan snapshot dirs but no checkpoint —
    reopening must pin the last committed versions and converge to the
    same final state."""
    site = build_site(seed=37, cities=("almere",), listings_per_city=25, page_size=10)
    r_full = _mk_runner(spark, tmp_path / "full", site)
    r_full.init([(site.search_url(site.cities[0], 1), site.cities[0])])
    r_full.run()

    r = _mk_runner(spark, tmp_path / "crash", site)
    r.init([(site.search_url(site.cities[0], 1), site.cities[0])])
    r.step()
    # simulate a mid-wave crash: orphan snapshots committed to table dirs
    # but checkpoint.json never updated
    junk = r.spark.createDataFrame(
        [("junk://x", 0, 0, 99)],
        "url string, url_hash bigint, domain_shard int, first_seen_wave int",
    )
    r.wh.append_delta("url_seen", junk)  # bumps _current, not the checkpoint
    del r

    r2 = _mk_runner(spark, tmp_path / "crash", site)
    r2.run()
    _, seen, _ = _final_state(r2)
    assert "junk://x" not in seen  # pinned versions exclude the orphan
    assert _final_state(r2) == _final_state(r_full)


def test_retry_ledger_refetches_then_drops(spark, tmp_path):
    """T6: failed fetches re-enqueue with attempt+1 up to retry_times,
    then drop. fail_until_attempt=2 -> succeeds on 3rd try; a page that
    always fails is dropped after 5 retries."""
    site = build_site(seed=41, cities=("emmen",), listings_per_city=12, page_size=12)
    flaky_url = site.pages_by_city["emmen"][0][1][0]   # first listing
    web = spark.createDataFrame(
        [
            (u, h, 2 if u == flaky_url else 0)
            for (u, h) in web_rows(site)
        ],
        "url string, html string, fail_until_attempt int",
    )
    sim = simulate_crawl(site, "active")
    r = _mk_runner(spark, tmp_path / "flaky", site, web=web)
    r.init([(site.search_url("emmen", 1), "emmen")])
    r.run()
    # flaky url eventually fetched; full doc set matches the simulator
    docs = {d["doc_id"] for d in r.table("documents").collect()}
    assert docs == set(sim.spans_by_doc)
    frontier = {x["url"]: x for x in r.table("frontier").collect()}
    assert frontier[flaky_url]["state"] == "fetched"
    assert frontier[flaky_url]["attempt"] == 3

    # permanently failing page: dropped after retry budget exhausted
    dead_url = site.pages_by_city["emmen"][0][1][1]
    web2 = spark.createDataFrame(
        [(u, h, 99 if u == dead_url else 0) for (u, h) in web_rows(site)],
        "url string, html string, fail_until_attempt int",
    )
    r2 = _mk_runner(spark, tmp_path / "dead", site, web=web2)
    r2.init([(site.search_url("emmen", 1), "emmen")])
    r2.run()
    f2 = {x["url"]: x for x in r2.table("frontier").collect()}
    assert f2[dead_url]["state"] == "dropped"
    assert f2[dead_url]["attempt"] == r2.politeness.retry_times + 1
    docs2 = {d["doc_id"] for d in r2.table("documents").collect()}
    assert docs2 == set(sim.spans_by_doc) - {dead_url}


def test_resume_with_changed_n_shards_raises(spark, tmp_path):
    """url_seen rows carry the domain_shard they were keyed under, so a
    resume with a different n_shards would make the per-shard seen
    filter call every pre-seeded URL new and fetch it again. The
    checkpoint records n_shards and a mismatched resume must raise."""
    site = build_site(seed=43, cities=("emmen",), listings_per_city=20, page_size=10)
    seen = [u for _, page in site.pages_by_city["emmen"] for u in page]
    root = tmp_path / "shards"
    r = _mk_runner(spark, root, site, n_shards=32, prefilter_min_seen=0)
    r.init([(site.search_url("emmen", 1), "emmen")], existing_urls=seen)
    del r
    with pytest.raises(ValueError, match="n_shards=32"):
        _mk_runner(spark, root, site, n_shards=7, prefilter_min_seen=0)
    assert _mk_runner(spark, root, site, n_shards=32, prefilter_min_seen=0).wave == 0

    # a checkpoint written before n_shards was recorded loads as before
    ckpt = root / "checkpoint.json"
    state = json.loads(ckpt.read_text())
    del state["n_shards"]
    ckpt.write_text(json.dumps(state))
    assert _mk_runner(spark, root, site, n_shards=7).wave == 0


def test_resume_with_changed_spider_type_raises(spark, tmp_path):
    """spider_type picks the stop rule (no-new threshold 3 for active, 1
    for sold) the checkpointed per-city counters were kept under, so a
    resume as another spider type must raise; a checkpoint written
    before spider_type was recorded loads as before."""
    site = build_site(seed=43, cities=("emmen",), listings_per_city=20, page_size=10)
    root = tmp_path / "spider"
    r = _mk_runner(spark, root, site)
    r.init([(site.search_url("emmen", 1), "emmen")])
    del r
    with pytest.raises(ValueError, match="spider_type='active'"):
        _mk_runner(spark, root, site, spider_type="sold")
    assert _mk_runner(spark, root, site).wave == 0

    ckpt = root / "checkpoint.json"
    state = json.loads(ckpt.read_text())
    del state["spider_type"]
    ckpt.write_text(json.dumps(state))
    assert _mk_runner(spark, root, site, spider_type="sold").wave == 0
