"""Refresh-crawl mode: the reference's weekly URL-collection pass
(funda_spider.py:455-528 collect_active_urls / refresh_active_listings;
scheduler.go:214-254) — looser '/koop/' path filter, no seen filtering,
no detail fetches, next-button-only pagination — and its consumer,
mark-inactive (database.go:1252-1323)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fundamental_spark.crawl.runner import CrawlRunner
from fundamental_spark.operators.lifecycle import mark_inactive_from_refresh
from fundamental_spark.schemas import PROPERTIES_SCHEMA
from fundamental_spark.synth.reference_sim import simulate_refresh
from fundamental_spark.synth.site import build_site, web_rows
from fundamental_spark.tableformat import Warehouse


@pytest.fixture(scope="module")
def refresh_site():
    return build_site(
        seed=43,
        cities=("eindhoven", "tilburg"),
        listings_per_city=40,
        page_size=15,
        project_urls_per_city=3,
    )


def _run_refresh(spark, tmp_path, site, **kw):
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    runner = CrawlRunner(
        spark=spark,
        warehouse_root=str(tmp_path / "wh"),
        web=web,
        mode="refresh",
        **kw,
    )
    runner.init([(site.search_url(c, 1), c) for c in site.cities])
    runner.run()
    return runner


def test_refresh_equivalence_with_loose_filter(spark, tmp_path, refresh_site):
    site = refresh_site
    sim_urls, sim_pages = simulate_refresh(site)
    runner = _run_refresh(spark, tmp_path, site)
    got = {}
    for r in runner.table("refreshed_urls").collect():
        got.setdefault(r["city"], set()).add(r["url"])
    assert got == sim_urls
    # the looser '/koop/' filter picked up the non-detail project URLs
    assert any("/koop/eindhoven/project-" in u for u in got["eindhoven"])
    # ... which the regular crawl's '/detail/koop/' filter must NOT
    assert all("/detail/koop/" in u or "/project-" in u for u in got["eindhoven"])
    # no detail fetches, no documents, no seen additions in refresh mode
    assert runner.table("documents").count() == 0
    assert runner.table("url_seen").filter("first_seen_wave >= 0").count() == 0
    assert runner.table("frontier").filter("kind = 'detail'").count() == 0


def test_refresh_stops_without_next_button_no_manual_fallback(spark, tmp_path):
    # button missing after page 1: collect_active_urls has NO manual
    # ?page=N fallback (funda_spider.py:492-504), unlike parse()
    site = build_site(seed=47, cities=("venlo",), listings_per_city=60,
                      page_size=15, omit_next_button_pages=(1,))
    sim_urls, sim_pages = simulate_refresh(site)
    assert sim_pages == {"venlo": 1}
    runner = _run_refresh(spark, tmp_path, site)
    got = {r["url"] for r in runner.table("refreshed_urls").collect()}
    assert got == sim_urls["venlo"]
    assert len(got) == 15  # page 1 only


def test_refresh_feeds_mark_inactive(spark, tmp_path, refresh_site):
    site = refresh_site
    runner = _run_refresh(spark, tmp_path, site)
    refreshed = runner.table("refreshed_urls")

    # properties warehouse: all eindhoven listings active, plus two
    # stale actives the site no longer lists, plus an untouched city
    wh = Warehouse(spark, str(tmp_path / "props"))
    stale_urls = [
        "https://www.funda.nl/detail/koop/eindhoven/huis-gone-1/99000001/",
        "https://www.funda.nl/detail/koop/eindhoven/huis-gone-2/99000002/",
    ]
    live = [l.url for l in site.listings if l.city == "eindhoven"]
    rows = [(u, "eindhoven", "active") for u in live + stale_urls]
    rows.append(("https://www.funda.nl/detail/koop/elders/huis-x/77000001/", "elders", "active"))
    props = spark.createDataFrame(rows, "url string, city string, status string")
    full = spark.createDataFrame([], PROPERTIES_SCHEMA)
    for c in full.columns:
        if c not in props.columns:
            props = props.withColumn(c, F.lit(None).cast(dict(full.dtypes)[c]))
    wh.overwrite("properties", props.select(full.columns))

    n = mark_inactive_from_refresh(wh, refreshed, wave=99)
    assert n == 2
    after = {r["url"]: r["status"] for r in wh.read("properties").collect()}
    for u in stale_urls:
        assert after[u] == "inactive"
    for u in live:
        assert after[u] == "active"
    # cities the refresh never visited are untouched
    assert after["https://www.funda.nl/detail/koop/elders/huis-x/77000001/"] == "active"


def test_refresh_leaves_seen_count_at_the_url_seen_rows(spark, tmp_path):
    """Refresh mode appends nothing to url_seen, so the seen-set size
    that sizes the prefilter (and is checkpointed) must not grow with
    the URLs it collects."""
    site = build_site(seed=43, cities=("eindhoven",), listings_per_city=40, page_size=15)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    root = tmp_path / "wh"
    runner = CrawlRunner(spark=spark, warehouse_root=str(root), web=web, mode="refresh")
    runner.init([(site.search_url("eindhoven", 1), "eindhoven")],
                existing_urls=[site.listings[0].url])
    assert runner.run() > 1
    assert runner.table("refreshed_urls").count() == 40
    assert runner.seen_count == runner.table("url_seen").count() == 1
    assert json.loads((root / "checkpoint.json").read_text())["seen_count"] == 1


def test_refresh_resumes_exactly_mid_run(spark, tmp_path, refresh_site):
    """T5 for refresh mode: stop after one wave, reopen the runner from
    the checkpoint, drain — the refreshed URL set must equal an
    uninterrupted run's."""
    site = refresh_site
    web = spark.createDataFrame(web_rows(site), "url string, html string")

    full = _run_refresh(spark, tmp_path / "full", site)
    want = {(r["city"], r["url"]) for r in full.table("refreshed_urls").collect()}

    r1 = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "part" / "wh"),
                     web=web, mode="refresh")
    r1.init([(site.search_url(c, 1), c) for c in site.cities])
    assert r1.step()  # one wave, then "crash"

    r2 = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "part" / "wh"),
                     web=web, mode="refresh")
    assert r2.wave == 1 and r2.mode == "refresh"  # checkpoint reloaded
    r2.run()
    got = {(r["city"], r["url"]) for r in r2.table("refreshed_urls").collect()}
    assert got == want


def test_refreshed_urls_deduped_across_waves(spark, tmp_path):
    """A URL listed on search pages of DIFFERENT waves (listings shift
    between pages mid-crawl) must land in refreshed_urls once — the
    reference's active_urls is a set (funda_spider.py:488-504), so the
    table has set semantics, not bag semantics."""
    from fundamental_spark.synth.site import render_search_html

    site = build_site(seed=47, cities=("nijmegen",), listings_per_city=20,
                      page_size=10)
    # page 2 re-lists page 1's urls (rendered without a next button so
    # the refresh pass stops there)
    url2 = site.search_url("nijmegen", 2)
    site.search_pages[url2] = render_search_html(
        site, "nijmegen", 1, include_next=False
    ).replace(site.search_url("nijmegen", 2), "")  # drop page-1's next link
    runner = _run_refresh(spark, tmp_path, site)
    rows = runner.table("refreshed_urls").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))          # set semantics
    assert set(urls) == set(site.pages_by_city["nijmegen"][0][1])
    # the duplicate sightings were on wave 2; first-seen wave is kept
    assert all(r["wave"] == 1 for r in rows)
