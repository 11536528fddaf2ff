"""Crawl-equivalence: the Spark frontier pipeline must reproduce the
reference spider's URL-seen set, canonical crawl order, page-visit
counts, and per-document interleaved span sequences (SURVEY.md §5.3;
BASELINE.json input_hint per-row invariant)."""

from __future__ import annotations

import pytest

from fundamental_spark.crawl.runner import CrawlRunner
from fundamental_spark.synth.reference_sim import simulate_crawl
from fundamental_spark.synth.site import build_site, web_rows

CANON = ["city", "discovered_on_page", "priority", "page_pos", "url"]


def _canon_sim_log(sim):
    return sorted(
        [(c, d, p, pos, u) for (u, k, d, p, pos, c) in sim.crawl_log],
        key=lambda t: t,
    )


def _canon_runner_log(runner):
    rows = runner.table("crawl_log").select(*CANON).collect()
    return sorted(
        [(r["city"], r["discovered_on_page"], r["priority"], r["page_pos"], r["url"]) for r in rows]
    )


def _run(spark, tmp_path, site, spider_type="active", existing=None, **kw):
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    runner = CrawlRunner(
        spark=spark,
        warehouse_root=str(tmp_path / "wh"),
        web=web,
        spider_type=spider_type,
        **kw,
    )
    seeds = [(site.search_url(c, 1), c) for c in site.cities]
    runner.init(seeds, existing_urls=list(existing or []))
    runner.run()
    return runner


def _assert_equivalent(runner, sim):
    # (a) identical URL-seen set (newly discovered this run)
    spark_seen = {
        r["url"]
        for r in runner.table("url_seen").filter("first_seen_wave >= 0").collect()
    }
    assert spark_seen == sim.seen_urls
    # (b) identical canonical crawl order
    assert _canon_runner_log(runner) == _canon_sim_log(sim)
    # (c) span-sequence equality per document (kind, text, media_ref, order)
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in runner.table("documents").collect()
    }
    assert set(docs) == set(sim.spans_by_doc)
    for u, expected in sim.spans_by_doc.items():
        assert docs[u] == expected, f"span mismatch for {u}"


def test_active_crawl_full_equivalence(spark, tmp_path):
    site = build_site(seed=7, cities=("amsterdam", "utrecht"), listings_per_city=40,
                      page_size=15, empty_tail_pages=4)
    sim = simulate_crawl(site, "active")
    runner = _run(spark, tmp_path, site, "active")
    _assert_equivalent(runner, sim)
    # empty-page stop: 3 real pages + 3 empty pages visited per city
    assert sim.pages_visited_by_city == {"amsterdam": 6, "utrecht": 6}


def test_active_no_new_stop_with_existing_urls(spark, tmp_path):
    site = build_site(seed=11, cities=("rotterdam",), listings_per_city=90, page_size=15)
    pages = site.pages_by_city["rotterdam"]
    # pages 2..5 entirely pre-seen -> 3 consecutive no-new pages -> stop after page 4
    existing = set(pages[1][1]) | set(pages[2][1]) | set(pages[3][1]) | set(pages[4][1])
    sim = simulate_crawl(site, "active", existing_urls=existing)
    assert sim.pages_visited_by_city == {"rotterdam": 4}
    runner = _run(spark, tmp_path, site, "active", existing=existing)
    _assert_equivalent(runner, sim)


def test_sold_spider_stops_on_first_no_new_page(spark, tmp_path):
    site = build_site(seed=13, cities=("leiden",), listings_per_city=60, page_size=15)
    pages = site.pages_by_city["leiden"]
    existing = set(pages[1][1])  # page 2 fully seen
    sim = simulate_crawl(site, "sold", existing_urls=existing)
    assert sim.pages_visited_by_city == {"leiden": 2}  # the active/sold asymmetry
    runner = _run(spark, tmp_path, site, "sold", existing=existing)
    _assert_equivalent(runner, sim)


def test_max_pages_gate(spark, tmp_path):
    site = build_site(seed=17, cities=("delft",), listings_per_city=90, page_size=15)
    sim = simulate_crawl(site, "active", max_pages=3)
    assert sim.pages_visited_by_city == {"delft": 3}
    runner = _run(spark, tmp_path, site, "active", max_pages=3)
    _assert_equivalent(runner, sim)


def test_politeness_budget_caps_waves_but_preserves_result(spark, tmp_path):
    site = build_site(seed=19, cities=("haarlem",), listings_per_city=25, page_size=10)
    sim = simulate_crawl(site, "active")
    # budget = 4 pages per wave (wave_seconds=4s, delay 2s, concurrency 2)
    runner = _run(spark, tmp_path, site, "active", wave_seconds=4.0)
    _assert_equivalent(runner, sim)
    metrics = runner.table("wave_metrics").collect()
    assert all(m["pages_fetched"] <= 4 for m in metrics)
    assert len(metrics) > 3  # the cap actually forced extra waves


def test_manual_pagination_when_next_button_absent(spark, tmp_path):
    """Missing next-page button mid-sequence: both crawlers must fall
    back to the manually-constructed ?page=N URL and keep paginating
    (funda_spider.py:172-184) instead of stopping."""
    site = build_site(seed=29, cities=("arnhem",), listings_per_city=75,
                      page_size=15, omit_next_button_pages=(2, 3))
    sim = simulate_crawl(site, "active")
    assert sim.pages_visited_by_city == {"arnhem": 5}  # crawl survives the gap
    runner = _run(spark, tmp_path, site, "active")
    _assert_equivalent(runner, sim)


def test_css_only_and_relative_hrefs(spark, tmp_path):
    """Pages without JSON-LD: the CSS selector hrefs (both shapes, some
    relative) are the only URL source; the reference unions them in
    (funda_spider.py:109-116), so the listings must still be crawled."""
    site = build_site(seed=31, cities=("breda",), listings_per_city=60,
                      page_size=15, css_only_pages=(2, 3), relative_css=True)
    sim = simulate_crawl(site, "active")
    # listings on the CSS-only pages were found
    assert len(sim.seen_urls) == 60
    runner = _run(spark, tmp_path, site, "active")
    _assert_equivalent(runner, sim)


def test_sold_spider_tolerates_empty_pages(spark, tmp_path):
    """Sold spider: empty pages feed ONLY the 3-consecutive-empty rule;
    the immediate no-new stop applies to non-empty pages alone
    (funda_spider_sold.py:129-141)."""
    site = build_site(seed=37, cities=("zwolle",), listings_per_city=30,
                      page_size=15, empty_tail_pages=4)
    sim = simulate_crawl(site, "sold")
    # 2 real pages + 3 empty pages (empty-rule stop), NOT a stop at the
    # first empty page
    assert sim.pages_visited_by_city == {"zwolle": 5}
    runner = _run(spark, tmp_path, site, "sold")
    _assert_equivalent(runner, sim)


def test_blocked_interstitial_dropped_without_retry(spark, tmp_path):
    """Bot-verification bodies are dropped permanently (funda_spider.py:
    190-192): no document row, no crawl_log row, no retry attempts —
    but the URL still enters the seen set."""
    site = build_site(seed=41, cities=("almere",), listings_per_city=30,
                      page_size=15, blocked_listing_every=5)
    sim = simulate_crawl(site, "active")
    runner = _run(spark, tmp_path, site, "active")
    _assert_equivalent(runner, sim)
    assert len(sim.seen_urls) == 30            # blocked URLs still seen
    assert len(sim.spans_by_doc) == 24         # 6 of 30 blocked
    frontier = runner.table("frontier")
    dropped = frontier.filter("state = 'dropped' AND kind = 'detail'")
    # dropped exactly once: attempt stays at 1 (no retry ledger loop)
    rows = dropped.select("attempt").collect()
    assert len(rows) == 6 and all(r["attempt"] == 1 for r in rows)


def test_spec_rendered_web_matches_html_web(spark, tmp_path):
    """Executor-side rendering (the bench's frontier-scale mode): detail
    pages ship as compact specs and the fused render+parse UDF produces
    spans inside one Arrow batch — the result must be identical to the
    pre-rendered-HTML web, row for row, span for span."""
    from fundamental_spark.synth.site import spec_web_rows

    site = build_site(seed=71, cities=("delft",), listings_per_city=30, page_size=10)
    sim = simulate_crawl(site, "active")

    rows, n_detail = spec_web_rows(site)
    assert n_detail == 30
    web = spark.createDataFrame(rows, "url string, html string, spec string")
    runner = CrawlRunner(
        spark=spark, warehouse_root=str(tmp_path / "wh"), web=web,
    )
    runner.init([(site.search_url(c, 1), c) for c in site.cities])
    runner.run()
    _assert_equivalent(runner, sim)


def test_prefilter_and_exact_paths_agree(spark, tmp_path):
    """The cuckoo prefilter (prefilter_min_seen=0, engaged from the first
    wave) and the default broadcast exact anti-join (a 5-URL seen set is
    far below the threshold) yield the same crawl: the prefilter sits in
    front of the same exact join, so both runs equal the simulator."""
    site = build_site(seed=23, cities=("gouda",), listings_per_city=30, page_size=10)
    pages = site.pages_by_city["gouda"]
    existing = set(pages[0][1][:5])
    sim = simulate_crawl(site, "active", existing_urls=existing)
    r1 = _run(spark, tmp_path / "a", site, "active", existing=existing,
              prefilter_min_seen=0)
    r2 = _run(spark, tmp_path / "b", site, "active", existing=existing)
    _assert_equivalent(r1, sim)
    _assert_equivalent(r2, sim)


def test_blocked_search_page_keeps_paginating(spark, tmp_path):
    """A 200-interstitial SEARCH page is NOT dropped: the reference's
    parse() only checks the marker in the detail parsers, so such a
    page flows through as a zero-listing page — the empty-page counter
    ticks and the manual ?page=N fallback keeps the chain alive (pages
    after the blocked one are still crawled). Full equivalence vs the
    reference simulation."""
    site = build_site(seed=67, cities=("leiden",), listings_per_city=40,
                      page_size=10, blocked_search_pages=(2,))
    runner = _run(spark, tmp_path, site)
    sim = simulate_crawl(site)
    _assert_equivalent(runner, sim)
    # pages 3 and 4 were reached (the chain survived the blocked page 2)
    reached = {
        r["discovered_on_page"]
        for r in runner.table("crawl_log")
        .filter("kind = 'search'").select("discovered_on_page").collect()
    }
    assert {0, 1, 2, 3}.issubset(reached)  # 0-based: pages 1..4 fetched
    # and the blocked page itself is logged as fetched, not dropped
    # (the only dropped search row is the past-the-end manual 404)
    blocked_url = site.pages_by_city["leiden"][1][0]
    states = {
        r["url"]: r["state"]
        for r in runner.table("frontier_done").filter("kind = 'search'").collect()
    }
    assert states[blocked_url] == "fetched"


def test_resolve_href_urljoin_shapes(spark):
    """response.urljoin twin: absolute, protocol-relative, root-relative,
    query-only and path-relative hrefs all resolve like urllib's urljoin
    (the shapes real pages emit; ../ is out of contract)."""
    from urllib.parse import urljoin

    from pyspark.sql import functions as F

    from fundamental_spark.crawl.parse import resolve_href

    page = "https://www.funda.nl/zoeken/koop?selected_area=x&sort=date_down"
    hrefs = [
        "https://other.nl/detail/koop/a/1/",
        "//cdn.funda.nl/detail/koop/b/2/",
        "/detail/koop/c/3/",
        "?search_result=2",
        "detail/koop/d/4/",
    ]
    df = spark.createDataFrame([(page, h) for h in hrefs], "page string, href string")
    got = [
        r["out"]
        for r in df.select(
            resolve_href(F.col("page"), F.col("href")).alias("out")
        ).collect()
    ]
    assert got == [urljoin(page, h) for h in hrefs]
    # bare-origin page: path-relative resolves onto '/'
    df2 = spark.createDataFrame([("https://www.funda.nl", "detail/x/")], "page string, href string")
    assert df2.select(resolve_href(F.col("page"), F.col("href")).alias("o")).first()["o"] \
        == urljoin("https://www.funda.nl", "detail/x/")


def test_cuckoo_backend_crawl_is_backend_invariant(spark, tmp_path):
    """The cuckoo prefilter (crawl/cuckoo.py) engaged from the first wave
    yields the exact crawl on a second site: it only sits in front of the
    exact anti-join, so the URL-seen result does not depend on whether
    the prefilter runs; this pins it."""
    site = build_site(seed=29, cities=("delft",), listings_per_city=30, page_size=10)
    pages = site.pages_by_city["delft"]
    existing = set(pages[0][1][:5])
    sim = simulate_crawl(site, "active", existing_urls=existing)
    r = _run(spark, tmp_path / "c", site, "active", existing=existing,
             prefilter_min_seen=0)
    _assert_equivalent(r, sim)
