"""robots.txt policy (north rule: honor robots + crawl-delay; the
reference sets ROBOTSTXT_OBEY=False) and the RFC2616-style response
cache (funda/settings.py:34-39, opt-in because the reference's crawl
requests set dont_cache=True)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fundamental_spark.crawl.politeness import PolitenessConfig
from fundamental_spark.crawl.robots import allowed_col, parse_robots
from fundamental_spark.crawl.runner import CrawlRunner
from fundamental_spark.synth.site import build_site, web_rows

ROBOTS = """
# funda-style robots
User-agent: *
Disallow: /mijn/
Disallow: /detail/koop/amsterdam/
Allow: /detail/koop/amsterdam/appartement-keizersgracht
Crawl-delay: 5

User-agent: evilbot
Disallow: /
"""


def test_parse_robots_groups_and_delay():
    p = parse_robots(ROBOTS)
    assert p.crawl_delay == 5.0
    assert not p.allowed("/mijn/settings")
    assert not p.allowed("/detail/koop/amsterdam/huis-x/1/")
    # longest-prefix Allow overrides the Disallow
    assert p.allowed("/detail/koop/amsterdam/appartement-keizersgracht-1/2/")
    assert p.allowed("/zoeken/koop?x=1")
    evil = parse_robots(ROBOTS, user_agent="evilbot")
    assert not evil.allowed("/anything")


def test_crawl_delay_raises_politeness_budget(spark, tmp_path):
    web = spark.createDataFrame([], "url string, html string")
    cfg = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "wh"), web=web,
                      robots_txt=ROBOTS).politeness
    assert cfg.crawl_delay_s == 5.0
    # budget shrinks accordingly: 10s / 5s * 2 = 4 pages
    assert cfg.wave_budget(10.0) == 4


def test_runner_keeps_the_callers_politeness_config(spark, tmp_path):
    """A robots Crawl-delay raises the runner's own delay, not the
    config object the caller passed in: a second runner built on the
    same config and no robots.txt keeps the default budget."""
    web = spark.createDataFrame([], "url string, html string")
    cfg = PolitenessConfig()
    CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "a"), web=web,
                politeness=cfg, robots_txt="User-agent: *\nCrawl-delay: 9\n")
    second = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "b"), web=web,
                         politeness=cfg)
    assert cfg.crawl_delay_s == 2.0
    assert second.politeness.wave_budget(10.0) == 10


def test_allowed_col_matches_python(spark):
    p = parse_robots(ROBOTS)
    paths = [
        "/mijn/x", "/detail/koop/amsterdam/huis-1/9/",
        "/detail/koop/amsterdam/appartement-keizersgracht-9/9/",
        "/detail/koop/utrecht/huis-2/3/", "/",
    ]
    df = spark.createDataFrame(
        [(f"https://www.funda.nl{x}",) for x in paths], "url string"
    )
    got = [r["ok"] for r in df.select(allowed_col(F.col("url"), p).alias("ok")).collect()]
    assert got == [p.allowed(x) for x in paths]


def test_crawl_honors_robots_disallow(spark, tmp_path):
    site = build_site(seed=61, cities=("amsterdam", "utrecht"),
                      listings_per_city=30, page_size=10)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    robots = "User-agent: *\nDisallow: /detail/koop/amsterdam/\n"
    runner = CrawlRunner(
        spark=spark, warehouse_root=str(tmp_path / "wh"), web=web,
        robots_txt=robots,
    )
    runner.init([(site.search_url(c, 1), c) for c in site.cities])
    runner.run()
    docs = {r["doc_id"] for r in runner.table("documents").collect()}
    assert docs  # utrecht still crawled
    assert all("/detail/koop/amsterdam/" not in u for u in docs)
    assert any("/detail/koop/utrecht/" in u for u in docs)
    # disallowed urls never entered the frontier or the seen set
    assert runner.table("frontier").filter(
        "url LIKE '%/detail/koop/amsterdam/%'"
    ).count() == 0


def test_response_cache_serves_refetch_without_web(spark, tmp_path):
    site = build_site(seed=67, cities=("utrecht",), listings_per_city=25, page_size=10)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    r1 = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "a"), web=web,
                     http_cache=True)
    r1.init([(site.search_url(c, 1), c) for c in site.cities])
    r1.run()
    docs1 = {r["doc_id"] for r in r1.table("documents").collect()}
    cache = r1.table("response_cache")
    # every successfully fetched page (search + detail) got cached once
    n_search_fetched = r1.table("crawl_log").filter("kind = 'search'").count()
    assert cache.count() == n_search_fetched + len(docs1)

    # fresh crawl against an EMPTY web, seeded from the cache: every
    # page must come from the cache (RFC2616 replay), same documents
    empty_web = spark.createDataFrame([], "url string, html string")
    r2 = CrawlRunner(spark=spark, warehouse_root=str(tmp_path / "b"), web=empty_web,
                     http_cache=True, response_cache_seed=cache.select("url", "html"))
    r2.init([(site.search_url(c, 1), c) for c in site.cities])
    r2.run()
    docs2 = {r["doc_id"] for r in r2.table("documents").collect()}
    assert docs2 == docs1
    # nothing newly cached on the replay run (all hits)
    assert r2.table("response_cache").filter("wave > 0").count() == 0


def test_autothrottle_backoff_and_recovery(spark, tmp_path):
    """AutoThrottle (funda/settings.py:24-27) at wave granularity:
    failed fetches double the effective delay (shrinking the next
    wave's budget); clean waves decay it back toward the start delay."""
    site = build_site(seed=73, cities=("assen",), listings_per_city=40, page_size=10)
    rows = web_rows(site)
    # first search page fails twice before succeeding (retryable 5xx)
    seed_url = site.search_url("assen", 1)
    web = spark.createDataFrame(
        [(u, h, 2 if u == seed_url else 0) for (u, h) in rows],
        "url string, html string, fail_until_attempt int",
    )
    cfg = PolitenessConfig(crawl_delay_s=2.0, autothrottle=True,
                           autothrottle_max_s=30.0)
    runner = CrawlRunner(
        spark=spark, warehouse_root=str(tmp_path / "wh"), web=web,
        politeness=cfg, wave_seconds=16.0,
    )
    runner.init([(seed_url, "assen")])
    delays = []
    while runner.step():
        delays.append(runner.politeness.effective_delay())
    # wave 1 fails -> delay doubled; wave 2 fails again -> doubled again;
    # clean waves then decay halfway back toward the floor
    assert delays[0] == 4.0 and delays[1] == 8.0
    assert delays[-1] < delays[1]
    # the crawl still completes fully despite throttling
    assert runner.table("documents").count() == 40


def test_robots_wildcard_and_anchor_rules(spark):
    """REP wildcard patterns: '*' mid-path and '$' end anchors must
    actually match (previously they were compared literally and so
    never fired) — driver check and JVM column agree."""
    from pyspark.sql import functions as F

    from fundamental_spark.crawl.robots import allowed_col, parse_robots

    txt = """
User-agent: *
Disallow: /koop/*/print/
Disallow: /*.pdf$
Allow: /koop/amsterdam/print/
Disallow: /exact$
"""
    pol = parse_robots(txt)
    cases = {
        "/koop/utrecht/print/x": False,      # '*' spans one segment
        "/koop/a/b/print/": False,           # ... or several
        "/koop/utrecht/huis-1/": True,
        "/koop/amsterdam/print/x": True,     # longer Allow wins
        "/brochure.pdf": False,              # '$' anchors the end
        "/brochure.pdf/viewer": True,        # not at the end -> no match
        "/exact": False,
        "/exact/sub": True,                  # '$' rule doesn't prefix-match
    }
    for path, want in cases.items():
        assert pol.allowed(path) is want, path
    df = spark.createDataFrame(
        [(f"https://www.funda.nl{p}",) for p in cases], "url string"
    )
    got = {
        r["url"]: r["ok"]
        for r in df.select("url", allowed_col(F.col("url"), pol).alias("ok")).collect()
    }
    for path, want in cases.items():
        assert got[f"https://www.funda.nl{path}"] is want, path


def test_autothrottle_ignores_permanent_misses(spark, tmp_path):
    """A wave whose only failures are permanent drops (the past-the-end
    manual-pagination 404) must NOT back off — Scrapy's AutoThrottle
    reacts to retryable server distress, not to 404s."""
    # page 2 has no next button and no manual alias -> the crawler tries
    # the constructed ?page=3 URL, which 404s (permanent miss)
    site = build_site(seed=79, cities=("gouda",), listings_per_city=20,
                      page_size=10, omit_next_button_pages=(2,),
                      manual_aliases=False, empty_tail_pages=0)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    cfg = PolitenessConfig(crawl_delay_s=2.0, autothrottle=True)
    runner = CrawlRunner(
        spark=spark, warehouse_root=str(tmp_path / "wh"), web=web,
        politeness=cfg, wave_seconds=60.0,
    )
    runner.init([(site.search_url("gouda", 1), "gouda")])
    runner.run()
    # the 404 wave happened (manual page 3 tried) but delay never rose
    tried = {r["url"] for r in runner.table("frontier_done").collect()}
    assert f"{site.search_url('gouda', 1)}&page=3" in tried
    assert runner.politeness.effective_delay() == 2.0
