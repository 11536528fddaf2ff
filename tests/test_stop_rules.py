"""The crawl's stop rules as a pure driver function
(``runner.stop_rules``), tested without a Spark session: the active/sold
asymmetry on empty pages, the empty-page and no-new counters,
``max_pages``, the next button against the manual ``&page=N`` fallback,
the refresh pass's next-button-only stop, and the runner's option
checks. A plain-Python walk over the synthetic site, one ``stop_rules``
call per wave, visits the same pages as the reference simulator."""

from __future__ import annotations

import pytest

from fundamental_spark.crawl.runner import CityState, CrawlRunner, stop_rules
from fundamental_spark.synth.reference_sim import (
    extract_search,
    simulate_crawl,
    simulate_refresh,
)
from fundamental_spark.synth.site import build_site

SEED = "https://www.funda.nl/zoeken/koop?selected_area=delft"
NEXT = "https://www.funda.nl/zoeken/koop?selected_area=delft&search_result=9"


def _page(states, page_idx, n_listings, n_new, next_url=None, **kw):
    """Run the rules on one wave holding one search page of delft."""
    rules = {"spider_type": "active", "refresh": False, "max_pages": 100, **kw}
    key = ("delft", page_idx)
    new_counts = {key: n_new} if n_new else {}
    return stop_rules(
        states, {key: (n_listings, next_url)}, new_counts, {"delft": SEED}, **rules
    )


def _manual(page_idx):
    return [(f"{SEED}&page={page_idx}", "delft", page_idx)]


@pytest.mark.parametrize("spider_type, no_new", [("active", 1), ("sold", 0)])
def test_empty_page_counts_as_no_new_for_the_active_spider_only(spider_type, no_new):
    states = {"delft": CityState("delft")}
    assert _page(states, 1, 0, 0, spider_type=spider_type) == _manual(2)
    assert states["delft"] == CityState("delft", consecutive_empty=1, consecutive_no_new=no_new)


def test_no_new_threshold_is_three_for_active_and_one_for_sold():
    sold = {"delft": CityState("delft")}
    assert _page(sold, 1, 15, 0, spider_type="sold") == []
    assert sold["delft"].stopped
    active = {"delft": CityState("delft")}
    assert _page(active, 1, 15, 0) == _manual(2)
    assert _page(active, 2, 15, 0) == _manual(3)
    assert _page(active, 3, 15, 0) == []
    assert active["delft"].stopped


def test_three_consecutive_empty_pages_stop_and_a_full_page_resets():
    states = {"delft": CityState("delft")}
    assert _page(states, 1, 0, 0, spider_type="sold") == _manual(2)
    assert _page(states, 2, 0, 0, spider_type="sold") == _manual(3)
    assert _page(states, 3, 15, 4, spider_type="sold") == _manual(4)
    assert states["delft"].consecutive_empty == 0
    for p in (4, 5):
        assert _page(states, p, 0, 0, spider_type="sold") == _manual(p + 1)
    assert _page(states, 6, 0, 0, spider_type="sold") == []
    assert states["delft"] == CityState("delft", consecutive_empty=3, stopped=True)


@pytest.mark.parametrize("refresh", [False, True])
def test_max_pages_stops_a_page_with_new_listings_and_a_next_button(refresh):
    states = {"delft": CityState("delft")}
    assert _page(states, 3, 15, 15, NEXT, max_pages=3, refresh=refresh) == []
    assert states["delft"].stopped


def test_next_button_wins_over_the_manual_fallback():
    states = {"delft": CityState("delft")}
    assert _page(states, 1, 15, 15, NEXT) == [(NEXT, "delft", 2)]
    assert _page(states, 2, 15, 15) == _manual(3)  # a missing button never stops


def test_refresh_follows_the_next_button_only_and_keeps_no_counters():
    states = {"delft": CityState("delft")}
    for p in range(1, 6):  # empty, no-new pages: no counter stops the pass
        assert _page(states, p, 0, 0, NEXT, refresh=True) == [(NEXT, "delft", p + 1)]
    assert states["delft"] == CityState("delft")
    assert _page(states, 6, 15, 15, refresh=True) == []
    assert states["delft"].stopped


@pytest.mark.parametrize("refresh", [False, True])
def test_a_stopped_city_never_enqueues_again(refresh):
    states = {"delft": CityState("delft", stopped=True)}
    assert _page(states, 2, 15, 15, NEXT, refresh=refresh) == []
    assert states["delft"].stopped


def test_next_pages_come_in_city_then_page_order():
    states = {c: CityState(c) for c in ("b", "a")}
    pages = {("b", 1): (15, "nb"), ("a", 4): (15, "na")}
    got = stop_rules(states, pages, {("b", 1): 3, ("a", 4): 3}, {}, spider_type="active",
                     refresh=False, max_pages=100)
    assert got == [("na", "a", 5), ("nb", "b", 2)]


def _walk(site, spider_type="active", refresh=False, existing=(), max_pages=100):
    """Crawl ``site`` wave by wave in plain Python, one ``stop_rules``
    call per wave; returns the last search page each city visited."""
    states = {c: CityState(c) for c in site.cities}
    seeds = {c: site.search_url(c, 1) for c in site.cities}
    seen = set(existing)
    frontier = [(seeds[c], c, 1) for c in site.cities]
    visited = {}
    while frontier:
        pages, new_counts = {}, {}
        for url, city, page_idx in frontier:
            html = site.fetch(url)
            if html is None:  # past the end: a 404, dropped
                continue
            visited[city] = page_idx
            urls, next_url = extract_search(
                html, page_url=url, path_filter="/koop/" if refresh else "/detail/koop/"
            )
            pages[(city, page_idx)] = (len(urls), next_url)
            new = set(urls) - seen
            seen |= new
            if new:
                new_counts[(city, page_idx)] = len(new)
        frontier = stop_rules(states, pages, new_counts, seeds, spider_type=spider_type,
                              refresh=refresh, max_pages=max_pages)
    return visited


def test_walk_visits_the_reference_simulators_pages():
    site = build_site(seed=7, cities=("amsterdam", "utrecht"), listings_per_city=40,
                      page_size=15, empty_tail_pages=4)
    assert _walk(site) == simulate_crawl(site).pages_visited_by_city == {
        "amsterdam": 6, "utrecht": 6,
    }
    site = build_site(seed=11, cities=("rotterdam",), listings_per_city=90, page_size=15)
    pages = site.pages_by_city["rotterdam"]
    existing = {u for p in pages[1:5] for u in p[1]}  # pages 2..5 pre-seen
    sim = simulate_crawl(site, existing_urls=existing)
    assert _walk(site, existing=existing) == sim.pages_visited_by_city == {"rotterdam": 4}
    site = build_site(seed=13, cities=("leiden",), listings_per_city=60, page_size=15)
    existing = set(site.pages_by_city["leiden"][1][1])  # page 2 pre-seen
    sim = simulate_crawl(site, "sold", existing_urls=existing)
    assert _walk(site, "sold", existing=existing) == sim.pages_visited_by_city == {"leiden": 2}
    site = build_site(seed=17, cities=("delft",), listings_per_city=90, page_size=15)
    sim = simulate_crawl(site, max_pages=3)
    assert _walk(site, max_pages=3) == sim.pages_visited_by_city == {"delft": 3}
    site = build_site(seed=29, cities=("arnhem",), listings_per_city=75, page_size=15,
                      omit_next_button_pages=(2, 3))
    assert _walk(site) == simulate_crawl(site).pages_visited_by_city == {"arnhem": 5}


def test_refresh_walk_visits_the_reference_simulators_pages():
    for site in (
        build_site(seed=43, cities=("eindhoven", "tilburg"), listings_per_city=40,
                   page_size=15, project_urls_per_city=3),
        build_site(seed=47, cities=("venlo",), listings_per_city=60, page_size=15,
                   omit_next_button_pages=(1,)),
    ):
        assert _walk(site, refresh=True) == simulate_refresh(site)[1]


@pytest.mark.parametrize("option", [{"mode": "Refresh"}, {"mode": "recrawl"}])
def test_unknown_mode_is_rejected(option):
    with pytest.raises(ValueError, match=r"mode='.*'; expected one of \('crawl', 'refresh'\)"):
        CrawlRunner(spark=None, warehouse_root="unused", web=None, **option)


@pytest.mark.parametrize("spider_type", ["Active", "rent"])
def test_unknown_spider_type_is_rejected(spider_type):
    with pytest.raises(ValueError, match=r"spider_type='.*'; expected one of \('active', 'sold'\)"):
        CrawlRunner(spark=None, warehouse_root="unused", web=None, spider_type=spider_type)
