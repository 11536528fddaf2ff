"""Scheduler cadence twin vs the reference's Go logic.

The reference (server/internal/scheduler/scheduler.go) ticks every
minute under a jobMutex: sold spiders at 00:00, hulls at 00:30, active
spiders hourly, and one weekly refresh slot per city on a
(weekday × {0,4,8,12,16,20}) grid filled hour-major. The test ports
that Go logic line-for-line (append loops, slice indexing, the
`i < len(schedule)` guard) and compares a full simulated week against
fundamental_spark.crawl.schedule.
"""

from __future__ import annotations

import importlib.util
import os
from collections.abc import Iterator

from pyspark.sql import functions as F

from fundamental_spark.crawl.schedule import (
    N_WEEKDAYS,
    jobs_at,
    refresh_slot_table,
)


def simulate_week(cities: list[str]) -> Iterator[tuple[int, int, int, str, str]]:
    """Every job of one scheduler week in execution order:
    (weekday, hour, minute, job_type, city). Serial by construction —
    the jobMutex twin: a job list is a total order, never a DAG."""
    for weekday in range(N_WEEKDAYS):
        for hour in range(24):
            for minute in (0, 30):
                for job_type, city in jobs_at(weekday, hour, minute, cities):
                    yield (weekday, hour, minute, job_type, city)


# ---- straight port of scheduler.go:209-253 (test oracle) -----------------
def _go_city_schedule(cities):
    time_slots = [0, 4, 8, 12, 16, 20]
    days_of_week = [0, 1, 2, 3, 4, 5, 6]  # Sunday..Saturday
    schedule = []
    for day in days_of_week:                      # all midnight slots first
        schedule.append((day, time_slots[0]))
    for day in days_of_week:                      # then all 4am slots
        schedule.append((day, time_slots[1]))
    for hour in time_slots[2:]:                   # then each later slot
        for day in days_of_week:
            schedule.append((day, hour))
    city_schedule = {}
    for i, city in enumerate(cities):
        if i < len(schedule):
            city_schedule[city] = schedule[i]
    return city_schedule


def _go_tick(weekday, hour, minute, cities):
    """Port of executeScheduledJobs (scheduler.go:110-152): sold at
    midnight, hulls at 00:30, active hourly, then the refresh check."""
    jobs = []
    if hour == 0 and minute == 0:
        for c in cities:
            jobs.append(("sold", c))
    if hour == 0 and minute == 30:
        jobs.append(("hulls", "*"))
    if minute == 0:
        for c in cities:
            jobs.append(("active", c))
        for city, slot in _go_city_schedule(cities).items():
            if slot == (weekday, hour):
                jobs.append(("refresh", city))
    return jobs


CITIES_9 = [f"city{i:02d}" for i in range(9)]


def test_slot_table_matches_go_port():
    for n in (1, 9, 42, 50):
        cities = [f"c{i}" for i in range(n)]
        assert refresh_slot_table(cities) == _go_city_schedule(cities)
    # >42 cities: the excess never refreshes (reference guard)
    table = refresh_slot_table([f"c{i}" for i in range(50)])
    assert len(table) == 42 and "c49" not in table


def test_week_of_ticks_matches_go_port():
    mine = list(simulate_week(CITIES_9))
    ported = [
        (d, h, m, jt, c)
        for d in range(7)
        for h in range(24)
        for m in (0, 30)
        for (jt, c) in _go_tick(d, h, m, CITIES_9)
    ]
    assert mine == ported


def test_week_job_invariants():
    week = list(simulate_week(CITIES_9))
    per_city_active = {}
    per_city_sold = {}
    per_city_refresh = {}
    hulls = 0
    for _, _, _, jt, c in week:
        if jt == "active":
            per_city_active[c] = per_city_active.get(c, 0) + 1
        elif jt == "sold":
            per_city_sold[c] = per_city_sold.get(c, 0) + 1
        elif jt == "refresh":
            per_city_refresh[c] = per_city_refresh.get(c, 0) + 1
        elif jt == "hulls":
            hulls += 1
    assert all(v == 24 * 7 for v in per_city_active.values())   # hourly
    assert all(v == 7 for v in per_city_sold.values())          # daily 00:00
    assert all(v == 1 for v in per_city_refresh.values())       # weekly slot
    assert len(per_city_refresh) == len(CITIES_9)               # all 9 < 42 slots
    assert hulls == 7                                           # daily 00:30
    # first 9 slots fill the midnight column then spill to 4am (hour-major)
    tbl = refresh_slot_table(CITIES_9)
    assert [tbl[c] for c in CITIES_9] == [
        (0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 0), (0, 4), (1, 4)
    ]


def test_midnight_ordering_sold_then_active_then_refresh():
    jobs = jobs_at(0, 0, 0, ["a", "b"])  # Sunday 00:00
    assert jobs == [
        ("sold", "a"), ("sold", "b"),
        ("active", "a"), ("active", "b"),
        ("refresh", "a"),  # city 0's slot is (Sunday, 0)
    ]
    assert jobs_at(0, 0, 30, ["a", "b"]) == [("hulls", "*")]
    assert jobs_at(2, 13, 0, ["a", "b"]) == [("active", "a"), ("active", "b")]
    assert jobs_at(2, 13, 30, ["a", "b"]) == []


def _load_scheduler_job():
    path = os.path.join(os.path.dirname(__file__), "..", "jobs", "scheduler.py")
    spec = importlib.util.spec_from_file_location("sched_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_orchestration_executes_a_midnight_tick(spark, tmp_path):
    """Drive the real runner modes through one simulated Sunday-00:00
    tick (sold + active + refresh for the slot city) and the 00:30
    hulls tick — serially, the jobMutex contract."""
    from types import SimpleNamespace

    from fundamental_spark.synth.site import build_site, web_rows
    from fundamental_spark.tableformat import Warehouse

    sched = _load_scheduler_job()
    cities = ["rotterdam"]
    site = build_site(seed=31, cities=tuple(cities), listings_per_city=12,
                      page_size=6)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    args = SimpleNamespace(warehouse=str(tmp_path / "wh"), max_pages=100)

    results = []
    for hour, minute in ((0, 0), (0, 30)):
        for job_type, city in jobs_at(0, hour, minute, cities):
            results.append(sched.execute_job(spark, job_type, [city], args, web, site))

    kinds = [r["job"] for r in results]
    assert kinds == ["sold", "active", "refresh", "hulls"]
    props = Warehouse(spark, str(tmp_path / "wh" / "props"))
    tbl = props.read("properties")
    assert tbl.count() == 12
    # the sold job ran first (everything 'sold'), the active upsert then
    # replaced matched rows with each item's own status — so non-sold
    # rows exist again (the synthetic city has naturally-sold listings
    # too, which stay 'sold')
    assert tbl.filter(F.col("status") != "sold").count() > 0
    assert results[2]["refreshed_urls"] == 12
    assert results[3]["skipped"]  # no geocoded district points yet


def test_batched_tick_equals_per_city(spark, tmp_path):
    """execute_job over a tick's cities — the 10x scheduler path that
    collapses a tick's per-city jobs of one type into one multi-seed
    distributed drain — must land the same properties table as the
    reference-shaped per-city serial jobs, and report the summed wave
    totals."""
    from types import SimpleNamespace

    from fundamental_spark.synth.site import build_site, web_rows
    from fundamental_spark.tableformat import Warehouse

    sched = _load_scheduler_job()
    cities = ["alpha", "beta"]
    site = build_site(seed=33, cities=tuple(cities), listings_per_city=10,
                      page_size=5)
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    cols = ["url", "status", "price", "living_area", "postal_code", "city"]

    args1 = SimpleNamespace(warehouse=str(tmp_path / "wh1"), max_pages=100)
    for c in cities:
        sched.execute_job(spark, "active", [c], args1, web, site)
    p1 = Warehouse(spark, str(tmp_path / "wh1" / "props")).read("properties")

    args2 = SimpleNamespace(warehouse=str(tmp_path / "wh2"), max_pages=100)
    res = sched.execute_job(spark, "active", cities, args2, web, site)
    p2 = Warehouse(spark, str(tmp_path / "wh2" / "props")).read("properties")

    assert res["pages_fetched"] > 0 and res["cities"] == 2
    assert sorted(map(tuple, p1.select(*cols).collect())) == sorted(
        map(tuple, p2.select(*cols).collect())
    )
    # a second batched tick with the known-URL set fetches search pages
    # only (the reference's steady-state hourly tick)
    seen = p2.select("url")
    res2 = sched.execute_job(
        spark, "active", cities, args2, web, site, seen_urls=seen
    )
    assert res2["new_listing_urls"] == 0
    assert res2["documents"] == 0
    assert res2["pages_fetched"] < res["pages_fetched"]
