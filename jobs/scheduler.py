#!/usr/bin/env python
"""spark-submit entry: the scheduler-cadence orchestration loop.

  spark-submit --py-files dist/fundamental_spark.zip jobs/scheduler.py \\
      --warehouse /data/sched_wh --cities amsterdam utrecht \\
      --weekday 0 --hours 0 1 2

Twin of scheduler.go:84-282: iterates scheduler ticks and executes each
tick's job list STRICTLY SERIALLY (the jobMutex — one Spark job
pipeline at a time; waves inside a job are still fully distributed).
Job types map to the engine's modes:

  active  -> CrawlRunner(spider_type='active') drain + property ingest
  sold    -> CrawlRunner(spider_type='sold') drain + property ingest
  refresh -> CrawlRunner(mode='refresh') + mark_inactive_from_refresh
  hulls   -> district hull rebuild (operators.geo pipeline)

The sandbox compresses time: ticks are simulated (no sleeping) against
the deterministic synthetic site; a deployment drives the same loop
from a real clock and the HTTP fetcher web table.
"""

from __future__ import annotations

import argparse
import json


def execute_job(
    spark, job_type: str, cities: list[str], args, web, site, seen_urls=None
) -> dict:
    """Run ONE scheduler job to completion (serial: caller must not
    overlap calls — the jobMutex contract): one job TYPE for the given
    cities, all of them in ONE multi-seed runner. The reference runs one
    spider process per city strictly serially under the jobMutex;
    per-city frontiers are independent, so draining their union in one
    distributed runner computes the identical result (each wave still
    honors per-city stop rules — they key on the city column) while the
    SERIAL contract is preserved at the granularity that matters for
    correctness: job TYPES within a tick still execute in the reference
    order (sold -> hulls -> active -> refresh). This is the 10x-scale
    path: 9,600 per-city drains/day collapse to 25 distributed drains.
    ``main`` passes one city per call, the reference's per-city shape.

    ``seen_urls``: one-column DataFrame of already-known listing URLs
    (the DB-backed set funda_spider.py:46 passes to the spider) — an
    hourly active tick then fetches only search pages until the no-new
    stop fires, exactly the reference's steady-state behavior."""
    from pyspark.sql import functions as F

    from fundamental_spark.crawl.runner import CrawlRunner
    from fundamental_spark.functions.extractors import extract_items
    from fundamental_spark.operators.lifecycle import (
        mark_inactive_from_refresh,
        upsert_properties,
    )
    from fundamental_spark.tableformat import Warehouse

    props = Warehouse(spark, f"{args.warehouse}/props")

    if job_type == "hulls":
        # rebuild hulls from the accumulated district_points table (the
        # reference reads its district points from the DB the same way,
        # district.go:60-90); nothing geocoded yet -> skip, like a fresh
        # deployment's first 00:30 tick
        from fundamental_spark.operators.geo import dedup_points, district_hulls

        if not props.exists("district_points"):
            return {"job": job_type, "skipped": "no district points yet"}
        hulls = district_hulls(dedup_points(props.read("district_points")))
        props.overwrite("district_hulls", hulls)
        return {"job": job_type, "districts": hulls.count()}

    mode = "refresh" if job_type == "refresh" else "crawl"
    runner = CrawlRunner(
        spark=spark,
        warehouse_root=f"{args.warehouse}/{job_type}",
        web=web,
        spider_type="sold" if job_type == "sold" else "active",
        mode=mode,
        max_pages=args.max_pages,
    )
    runner.init(
        [(site.search_url(c, 1), c) for c in cities], existing_urls=seen_urls
    )
    waves = runner.run()
    out = {"job": job_type, "cities": len(cities), "waves": waves}
    metrics = runner.table("wave_metrics").collect()
    out["pages_fetched"] = int(sum(m["pages_fetched"] for m in metrics))
    out["new_listing_urls"] = int(sum(m["new_listing_urls"] for m in metrics))
    if mode == "refresh":
        refreshed = runner.table("refreshed_urls")
        if props.exists("properties"):
            out["marked_inactive"] = mark_inactive_from_refresh(
                props, refreshed, wave=runner.wave
            )
        out["refreshed_urls"] = refreshed.count()
    else:
        docs = runner.table("documents")
        items = extract_items(docs)
        if job_type == "sold":
            items = items.withColumn("status", F.lit("sold"))
        n_docs = docs.count()
        if n_docs:  # hourly no-new ticks upsert nothing, like the reference
            upsert_properties(props, items, wave=runner.wave)
        out["documents"] = int(n_docs)
    return out


def simulate_day(spark, args, web, site, weekday: int = 0) -> list[dict]:
    """One full simulated scheduler day (48 ticks): every tick's job
    list comes from the jobs_at cadence twin; consecutive jobs of one
    type batch into one runner. The known-URL set (props 'properties'
    table) carries across ticks so hourly re-crawls stop on the no-new
    rule."""
    from fundamental_spark.crawl.schedule import jobs_at
    from fundamental_spark.tableformat import Warehouse

    props = Warehouse(spark, f"{args.warehouse}/props")
    executed = []
    for hour in range(24):
        for minute in (0, 30):
            tick = jobs_at(weekday, hour, minute, list(site.cities))
            # group consecutive same-type jobs (cadence order preserved)
            groups: list[tuple[str, list[str]]] = []
            for job_type, city in tick:
                if groups and groups[-1][0] == job_type:
                    groups[-1][1].append(city)
                else:
                    groups.append((job_type, [city]))
            for job_type, cities in groups:
                seen = (
                    props.read("properties").select("url")
                    if job_type in ("active", "sold") and props.exists("properties")
                    else None
                )
                res = execute_job(
                    spark, job_type, cities, args, web, site, seen_urls=seen
                )
                res.update({"weekday": weekday, "hour": hour, "minute": minute})
                executed.append(res)
    return executed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--cities", nargs="+", default=["amsterdam", "utrecht"])
    ap.add_argument("--listings-per-city", type=int, default=20)
    ap.add_argument("--page-size", type=int, default=10)
    ap.add_argument("--max-pages", type=int, default=100)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--weekday", type=int, default=0, help="Go weekday: Sunday=0")
    ap.add_argument("--hours", type=int, nargs="+", default=[0],
                    help="which hours of the simulated day to tick")
    args = ap.parse_args()

    from fundamental_spark.crawl.schedule import jobs_at
    from fundamental_spark.session import get_spark
    from fundamental_spark.synth.site import build_site, web_rows

    spark = get_spark("fundamental-scheduler")
    site = build_site(
        seed=args.seed,
        cities=tuple(args.cities),
        listings_per_city=args.listings_per_city,
        page_size=args.page_size,
    )
    web = spark.createDataFrame(web_rows(site), "url string, html string")

    executed = []
    for hour in args.hours:
        for minute in (0, 30):
            for job_type, city in jobs_at(args.weekday, hour, minute, args.cities):
                res = execute_job(spark, job_type, [city], args, web, site)
                res.update({"city": city, "weekday": args.weekday, "hour": hour,
                            "minute": minute})
                executed.append(res)
                print(json.dumps(res), flush=True)
    print(json.dumps({"total_jobs": len(executed)}), flush=True)


if __name__ == "__main__":
    main()
