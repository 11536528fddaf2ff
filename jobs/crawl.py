#!/usr/bin/env python
"""spark-submit entry: run the distributed crawl.

  spark-submit --py-files dist/fundamental_spark.zip jobs/crawl.py \\
      --warehouse /data/wh --cities amsterdam utrecht \\
      --listings-per-city 40 --spider-type active \\
      --wave-seconds 60 --max-waves 100

The crawl runs against the deterministic synthetic site: its fetch is
a join against the synthetic web table. Fetching real pages over HTTP
is outside this repository's scope.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--cities", nargs="+", default=["amsterdam", "utrecht"])
    ap.add_argument("--listings-per-city", type=int, default=40)
    ap.add_argument("--page-size", type=int, default=15)
    ap.add_argument("--spider-type", choices=["active", "sold"], default="active")
    ap.add_argument("--max-pages", type=int, default=100)
    ap.add_argument("--max-waves", type=int, default=1000)
    ap.add_argument("--wave-seconds", type=float, default=None,
                    help="politeness wave budget; omit for unbounded")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--resume", action="store_true",
                    help="continue from the warehouse checkpoint")
    ap.add_argument("--ingest-properties", action="store_true",
                    help="after the crawl, stream-ingest documents into properties")
    args = ap.parse_args()

    from fundamental_spark.crawl.runner import CrawlRunner
    from fundamental_spark.session import get_spark
    from fundamental_spark.synth.site import build_site, web_rows

    spark = get_spark("fundamental-crawl")
    site = build_site(
        seed=args.seed,
        cities=tuple(args.cities),
        listings_per_city=args.listings_per_city,
        page_size=args.page_size,
    )
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    runner = CrawlRunner(
        spark=spark,
        warehouse_root=args.warehouse,
        web=web,
        spider_type=args.spider_type,
        max_pages=args.max_pages,
        wave_seconds=args.wave_seconds,
    )
    if not args.resume:
        runner.init([(site.search_url(c, 1), c) for c in site.cities])
    waves = runner.run(max_waves=args.max_waves)
    stats = {
        "waves": waves,
        "documents": runner.table("documents").count(),
        "seen_urls": runner.table("url_seen").count(),
    }
    if args.ingest_properties:
        from fundamental_spark.streaming.jobs import stream_ingest_documents

        stream_ingest_documents(
            spark,
            args.warehouse,
            args.warehouse + "_props",
            args.warehouse + "_ckpt",
        )
        from fundamental_spark.tableformat import Warehouse

        stats["properties"] = (
            Warehouse(spark, args.warehouse + "_props").read("properties").count()
        )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
