"""Per-domain politeness gate.

The reference throttles with Scrapy: DOWNLOAD_DELAY=2 s randomized,
2 concurrent requests, AutoThrottle 2→30 s (funda/settings.py:15-28) —
≈1 page/s ceiling on the one domain. (It sets ROBOTSTXT_OBEY=False,
settings.py:12; we honor robots per the north rule — the budget simply
takes crawl_delay from robots when present.)

Distributed translation: a **wave budget** — each micro-batch may fetch
at most ``floor(wave_seconds / crawl_delay × max_concurrency)`` pages
per domain, taken in canonical frontier order. Selection is a
distributed top-k (`orderBy(...).limit(n)` → TakeOrderedAndProject —
no single-partition global sort), so the politeness gate itself scales;
excess rows simply stay pending for the next wave. Fetch parallelism
within the budget is then free to spread across executors because the
*rate* is already capped by wave sizing.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# canonical crawl order (SURVEY.md §3.1): city, page it was discovered on,
# priority class (seed=0 < detail=1 < refresh=2 < pagination=3), on-page pos
CANONICAL_ORDER = ["city", "discovered_on_page", "priority", "page_pos", "url"]


@dataclass
class PolitenessConfig:
    crawl_delay_s: float = 2.0       # funda/settings.py:20-21
    max_concurrency: int = 2         # funda/settings.py:15-17
    retry_times: int = 5             # funda/settings.py:31
    # AutoThrottle (funda/settings.py:24-27: start 2 s, max 30 s) at
    # wave granularity: waves with fetch failures double the effective
    # delay (Scrapy never decreases on error responses); clean waves
    # decay halfway back toward the start delay. The budget formula
    # then uses the adaptive delay, so a throttled crawl takes smaller
    # waves until the site recovers.
    autothrottle: bool = False
    autothrottle_start_s: float = 2.0
    autothrottle_max_s: float = 30.0
    current_delay_s: float | None = None

    def effective_delay(self) -> float:
        if not self.autothrottle:
            return self.crawl_delay_s
        if self.current_delay_s is None:
            self.current_delay_s = max(self.crawl_delay_s, self.autothrottle_start_s)
        return self.current_delay_s

    def observe_wave(self, n_ok: int, n_failed: int) -> None:
        """Feed a wave's fetch outcome into the adaptive delay."""
        if not self.autothrottle:
            return
        d = self.effective_delay()
        floor_delay = max(self.crawl_delay_s, self.autothrottle_start_s)
        if n_failed > 0:
            self.current_delay_s = min(self.autothrottle_max_s, d * 2.0)
        else:
            self.current_delay_s = max(floor_delay, (d + floor_delay) / 2)

    def wave_budget(self, wave_seconds: float) -> int:
        return max(
            1, math.floor(wave_seconds / self.effective_delay() * self.max_concurrency)
        )


def select_wave(pending: DataFrame, budget: int | None, n_domains: int) -> DataFrame:
    """Take the next ≤budget frontier rows in canonical order, budget
    applied PER DOMAIN.

    Single-domain case (the reference's world): global top-k —
    TakeOrderedAndProject, no global sort. With many domains the same
    call runs per-domain via a rank window partitioned by ``domain`` —
    partitions are independent so no hot key. ``n_domains`` is the
    caller's count of domains present in the frontier (the CrawlRunner
    maintains it incrementally from seeds + discovered candidates).
    """
    ordered = [F.col(c) for c in CANONICAL_ORDER]
    if budget is None:
        return pending
    if n_domains <= 1:
        return pending.orderBy(*ordered).limit(budget)
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy(*ordered)
    return (
        pending.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= budget)
        .drop("_rk")
    )
