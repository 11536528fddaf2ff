"""Wave-driven crawl runner: the distributed twin of the Scrapy spider.

One **wave** = one micro-batch over the frontier (SURVEY.md §2.8 T1).
``CrawlRunner.step`` runs it as a sequence of phases:

  _select_fetch     pending frontier rows → politeness budget
                    (canonical-order top-k per domain) → distributed
                    fetch (a join against the synthetic web table)
  _discover         search pages parsed JVM-side → candidate listing
                    URLs (robots filter, intra-wave dedup)
  _seen             two-stage seen-set filter (cuckoo prefilter + exact
                    anti-join); refresh mode keeps every candidate and
                    dedups against refreshed_urls instead
  _transitions      selected rows → fetched | retry-pending | dropped
  _sink_documents   detail pages parsed into interleaved span sequences
                    (Arrow sink) → documents table
  _collect_stats    ONE union-tagged collect → WaveStats; the phase-1
                    commits (frontier_done, crawl_log, url_seen or
                    refreshed_urls, documents, response_cache) already
                    run in a thread pool under it
  stop_rules        pure driver function: stop counters → next pages
  _enqueue          new detail rows + next-page rows → frontier_pending
  _commit           checkpoint, compaction of the re-read delta
                    tables, unpersist

Lineage: crawl_log + per-wave metrics (incl. per-shard fetch counts —
the skew evidence for the salted single-host key).

Sequential-pagination semantics are preserved *structurally*: page p+1
is only discovered while parsing page p, so each city has at most one
pending search page per wave — the stop counters (3 consecutive empty
pages, 3/1 consecutive pages without new listings, max_pages;
funda_spider.py:39-42,127-145, funda_spider_sold.py:139-141) update on
a per-seed aggregate that stays O(#cities) regardless of frontier size.

Exact resume (T5): every table write is a new immutable snapshot
(tableformat.py); a wave commits by atomically writing
``checkpoint.json`` pinning each table's snapshot version. A crash
mid-wave leaves the previous checkpoint intact; reopening the runner
replays from the pinned versions, producing a final state identical to
an uninterrupted run (verified by tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_probe_band_index, plan_minhash_config
from ..schemas import (
    CRAWL_LOG_SCHEMA,
    DOCUMENTS_SCHEMA,
    FRONTIER_SCHEMA,
    NEARDUP_BANDS_SCHEMA,
    NEARDUP_PAIRS_SCHEMA,
    REFRESHED_URLS_SCHEMA,
    RESPONSE_CACHE_SCHEMA,
    SEARCH_FRONTIER_DDL,
    SINK_SUMMARY_DDL,
    URL_SEEN_SCHEMA,
    URLS_DDL,
    WAVE_METRICS_SCHEMA,
)
from ..tableformat import Warehouse
from . import PRIORITY_DETAIL, PRIORITY_PAGINATION, PRIORITY_REFRESH, PRIORITY_SEED
from .canonical import DEFAULT_N_SHARDS, with_url_keys
from .parse import parse_search_pages
from .politeness import PolitenessConfig, select_wave
from .robots import allowed_col, parse_robots
from .seen import filter_new_urls

MODES = ("crawl", "refresh")
SPIDER_TYPES = ("active", "sold")
# small-state snapshot files per commit (see CrawlRunner._write)
STATE_PARTITIONS = 4

# F3 (funda_spider.py:88-90,190-192): a 200 DETAIL response whose body
# carries the bot-verification interstitial is DROPPED permanently —
# parse_house returns without yielding and Scrapy retries only the HTTP
# codes in RETRY_HTTP_CODES, so no retry. A blocked SEARCH page is NOT
# dropped: the reference's parse() only checks the marker in the detail
# parsers, so an interstitial search page flows through as a page with
# zero listings — the empty-page counter and the manual ?page=N
# fallback handle it. (Only this one marker appears in the reference.)
BLOCK_MARKERS = ("Je bent bijna op de pagina die je zoekt",)


@dataclass
class CityState:
    city: str
    consecutive_empty: int = 0
    consecutive_no_new: int = 0
    stopped: bool = False


def stop_rules(
    city_states: dict[str, CityState],
    pages: dict[tuple[str, int], tuple[int, str | None]],
    new_counts: dict[tuple[str, int], int],
    seed_urls: dict[str, str],
    *,
    spider_type: str,
    refresh: bool,
    max_pages: int,
) -> list[tuple[str, str, int]]:
    """The sequential-pagination stop rules of one wave, on the driver.

    ``pages`` maps each fetched search page (city, page_idx) to its
    listing count and next-button URL (None when the page has no
    button); ``new_counts`` maps it to the listing URLs the seen filter
    kept. Updates ``city_states`` in place and returns the next search
    pages to enqueue as (url, city, page_idx), in page order."""
    next_pages: list[tuple[str, str, int]] = []
    for (city, page_idx), (n_listings, next_url) in sorted(pages.items()):
        st = city_states[city]
        if refresh:
            # collect_active_urls (funda_spider.py:492-504): no stop
            # counters, next button ONLY (no manual fallback)
            if page_idx >= max_pages or next_url is None:
                st.stopped = True
            elif not st.stopped:
                next_pages.append((next_url, city, page_idx + 1))
            continue
        if n_listings == 0:
            st.consecutive_empty += 1
            if spider_type == "active":
                # the active spider's no-new check also fires on empty
                # pages (funda_spider.py:139-145 falls through); the
                # sold spider's fires only on non-empty pages
                # (funda_spider_sold.py:139-141)
                st.consecutive_no_new += 1
        else:
            st.consecutive_empty = 0
            if new_counts.get((city, page_idx), 0) == 0:
                st.consecutive_no_new += 1
            else:
                st.consecutive_no_new = 0
        no_new_threshold = 3 if spider_type == "active" else 1
        if (
            st.consecutive_empty >= 3
            or st.consecutive_no_new >= no_new_threshold
            or page_idx >= max_pages
        ):
            st.stopped = True
        elif not st.stopped:
            # next button if present, else the manual ?page=N
            # construction (funda_spider.py:172-184 — a missing
            # button never stops the crawl; a past-the-end manual
            # page 404s and is dropped without retry)
            nxt = next_url or f"{seed_urls[city]}&page={page_idx + 1}"
            next_pages.append((nxt, city, page_idx + 1))
    return next_pages


_STATS_COLUMNS = {"k": "string", "i": "int", "n": "int", "s": "string"}


def _stats_leg(tag: str, df: DataFrame, **cols: str | Column) -> DataFrame:
    """One leg of the union-tagged stats frame: ``_t`` = tag, then the
    k/i/n/s columns taken from ``cols`` (a column name or expression),
    null where absent."""

    def column(name: str, dtype: str) -> Column:
        c = cols.get(name, F.lit(None))
        return (F.col(c) if isinstance(c, str) else c).cast(dtype).alias(name)

    return df.select(F.lit(tag).alias("_t"), *(column(n, t) for n, t in _STATS_COLUMNS.items()))


@dataclass
class WaveStats:
    """What the driver learns from a wave's one stats collect."""

    pages: dict[tuple[str, int], tuple[int, str | None]]  # search page -> (listings, next button)
    new_counts: dict[tuple[str, int], int]  # search page -> listing URLs kept by the seen filter
    shard_counts: dict[str, int]  # domain_shard -> pages fetched (skew lineage)
    n_search: int  # search pages fetched
    n_retry: int  # rows that stay pending as retries

    def metrics_row(self, wave: int) -> dict:
        n_pages = sum(self.shard_counts.values())
        return {
            "wave": wave,
            "pages_fetched": n_pages,
            "search_pages": self.n_search,
            "detail_pages": n_pages - self.n_search,
            "new_listing_urls": sum(self.new_counts.values()),
            "shard_counts": json.dumps(
                dict(sorted(self.shard_counts.items())), separators=(",", ":")
            ),
        }


@dataclass
class CrawlRunner:
    spark: SparkSession
    warehouse_root: str
    web: DataFrame                      # synthetic web: (url, html[, fail_until_attempt])
    spider_type: str = "active"         # active: no-new stop at 3; sold: at 1
    # 'crawl' = the full frontier pipeline; 'refresh' = the reference's
    # weekly URL-collection pass (funda_spider.py:455-528): search pages
    # only, looser '/koop/' path filter, NO seen filtering, NO detail
    # fetches, NO stop counters and NO manual pagination fallback —
    # collected URLs land in the refreshed_urls table and feed
    # lifecycle.mark_inactive_from_refresh (scheduler.go:214-254)
    mode: str = "crawl"
    # robots.txt body for the crawled domain (north rule: honor robots
    # + crawl-delay; the reference sets ROBOTSTXT_OBEY=False). When set,
    # disallowed URLs are filtered JVM-side before they ever enter the
    # frontier, and a Crawl-delay raises the politeness delay.
    robots_txt: str | None = None
    # RFC2616-style response cache (funda/settings.py:34-39 HTTPCACHE):
    # fetched bodies append to a response_cache table; subsequent waves
    # (or a seeded fresh crawl) serve hits from it without refetching.
    # Off by default — the reference's own crawl requests set
    # dont_cache=True (funda_spider.py:81 etc.), so the cache is an
    # opt-in, exactly as deployed.
    http_cache: bool = False
    response_cache_seed: DataFrame | None = None
    max_pages: int = 100
    politeness: PolitenessConfig = field(default_factory=PolitenessConfig)
    wave_seconds: float | None = None   # None -> unlimited budget per wave
    # seen-set size from which the cuckoo prefilter (crawl/cuckoo.py)
    # runs in front of the exact anti-join; below it a broadcast exact
    # anti-join is strictly faster. The crawl result is the same either
    # way (pinned by test).
    prefilter_min_seen: int = 200_000
    # fold delta snapshots into one base once this many accumulate since
    # the last compaction (Iceberg rewrite_data_files): bounds the
    # per-wave dir listing of url_seen / response_cache at O(compact_every)
    # instead of O(#waves-ever). Amortized rewrite cost per wave is
    # O(table)/compact_every.
    compact_every: int = 64
    # opt-in per-wave near-dup dedup: each wave's documents DELTA
    # probes the STORED minhash band index maintained across waves
    # (operators/dedup.minhash_probe_band_index — the production shape
    # of dedup_minhash_incremental), appends verified pairs to
    # 'neardup_pairs' and its own bands to 'neardup_bands'. Per-wave
    # cost is O(delta), never O(corpus); off by default so the crawl
    # headline bench is unaffected. A threshold plan_minhash_config
    # cannot serve at recall 0.9 (e.g. 0.1) is refused at construction.
    neardup_dedup: bool = False
    neardup_threshold: float = 0.5
    n_shards: int = DEFAULT_N_SHARDS
    # checkpointed crawl state: set by init() or loaded from checkpoint.json
    wave: int = field(default=0, init=False)
    seen_count: int = field(default=0, init=False)
    city_states: dict[str, CityState] = field(default_factory=dict, init=False)
    seed_urls: dict[str, str] = field(default_factory=dict, init=False)
    domains: set[str] = field(default_factory=set, init=False)
    _versions: dict[str, int] = field(default_factory=dict, init=False)
    # next wave's frontier emptiness when the last wave proved it (see
    # step); None = unknown, pay the isEmpty check
    _next_nonempty: bool | None = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        for name, allowed in (("mode", MODES), ("spider_type", SPIDER_TYPES)):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"CrawlRunner {name}={getattr(self, name)!r}; expected one of {allowed}"
                )
        if self.neardup_dedup:
            # the banded config must reach recall 0.9 at the threshold:
            # there is no low-recall fallback to run silently
            self._neardup_config = plan_minhash_config(self.neardup_threshold)
            if self._neardup_config is None:
                raise ValueError(
                    f"CrawlRunner neardup_threshold={self.neardup_threshold}: no "
                    f"banded MinHash config reaches recall 0.9 at that jaccard "
                    f"within the signature budget"
                )
        # the mode's search-path filter and frontier priorities; the
        # refresh pass uses the looser '/koop/' filter
        # (funda_spider.py:465-477)
        refresh = self.mode == "refresh"
        self._path_filter = "/koop/" if refresh else "/detail/koop/"
        self._seed_priority = PRIORITY_REFRESH if refresh else PRIORITY_SEED
        self._page_priority = PRIORITY_REFRESH if refresh else PRIORITY_PAGINATION
        self.wh = Warehouse(self.spark, self.warehouse_root)
        # the runner's own copy: robots and the adaptive delay write
        # into it, never into the caller's config
        self.politeness = replace(self.politeness)
        if "fail_until_attempt" not in self.web.columns:
            self.web = self.web.withColumn("fail_until_attempt", F.lit(0))
        # executor-side page rendering: detail rows may ship as compact
        # specs (url, spec) rendered inside the fetch stage — the web at
        # frontier scale never materializes on the driver
        self._has_spec = "spec" in self.web.columns
        self._robots = None if self.robots_txt is None else parse_robots(self.robots_txt)
        if self._robots is not None and self._robots.crawl_delay is not None:
            self.politeness.crawl_delay_s = max(
                self.politeness.crawl_delay_s, self._robots.crawl_delay
            )
        state = self.wh.read_meta("checkpoint.json")
        if state is not None:
            self._load_checkpoint(state)

    def _robots_filter(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        if self._robots is None:
            return df
        return df.filter(allowed_col(F.col(url_col), self._robots))

    # ---- checkpointing ----------------------------------------------------
    def _write_checkpoint(self) -> None:
        state = {
            "wave": self.wave,
            "spider_type": self.spider_type,
            "n_shards": self.n_shards,
            "seen_count": self.seen_count,
            "seed_urls": self.seed_urls,
            "domains": sorted(self.domains),
            "current_delay_s": self.politeness.current_delay_s,
            "versions": self._versions,
            "cities": {
                c: {
                    "consecutive_empty": s.consecutive_empty,
                    "consecutive_no_new": s.consecutive_no_new,
                    "stopped": s.stopped,
                }
                for c, s in self.city_states.items()
            },
        }
        self.wh.write_meta("checkpoint.json", state)

    def _load_checkpoint(self, state: dict) -> None:
        # url_seen rows carry the domain_shard they were keyed under: a
        # different n_shards makes the per-shard seen filter call every
        # candidate new, re-fetching pages and duplicating url_seen rows.
        # spider_type sets the stop rule the recorded per-city no-new
        # counters were kept under (stop_rules). Checkpoints written
        # before a field existed load as before.
        for key in ("n_shards", "spider_type"):
            recorded, current = state.get(key, getattr(self, key)), getattr(self, key)
            if recorded != current:
                raise ValueError(
                    f"checkpoint in {self.warehouse_root} was written with "
                    f"{key}={recorded!r}; refusing to resume with {key}={current!r}"
                )
        self.wave = state["wave"]
        self._next_nonempty = None
        self.seen_count = state.get("seen_count", 0)
        self.seed_urls = state.get("seed_urls", {})
        self.domains = set(state.get("domains", []))
        if state.get("current_delay_s") is not None:
            self.politeness.current_delay_s = state["current_delay_s"]
        self._versions = state["versions"]
        # prune snapshots newer than the pinned versions (mid-wave crash
        # leaves orphan data commits without a checkpoint commit)
        for name, v in self._versions.items():
            self.wh.rollback(name, v)
        self.city_states = {
            c: CityState(city=c, **v) for c, v in state["cities"].items()
        }

    DELTA_TABLES = (
        "url_seen",
        "documents",
        "crawl_log",
        "wave_metrics",
        "refreshed_urls",
        "frontier_done",
        "response_cache",
        "neardup_bands",
        "neardup_pairs",
    )

    def _read(self, name: str) -> DataFrame:
        return self.wh.read(name, version=self._versions[name])

    def _read_deltas(self, name: str) -> DataFrame:
        return self.wh.read_deltas(name, version=self._versions[name])

    SMALL_TABLES = (
        "frontier_pending",
        "frontier_done",
        "url_seen",
        "crawl_log",
        "wave_metrics",
    )

    def _write(self, name: str, df: DataFrame) -> None:
        if name in self.SMALL_TABLES:
            # coalesce bounds snapshot file counts. The write stage runs
            # in STATE_PARTITIONS tasks with repartition too; the shuffle
            # only added one more job per commit
            df = df.coalesce(STATE_PARTITIONS)
        self._versions[name] = self.wh.overwrite(name, df)

    def _append_delta(self, name: str, df: DataFrame) -> None:
        if name in self.SMALL_TABLES:
            df = df.coalesce(STATE_PARTITIONS)
        self._versions[name] = self.wh.append_delta(name, df)

    def _search_rows(
        self, pages: list[tuple[str, str, int]], priority: int, wave: int
    ) -> DataFrame:
        """Pending frontier rows for the search pages (url, city,
        page_idx), enqueued in ``wave``."""
        df = self.spark.createDataFrame(
            [(u, "search", priority, c, p, p - 1, 0, 0, "pending") for (u, c, p) in pages],
            SEARCH_FRONTIER_DDL,
        )
        return (
            with_url_keys(df, n_shards=self.n_shards)
            .withColumn("wave_enqueued", F.lit(wave))
            .select(*FRONTIER_SCHEMA.fieldNames())
        )

    # ---- initialization ----------------------------------------------------
    def init(
        self,
        seeds: list[tuple[str, str]],
        existing_urls: list[str] | DataFrame | None = None,
    ) -> None:
        """seeds: [(seed_search_url, city)]; existing_urls: pre-seen set
        (the DB-backed set, funda_spider.py:46) — a driver-side list or,
        at scale, a one-column DataFrame of urls that never touches the
        driver."""
        spark = self.spark
        frontier = self._robots_filter(
            self._search_rows([(u, c, 1) for (u, c) in seeds], self._seed_priority, 0)
        )
        # frontier state is SPLIT: 'frontier_pending' holds only rows
        # still to fetch (rewritten per wave — O(pending)); rows that
        # reach a terminal state append once to the 'frontier_done' log
        # and are never rewritten. The old single-table design rewrote
        # the entire (monotonically growing) frontier every wave —
        # O(total history) I/O per wave, the #1 scale debt flagged in
        # round 1.
        inits = [("frontier_pending", frontier)]

        if isinstance(existing_urls, DataFrame):
            # init() is a RESET that drops every table under the
            # warehouse root below — but the natural at-scale source
            # for existing_urls is a PREVIOUS run's url_seen table in
            # that same root, whose files the drop loop would delete
            # before this lazy plan is evaluated by the bootstrap
            # snapshot. Materialize the snapshot eagerly (executor
            # block storage, lineage truncated) so the seen set is
            # pinned before anything is dropped.
            seen_src = existing_urls.select(
                F.col(existing_urls.columns[0]).alias("url")
            ).localCheckpoint(eager=True)
            n_seen = seen_src.count()
        else:
            seen_src = spark.createDataFrame(
                [(u,) for u in (existing_urls or [])], URLS_DDL
            )
            n_seen = len(existing_urls or [])
        seen = (
            with_url_keys(seen_src, n_shards=self.n_shards)
            .withColumn("first_seen_wave", F.lit(-1))
            .select(*URL_SEEN_SCHEMA.fieldNames())
        )
        inits.append(("url_seen", seen))
        # empty bootstrap tables are written on the driver with pyarrow
        # (Warehouse.append_delta_rows): zero Spark jobs. The seeded
        # tables need Spark: their url keys are Spark's xxhash64
        empties = [
            ("frontier_done", FRONTIER_SCHEMA),
            ("documents", DOCUMENTS_SCHEMA),
            ("crawl_log", CRAWL_LOG_SCHEMA),
            ("wave_metrics", WAVE_METRICS_SCHEMA),
            ("refreshed_urls", REFRESHED_URLS_SCHEMA),
        ]
        if self.neardup_dedup:
            empties += [
                ("neardup_bands", NEARDUP_BANDS_SCHEMA),
                ("neardup_pairs", NEARDUP_PAIRS_SCHEMA),
            ]
        if self.http_cache:
            cache0 = self.response_cache_seed
            if cache0 is None:
                empties.append(("response_cache", RESPONSE_CACHE_SCHEMA))
            else:
                cache0 = cache0.select("url", "html").withColumn("wave", F.lit(0))
                inits.append(("response_cache", cache0))
        # init is a RESET: the scheduler reuses one warehouse root
        # across ticks, and delta tables union EVERY snapshot since the
        # floor — a leftover run's rows would leak into read_deltas (a
        # reused root reported the previous run's wave_metrics/documents
        # as this run's). Drop the table dirs (and any stale checkpoint
        # pins) before the bootstrap snapshots.
        self._versions = {}
        for name, _ in inits + empties:
            self.wh.drop(name)
        if not self.http_cache:
            self.wh.drop("response_cache")
        if not self.neardup_dedup:
            self.wh.drop("neardup_bands")
            self.wh.drop("neardup_pairs")
        # ...and the scalar state a stale checkpoint may have restored
        # in __init__. The prefilter sizing hint restarts at the
        # bootstrap's url_seen rows, so a large pre-seen set engages the
        # prefilter
        self.seen_count = n_seen
        self.politeness.current_delay_s = None  # re-derives lazily
        self._next_nonempty = None
        for name, schema in empties:
            self._versions[name] = self.wh.append_delta_rows(name, [], schema)
        # the Spark-written bootstrap snapshots are independent: commit
        # them concurrently (same driver-thread trick as the per-wave
        # writes)
        with ThreadPoolExecutor(max_workers=len(inits)) as ex:
            futures = [ex.submit(self._write, name, df) for (name, df) in inits]
            for fu in futures:
                fu.result()
        self.city_states = {city: CityState(city=city) for (_, city) in seeds}
        # base search URL per city — the manual ?page=N pagination
        # fallback (funda_spider.py:172-184) appends to this
        self.seed_urls = {city: url for (url, city) in seeds}
        self.domains = {
            m.group(1)
            for (url, _) in seeds
            if (m := re.match(r"^https?://([^/]+)/", url))
        }
        self.wave = 0
        self._write_checkpoint()

    # ---- one wave ----------------------------------------------------------
    def step(self) -> bool:
        """Advance one wave. Returns False when the frontier is drained."""
        # The previous wave's stats may already decide this wave's
        # emptiness (exact accounting: with no politeness budget
        # selected == pending, untouched == 0, and the enqueued count =
        # retry-pending + pagination + detail rows is known driver-side —
        # see the `_next_nonempty` update below). False skips this
        # step's reads and isEmpty job, True skips the isEmpty driver
        # round-trip (~0.15 s/wave of fixed latency). The flag is
        # consumed here; resume, init and budgeted waves leave it None
        # and pay the check.
        known, self._next_nonempty = self._next_nonempty, None
        if known is False:
            return False
        wave = self.wave + 1
        pending = self._read("frontier_pending")
        budget = (
            None
            if self.wave_seconds is None
            else self.politeness.wave_budget(self.wave_seconds)
        )
        selected, fetched = self._select_fetch(pending, budget, known)
        if fetched is None:
            return False
        parsed, candidates = self._discover(fetched)
        new_cands, seen_writes = self._seen(candidates, fetched, wave)
        transitioned, untouched = self._transitions(pending, selected, fetched)

        # --- phase-1 snapshot commits: everything that does NOT depend on
        # the stop rules launches BEFORE the driver's stats round-trip, so
        # executor work (the heavy documents sink above all) runs UNDER the
        # driver-side collect instead of after it. Driver latency is the
        # non-scaling fraction of a wave; hiding it is a direct N->4N
        # efficiency win. (Spark schedulers are thread-safe; the tables
        # stay independent until the checkpoint pins them together.)
        # retries stay pending; terminal rows append ONCE to the done log
        done_rows = transitioned.filter(F.col("state") != "pending")
        log_rows = fetched.filter(F.col("fetch_ok")).select(
            "url", "kind", "city", "discovered_on_page", "priority", "page_pos",
            F.lit(wave).alias("wave_fetched"),
        )
        writes = [
            (self._append_delta, "frontier_done", done_rows),
            (self._append_delta, "crawl_log", log_rows),
            *seen_writes,
        ]
        if self.http_cache:
            cache_add = fetched.filter(
                F.col("fetch_ok") & ~F.col("cache_hit") & F.col("html").isNotNull()
            ).select("url", "html", F.lit(wave).alias("wave"))
            writes.append((self._append_delta, "response_cache", cache_add))
        pool = ThreadPoolExecutor(max_workers=8)
        try:
            futures = [pool.submit(*w) for w in writes]
            stats = self._collect_stats(parsed, new_cands, fetched)
            next_pages = stop_rules(
                self.city_states, stats.pages, stats.new_counts, self.seed_urls,
                spider_type=self.spider_type, refresh=self.mode == "refresh",
                max_pages=self.max_pages,
            )
            new_pending, n_details, n_pages = self._enqueue(
                untouched, transitioned, new_cands, stats, next_pages, wave
            )
            futures.append(pool.submit(self._write, "frontier_pending", new_pending))
            # exact next-wave emptiness: with no budget, selected ==
            # pending so untouched == 0, and the rebuilt frontier is
            # retries + enqueued rows. Only this exact evidence may
            # decide next wave's emptiness; budgeted waves leave None
            # (untouched unknown).
            if budget is None:
                self._next_nonempty = stats.n_retry + n_details + n_pages > 0
            # wave_metrics is ONE row — append it driver-side with pyarrow
            # (tableformat.append_delta_rows): zero Spark jobs, zero
            # scheduling round-trips, identical on-disk shape for readers
            self._versions["wave_metrics"] = self.wh.append_delta_rows(
                "wave_metrics", [stats.metrics_row(wave)], WAVE_METRICS_SCHEMA
            )
            for fu in futures:
                fu.result()
        finally:
            # always reap the pool — including on an exception
            # raised anywhere between the phase-1 submits and the
            # result loop (stats collect, stop rules): a leaked
            # non-daemon worker would keep snapshot writes running
            # unsupervised and block interpreter exit. Checkpoint
            # is only written on full success, so a partial wave
            # rolls back on reopen.
            pool.shutdown(wait=True)
        # url_seen grew by exactly the detail rows enqueued (none in
        # refresh mode, which appends to refreshed_urls instead)
        self.seen_count += n_details
        if self.neardup_dedup and self.mode != "refresh":
            self._neardup_wave(wave)
        self._commit(wave, (selected, fetched, parsed, new_cands, transitioned))
        return True

    def _select_fetch(
        self, pending: DataFrame, budget: int | None, known: bool | None
    ) -> tuple[DataFrame, DataFrame | None]:
        """Select+fetch phase: the wave's politeness-budgeted rows and
        their fetch outcomes (both cached), or (selected, None) when
        the frontier turns out empty."""
        selected = select_wave(
            pending, budget, n_domains=max(len(self.domains), 1)
        ).cache()
        if known is None and selected.isEmpty():
            selected.unpersist()
            return selected, None

        # one fetch join per wave; the cache is columnar so bookkeeping
        # scans that don't select `html` never deserialize the payload
        # explicit repartition: AQE's size-based coalescing sees only the
        # (small) pre-render spec/html bytes at the join and would collapse
        # the size-expanding render+parse UDFs onto a handful of tasks
        src = selected
        if self.http_cache:
            cache = self._read_deltas("response_cache").select(
                "url", F.col("html").alias("_cached_html")
            )
            src = src.join(cache, "url", "left")
        else:
            src = src.withColumn("_cached_html", F.lit(None).cast("string"))
        fetched = (
            src.join(self.web, "url", "left")
            .repartition(self.spark.sparkContext.defaultParallelism)
            .withColumn("html", F.coalesce(F.col("_cached_html"), F.col("html")))
        )
        # spec rows (executor-side rendering) keep their compact spec:
        # render+parse happen FUSED in the documents sink, so the heavy
        # page body never materializes JVM-side
        has_body = F.col("html").isNotNull()
        if self._has_spec:
            has_body = has_body | F.col("spec").isNotNull()
        blocked = F.lit(False)
        for marker in BLOCK_MARKERS:
            blocked = blocked | F.coalesce(F.col("html").contains(marker), F.lit(False))
        # the blocked-drop applies to detail pages only (see BLOCK_MARKERS)
        blocked = blocked & (F.col("kind") == "detail")
        # outcome classes, matching the reference's Scrapy stack:
        #   fetch_ok  — 200 with a real body
        #   retryable — transient HTTP failure (RETRY_HTTP_CODES); the
        #               synthetic web models these as fail_until_attempt
        #   dropped   — 404 (URL not in the web table) or the bot
        #               interstitial body: permanent, never retried
        fail_until = F.coalesce(F.col("fail_until_attempt"), F.lit(0))
        cache_hit = F.col("_cached_html").isNotNull()
        fetched = (
            fetched.withColumn(
                "fetch_ok",
                has_body
                & ~blocked
                & (cache_hit | (F.col("attempt") >= fail_until)),
            )
            .withColumn(
                "retryable",
                has_body
                & ~blocked
                & ~cache_hit
                & (F.col("attempt") < fail_until),
            )
            .withColumn("cache_hit", cache_hit)
            .cache()
        )
        return selected, fetched

    def _discover(self, fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Discover phase: the fetched search pages parsed (cached) and
        their listing URLs, robots-filtered and deduplicated within the
        wave."""
        search_ok = fetched.filter((F.col("kind") == "search") & F.col("fetch_ok"))
        parsed = parse_search_pages(search_ok, path_filter=self._path_filter).cache()
        candidates = (
            parsed.select(
                "city",
                F.col("page_idx").alias("discovered_on_page"),
                F.posexplode_outer("listing_urls").alias("page_pos", "cand_url"),
            )
            .filter(F.col("cand_url").isNotNull())
            .withColumnRenamed("cand_url", "url")
        )
        candidates = self._robots_filter(
            with_url_keys(candidates, n_shards=self.n_shards)
        )
        # intra-wave dedup, keeping the canonically-first occurrence.
        # min(struct(...)) instead of a row_number window: the struct
        # min is PARTIAL-aggregable (map-side combine collapses dups
        # before the exchange, no per-url sort), while the window needs
        # a full shuffle+sort of every candidate row. The trailing
        # struct fields (url_hash/domain/shard) are functions of url —
        # identical across dups — so the lexicographic struct order is
        # exactly (city, discovered_on_page, page_pos).
        candidates = (
            candidates.groupBy("url")
            .agg(
                F.min(
                    F.struct(
                        "city", "discovered_on_page", "page_pos",
                        "url_hash", "domain", "domain_shard",
                    )
                ).alias("_s")
            )
            .select("url", "_s.*")
        )
        return parsed, candidates

    def _seen(
        self, candidates: DataFrame, fetched: DataFrame, wave: int
    ) -> tuple[DataFrame, list[tuple]]:
        """Seen phase: the candidates this wave keeps (cached) and the
        mode's own phase-1 commits, as (function, *args) pool tasks."""
        if self.mode == "refresh":
            # refresh mode collects ALL found URLs — no seen filtering
            # (collect_active_urls has none, funda_spider.py:488-490) —
            # and fetches no detail pages, so it sinks no documents.
            # Cross-wave dedup: a URL listed on search pages of several
            # waves (listings shifting between pages) must land in
            # refreshed_urls ONCE, like the reference's active_urls SET
            # (funda_spider.py:488-504) — anti-join against the deltas
            # already appended (intra-wave dedup happened in _discover)
            new_cands = candidates.cache()
            refreshed = new_cands.select(
                "url",
                "city",
                F.col("discovered_on_page").alias("found_on_page"),
                F.lit(wave).alias("wave"),
            ).join(
                self._read_deltas("refreshed_urls").select("url"), "url", "left_anti"
            )
            return new_cands, [(self._append_delta, "refreshed_urls", refreshed)]
        # the prefilter pays for itself only on huge seen sets (see
        # prefilter_min_seen)
        new_cands = filter_new_urls(
            candidates,
            self._read_deltas("url_seen"),
            prefilter_keys=(
                self.seen_count if self.seen_count >= self.prefilter_min_seen else None
            ),
            n_shards=self.n_shards,
        ).cache()
        seen_add = new_cands.select(
            "url", "url_hash", "domain_shard", F.lit(wave).alias("first_seen_wave")
        )
        return new_cands, [
            (self._append_delta, "url_seen", seen_add),
            (self._sink_documents, fetched, wave),
        ]

    def _transitions(
        self, pending: DataFrame, selected: DataFrame, fetched: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Frontier-transition phase (stats-independent): the selected
        rows with their new state and attempt (cached), and the pending
        rows this wave left untouched."""
        outcome = fetched.select(
            "url",
            F.col("fetch_ok"),
            F.col("retryable"),
            (F.col("attempt") + 1).alias("next_attempt"),
        )
        untouched = pending.join(selected.select("url"), "url", "left_anti")
        transitioned = (
            selected.drop("state", "attempt")
            .join(outcome, "url")
            .withColumn(
                "state",
                F.when(F.col("fetch_ok"), F.lit("fetched"))
                .when(
                    F.col("retryable")
                    & (F.col("next_attempt") <= F.lit(self.politeness.retry_times)),
                    F.lit("pending"),
                )
                .otherwise(F.lit("dropped")),
            )
            .withColumn("attempt", F.col("next_attempt"))
            .select(*FRONTIER_SCHEMA.fieldNames())
        ).cache()
        return transitioned, untouched

    def _sink_documents(self, fetched: DataFrame, wave: int) -> None:
        """Documents phase: the wave's fetched detail pages become one
        documents snapshot of interleaved span rows.

        A fused SINK, not a UDF projection (docsink.py): the Python
        worker renders (spec pages) / receives the body, parses the
        interleaved spans columnar, and parquet-encodes straight into
        the snapshot dir. Span bytes cross zero exchanges and never
        return to the JVM — only a one-row-per-task file manifest
        does (the Iceberg task-file commit shape). This is what keeps
        per-page DRAM traffic flat as executors are added."""
        from .docsink import make_documents_sink, write_empty_documents

        doc_cols = ["url", "html", "city", "discovered_on_page", "page_pos"]
        if self._has_spec:
            doc_cols.insert(1, "spec")
        docs = fetched.filter((F.col("kind") == "detail") & F.col("fetch_ok")).select(*doc_cols)

        def job(out_dir: str) -> list[str]:
            sink = make_documents_sink(out_dir, wave, self._has_spec)
            files = [r["file"] for r in docs.mapInArrow(sink, SINK_SUMMARY_DDL).collect()]
            return files or [os.path.basename(write_empty_documents(out_dir))]

        self._versions["documents"] = self.wh.append_delta_files("documents", job)

    def _collect_stats(
        self, parsed: DataFrame, new_cands: DataFrame, fetched: DataFrame
    ) -> WaveStats:
        """Stats phase: ONE union-tagged collect (O(#cities)+O(#shards)
        rows) for all per-wave driver bookkeeping:
          p: per-search-page listing count + next-page url (stop rules)
          n: per-page NEW-url count after the seen filter (stop rules)
          s: per-shard fetched-page counts (skew lineage, wave_metrics)
          r: rows that will STAY pending as retries (next wave's
             isEmpty skip: exact frontier accounting)
          d: newly seen domains (only when a politeness budget is active)
          t: AutoThrottle ok/retryable tallies (only when throttling)
        Separate jobs here were the dominant fixed cost per wave — each
        driver round-trip is wall time that no added executor removes.
        The d and t rows feed the politeness state here."""
        retry_pending = F.col("retryable") & (
            F.col("attempt") + 1 <= F.lit(self.politeness.retry_times)
        )
        legs = [
            _stats_leg("p", parsed, k="city", i="page_idx",
                       n=F.size("listing_urls"), s="next_page"),
            _stats_leg("n", new_cands.groupBy("city", "discovered_on_page").agg(
                F.count("*").alias("n")), k="city", i="discovered_on_page", n="n"),
            _stats_leg("s", fetched.filter(F.col("fetch_ok")).groupBy("domain_shard").agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("kind") == "search", 1)).alias("i"),
            ), k="domain_shard", i="i", n="n"),
            _stats_leg("r", fetched.agg(F.count(F.when(retry_pending, 1)).alias("n")), n="n"),
        ]
        if self.wave_seconds is not None:
            legs.append(_stats_leg("d", new_cands.select("domain").distinct(), k="domain"))
            if self.politeness.autothrottle:
                # Only RETRYABLE failures count — permanent misses (a
                # past-the-end manual-pagination 404, a dropped
                # interstitial) are not server distress and Scrapy's
                # AutoThrottle never backs off on them
                legs.append(_stats_leg("t", fetched.agg(
                    F.count(F.when(F.col("retryable"), 1)).alias("i"),
                    F.count(F.when(F.col("fetch_ok"), 1)).alias("n"),
                ), i="i", n="n"))
        rows = reduce(DataFrame.unionByName, legs).collect()
        self.domains.update(r["k"] for r in rows if r["_t"] == "d")
        for t in (r for r in rows if r["_t"] == "t"):
            self.politeness.observe_wave(t["n"], t["i"])
        return WaveStats(
            pages={(r["k"], r["i"]): (r["n"] or 0, r["s"]) for r in rows if r["_t"] == "p"},
            new_counts={(r["k"], r["i"]): r["n"] for r in rows if r["_t"] == "n"},
            shard_counts={r["k"]: r["n"] for r in rows if r["_t"] == "s"},
            n_search=sum(r["i"] for r in rows if r["_t"] == "s"),
            n_retry=next(r["n"] for r in rows if r["_t"] == "r"),
        )

    def _enqueue(
        self,
        untouched: DataFrame,
        transitioned: DataFrame,
        new_cands: DataFrame,
        stats: WaveStats,
        next_pages: list[tuple[str, str, int]],
        wave: int,
    ) -> tuple[DataFrame, int, int]:
        """Enqueue phase: the next pending frontier = untouched +
        retries + this wave's new detail and search rows. Returns it
        with the number of detail rows and of search rows enqueued."""
        pending = untouched.unionByName(transitioned.filter(F.col("state") == "pending"))
        n_details = 0
        if self.mode == "crawl":
            # refresh mode fetches no detail pages: its collected URLs
            # went to the refreshed_urls table instead
            n_details = sum(stats.new_counts.values())
            pending = pending.unionByName(new_cands.select(
                "url",
                "url_hash",
                "domain",
                "domain_shard",
                F.lit("detail").alias("kind"),
                F.lit(PRIORITY_DETAIL).alias("priority"),
                "city",
                F.col("discovered_on_page").alias("page_idx"),
                "discovered_on_page",
                "page_pos",
                F.lit(wave).alias("wave_enqueued"),
                F.lit(0).alias("attempt"),
                F.lit("pending").alias("state"),
            ))
        if self._robots is not None:
            next_pages = [
                (u, c, p)
                for (u, c, p) in next_pages
                if self._robots.allowed(re.sub(r"^https?://[^/]+", "", u))
            ]
        if next_pages:
            pending = pending.unionByName(
                self._search_rows(next_pages, self._page_priority, wave)
            )
        return pending, n_details, len(next_pages)

    def _commit(self, wave: int, cached: tuple[DataFrame, ...]) -> None:
        """Commit phase: pin the wave's snapshots in the checkpoint,
        compact the delta tables read every wave, drop the wave's
        caches."""
        self.wave = wave
        self._write_checkpoint()
        # compact the delta tables that are re-read EVERY wave, up to the
        # version the checkpoint just pinned (never past a durable commit:
        # resume rolls back only to >= the floor, contract kept)
        compact_names = ["url_seen", "response_cache", "refreshed_urls"]
        if self.neardup_dedup:
            # the hook re-reads documents AND the band index every wave
            compact_names += ["documents", "neardup_bands"]
        for name in compact_names:
            v = self._versions.get(name)
            if v is not None and v - self.wh.compaction_floor(name) >= self.compact_every:
                self.wh.compact_deltas(name, upto=v)
        for df in cached:
            df.unpersist()

    @staticmethod
    def _doc_text(docs: DataFrame) -> DataFrame:
        """(doc_id, wave, text): a document's text = its text spans in
        offset order, space-joined — the near-dup unit."""
        return docs.select(
            "doc_id",
            "wave",
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                        lambda a, b: a["offset"] - b["offset"],
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text"),
        )

    def _neardup_wave(self, wave: int) -> None:
        """Dedup this wave's documents DELTA against the stored band
        index with one minhash_probe_band_index step: the probe side is
        O(wave docs), verification shingles only docs appearing in a
        candidate pair, and the wave's own bands append to the index
        for every future wave. Cumulative neardup_pairs across waves
        provably equals the full-corpus minhash_lsh_pairs set (pinned
        by test_crawl_neardup)."""
        k, bands = self._neardup_config
        texts_all = self._doc_text(self._read_deltas("documents"))
        delta = texts_all.filter(F.col("wave") == wave).select("doc_id", "text")
        pairs, delta_bands = minhash_probe_band_index(
            delta,
            self._read_deltas("neardup_bands"),
            texts_all.select("doc_id", "text"),
            threshold=self.neardup_threshold,
            k=k,
            bands=bands,
        )
        self._append_delta(
            "neardup_pairs", pairs.withColumn("wave", F.lit(wave))
        )
        self._append_delta("neardup_bands", delta_bands)

    def run(self, max_waves: int = 1000) -> int:
        """Drain the frontier; returns the number of waves executed."""
        executed = 0
        while executed < max_waves and self.step():
            executed += 1
        return executed

    # ---- convenience readers ------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name == "frontier":  # logical view over the pending/done split
            return self._read("frontier_pending").unionByName(
                self._read_deltas("frontier_done")
            )
        if name in self.DELTA_TABLES:
            return self._read_deltas(name)
        return self._read(name)
