"""The ``crawl_recrawl`` workload: an hourly re-crawl of a known site.

This is the reference spider's steady state: it loads the DB-backed
seen set at start (``existing_urls``) and then fetches mostly search
pages, because nearly every listing on them is already known.

Inputs (seeded): a synthetic funda-style site of ``cities`` x
``listings`` with executor-side page rendering (``spec_web_rows``), and
a pre-seen set holding every listing except the newest five per city
plus ``historical`` deterministic URLs of listings no longer online.

One operation is a drain: ``init(seeds, existing_urls=pre-seen)`` then
``step()`` until the frontier is empty, in a fresh warehouse. Per city
it fetches four search pages (the fourth is the third in a row without
new listings, which stops the city) and five detail pages, over four
waves.

Set-up starts the session, builds the inputs three times (the median
counts) and runs one untimed drain, so JIT warm-up and Python-worker
spawn stay out of the timed drains. The timed body drains in a closed
loop with one client. Afterwards every drain is checked: it fetched the
expected pages, exactly the newest five listings per city became
documents, their span sequences equal ``reference_sim.parse_spans`` of
the rendered page, and ``url_seen`` grew by exactly that many rows.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from .harness import (
    Context,
    closed_loop,
    geomean,
    log,
    n_cores,
    peak_rss_mb,
    rebuild,
    record_overhead,
    record_setup,
    remove_tree,
    start_session,
    timed,
)
from .trace import StageMetrics, Tracer


@dataclass(frozen=True)
class Sizes:
    cities: int
    listings: int
    historical: int


SIZES = {
    "full": Sizes(cities=8, listings=200, historical=150_000),
    "tiny": Sizes(cities=2, listings=200, historical=20_000),
}
PAGE_SIZE = 50
NEW_PER_CITY = 5
RECRAWL_PAGES_PER_CITY = 4
DESC_WORDS = 24
WRITES = ("append_delta_files", "append_delta", "overwrite", "append_delta_rows")
TABLEFORMAT = WRITES + ("read_deltas", "compact_deltas")

LAYER_METRICS = (
    "runner.init_s",
    "runner.step_s",
    "runner.step_self_s",
    "runner.step_children_s",
    "runner.seen_count_after_init",
    "politeness.select_wave_s",
    "parse.parse_search_pages_s",
    "seen.filter_new_urls_s",
    "seen.materialize_s",
    "seen.spark_executor_run_s",
    "seen.candidates",
    "seen.new_urls",
    "seen.new_ratio",
    "url_seen.rows",
    *(f"tableformat.{m}_s" for m in TABLEFORMAT),
    "tableformat.commits",
    "tableformat.bytes_written",
    "docsink.bytes_per_doc",
    "spark.jobs_per_wave",
    "spark.stages_per_wave",
    "spark.tasks_per_wave",
    "crawl.waves",
    "crawl.pages",
)


@dataclass
class Inputs:
    site: object
    web: object
    preseen: object
    n_preseen: int
    newest: set[str]
    seeds: list[tuple[str, str]]
    by_url: dict[str, object]


@dataclass
class Drain:
    root: str
    runner: object
    wall_s: float = float("nan")
    waves: list[float] = field(default_factory=list)
    seen_after_init: int = -1


def build_inputs(spark, seed: int, sizes: Sizes) -> Inputs:
    from pyspark.sql import functions as F

    from fundamental_spark.synth.site import BASE, build_site, spec_web_rows

    site = build_site(
        seed=seed,
        cities=tuple(f"city{i:03d}" for i in range(sizes.cities)),
        listings_per_city=sizes.listings,
        page_size=PAGE_SIZE,
        description_words=DESC_WORDS,
        render_details=False,
    )
    rows, _ = spec_web_rows(site, description_words=DESC_WORDS)
    web = spark.createDataFrame(rows, "url string, html string, spec string")
    web = web.repartition(n_cores()).cache()
    web.count()
    newest = {u for c in site.cities for u in site.pages_by_city[c][0][1][:NEW_PER_CITY]}
    known = [(l.url,) for l in site.listings if l.url not in newest]
    historical = spark.range(sizes.historical, numPartitions=n_cores()).select(
        F.concat(
            F.lit(f"{BASE}/detail/koop/archief/huis-"),
            F.pmod(F.xxhash64(F.lit(seed), "id"), F.lit(10**12)).cast("string"),
            F.lit("/"),
            (F.col("id") + 90_000_000).cast("string"),
            F.lit("/"),
        ).alias("url")
    )
    preseen = (
        spark.createDataFrame(known, "url string")
        .unionByName(historical)
        .repartition(n_cores())
        .cache()
    )
    n_preseen = preseen.count()
    seeds = [(site.search_url(c, 1), c) for c in site.cities]
    by_url = {l.url: l for l in site.listings}
    return Inputs(site, web, preseen, n_preseen, newest, seeds, by_url)


def discard_inputs(inp: Inputs) -> None:
    inp.web.unpersist()
    inp.preseen.unpersist()


def drain(ctx: Context, inp: Inputs, existing, tracer: Tracer | None) -> Drain:
    """One crawl from ``init`` until the frontier is empty, in a fresh warehouse."""
    from fundamental_spark.crawl.runner import CrawlRunner

    def span(name: str, key: str | None = None):
        return tracer.span(name, key, root=True) if tracer is not None else nullcontext()

    d = Drain(ctx.scratch("wh-"), None)
    ctx.attempted += 1
    try:
        t0 = time.perf_counter()
        d.runner = CrawlRunner(
            spark=ctx.spark, warehouse_root=d.root, web=inp.web, spider_type="active"
        )
        with span("runner.init"):
            d.runner.init(inp.seeds, existing_urls=existing)
        d.seen_after_init = d.runner.seen_count
        while True:
            t = time.perf_counter()
            with span("runner.step", str(d.runner.wave + 1)) as idx:
                more = d.runner.step()
            if not more:
                if idx is not None:  # the last call only finds the frontier empty
                    tracer.spans[idx].name = "runner.step_empty"
                break
            d.waves.append(time.perf_counter() - t)
        d.wall_s = time.perf_counter() - t0
    except Exception:
        ctx.failed += 1
        traceback.print_exc(file=sys.stderr)
        d.runner = None
    return d


# ---- output checks ----------------------------------------------------------


def _pages(d: Drain) -> int:
    return sum(r["pages_fetched"] for r in d.runner.table("wave_metrics").collect())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


def check_recrawl(ctx: Context, inp: Inputs, d: Drain) -> int:
    """Check one re-crawl; returns the pages it fetched."""
    from fundamental_spark.synth.reference_sim import parse_spans
    from fundamental_spark.synth.site import listing_spec, render_from_spec

    pages = _pages(d)
    want = RECRAWL_PAGES_PER_CITY * len(inp.site.cities) + len(inp.newest)
    ctx.check(pages == want, f"re-crawl fetched {want} pages, got {pages}")
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in d.runner.table("documents").collect()
    }
    if ctx.plant_wrong:
        docs.pop(min(docs))
    ctx.check(set(docs) == inp.newest, "re-crawl documents = the newest listings")
    for url in sorted(inp.newest & set(docs)):
        html = render_from_spec(listing_spec(inp.by_url[url], inp.site.seed, DESC_WORDS))
        ctx.check(docs[url] == parse_spans(html), f"spans of {url} = reference parser")
    rows = d.runner.table("url_seen").count()
    ctx.check(rows == inp.n_preseen + len(inp.newest), "url_seen grew by the new listings")
    return pages


# ---- tracing ----------------------------------------------------------------


def install_tracing(tracer: Tracer) -> None:
    import fundamental_spark.crawl.runner as runner_mod
    from fundamental_spark.tableformat import Warehouse

    def materialize(out, args, kwargs):
        # Run the seen filter eagerly inside its own span, so its stages
        # can be told apart; the runner's own .cache() then reuses it.
        with tracer.span("seen.count_candidates"):
            n_cand = args[0].count()
        out = out.cache()
        with tracer.span("seen.materialize"):
            n_new = out.count()
        tracer.count("seen.candidates", n_cand)
        tracer.count("seen.new_urls", n_new)
        return out

    tracer.wrap(runner_mod, "select_wave", "politeness.select_wave")
    tracer.wrap(runner_mod, "parse_search_pages", "parse.parse_search_pages")
    tracer.wrap(runner_mod, "filter_new_urls", "seen.filter_new_urls", after=materialize)
    for m in TABLEFORMAT:
        tracer.wrap(Warehouse, m, f"tableformat.{m}")


def crawl_layers(
    tracer: Tracer, stages: StageMetrics, drains: list[Drain], pages: list[int]
) -> dict[str, float]:
    n = len(drains)
    steps = tracer.named("runner.step")
    layer = {
        "runner.init_s": tracer.total("runner.init") / n,
        "runner.step_s": tracer.total("runner.step") / n,
        "runner.step_self_s": sum(tracer.self_time(i) for i, _ in steps) / n,
        "runner.step_children_s": sum(tracer.covered(i) for i, _ in steps) / n,
        "runner.seen_count_after_init": statistics.median(d.seen_after_init for d in drains),
        "politeness.select_wave_s": tracer.total("politeness.select_wave") / n,
        "parse.parse_search_pages_s": tracer.total("parse.parse_search_pages") / n,
        "seen.filter_new_urls_s": sum(
            tracer.self_time(i) for i, _ in tracer.named("seen.filter_new_urls")
        ) / n,
        "seen.materialize_s": tracer.total("seen.materialize") / n,
        "seen.spark_executor_run_s": sum(
            stages.window(s.start, s.end)["executor_run_s"]
            for _, s in tracer.named("seen.materialize")
        ) / n,
        "seen.candidates": tracer.counts.get("seen.candidates", 0) / n,
        "seen.new_urls": tracer.counts.get("seen.new_urls", 0) / n,
    }
    layer["seen.new_ratio"] = layer["seen.new_urls"] / max(layer["seen.candidates"], 1)
    for m in TABLEFORMAT:
        layer[f"tableformat.{m}_s"] = tracer.total(f"tableformat.{m}") / n
    layer["tableformat.commits"] = sum(
        1 for s in tracer.spans if s.name in {f"tableformat.{m}" for m in WRITES}
    ) / n
    per_wave = [stages.window(s.start, s.end) for _, s in steps]
    for k in ("jobs", "stages", "tasks"):
        layer[f"spark.{k}_per_wave"] = sum(w[k] for w in per_wave) / max(len(per_wave), 1)
    layer["crawl.waves"] = statistics.mean(len(d.waves) for d in drains)
    layer["crawl.pages"] = statistics.mean(pages)
    return layer


# ---- the workload -----------------------------------------------------------


def run(ctx: Context) -> dict[str, float]:
    sizes = SIZES[ctx.scale]
    session_s = start_session(ctx)

    def build() -> Inputs:
        return build_inputs(ctx.spark, ctx.seed, sizes)

    inp, first_s = timed(build)
    warm, warmup_s = timed(lambda: drain(ctx, inp, inp.preseen, None))
    # the two further input builds run warm, after the warm-up drain
    inp, inputs_s = rebuild(inp, first_s, 3, build, discard_inputs)
    log(f"session {session_s:.1f}s, inputs {inputs_s:.1f}s "
        f"({inp.n_preseen} pre-seen URLs), warm-up drain {warmup_s:.1f}s")

    drains, walls = closed_loop(ctx.seconds, lambda: drain(ctx, inp, inp.preseen, None))
    traced: list[Drain] = []
    if ctx.trace:
        tracer = Tracer()
        install_tracing(tracer)
        try:
            traced, traced_walls = closed_loop(
                ctx.seconds, lambda: drain(ctx, inp, inp.preseen, tracer)
            )
        finally:
            tracer.unpatch()
        stages = StageMetrics.fetch(ctx.spark)
        tracer.dump(str(ctx.work.parent / f"spans-{ctx.workload}.json"))
        record_overhead(ctx, walls, traced_walls)
    ctx.layer["memory.peak_rss_mb"] = peak_rss_mb(ctx.spark)
    log(f"timed drains {[round(d.wall_s, 2) for d in drains + traced]}")

    pages = {id(d): check_recrawl(ctx, inp, d) for d in [warm] + drains + traced if d.runner}
    done = [d for d in traced if d.runner is not None]
    if done:
        layer = crawl_layers(tracer, stages, done, [pages[id(d)] for d in done])
        layer["url_seen.rows"] = inp.n_preseen + len(inp.newest)
        layer["tableformat.bytes_written"] = statistics.mean(_dir_bytes(d.root) for d in done)
        layer["docsink.bytes_per_doc"] = statistics.mean(
            _dir_bytes(os.path.join(d.root, "documents")) for d in done
        ) / len(inp.newest)
        ctx.layer.update(layer)
    for d in [warm] + drains + traced:
        remove_tree(d.root)
    log("checks done")

    ok = [d for d in drains if d.runner is not None]
    waves = [w for d in ok for w in d.waves]
    ctx.layer["step.p50_s"] = statistics.median(waves)
    return {
        "setup_s": record_setup(ctx, session_s, inputs_s, warmup_s),
        "run_s": statistics.median(d.wall_s for d in ok),
        "step_s_geomean": geomean(waves),
        "items_per_s": sum(pages[id(d)] for d in ok) / sum(d.wall_s for d in ok),
    }
