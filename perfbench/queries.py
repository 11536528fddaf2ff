"""The ``queries`` workload: a mixed suite of registered queries.

Inputs are tables from ``datagen`` (seeded). Set-up starts the session,
generates the tables three times (the median counts) and runs three
untimed passes of the suite, so JIT warm-up and Python-worker spawn stay
out of the timed passes. The timed body runs whole passes in a closed
loop with one client; each query is built through ``SPARK_QUERIES`` and
collected, so every column is computed. After timing, the last pass's
results are compared with each query's DuckDB twin from ``ORACLE_SQL``
run on the same parquet files: same columns, same row count and the
same rows in any order, floats equal to 1e-6.

The suite mixes light relational queries, bound by plan building and
per-job overhead, with heavy near-duplicate, ANN and text queries,
bound by the Python/Arrow boundary and shuffles.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any

from . import datagen
from .harness import (
    Context,
    closed_loop,
    geomean,
    log,
    peak_rss_mb,
    rebuild,
    record_overhead,
    record_setup,
    remove_tree,
    start_session,
    timed,
)
from .trace import StageMetrics, Tracer

LIGHT = (
    "pricing_summary",
    "group_median",
    "topn_per_group",
    "monthly_timeseries",
    "days_to_ship",
    "event_sessions",
)
HEAVY = (
    "dedup_ngram_jaccard",
    "ann_gemm",
)
SUITE = LIGHT + HEAVY
# the second pass is still a third slower than the ones after it, and
# in some processes the third one too
WARMUP_PASSES = 3
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
SCALES = {
    "full": datagen.Scale(sf=0.005, documents=300, embeddings=300),
    "tiny": datagen.Scale(sf=0.001, documents=200, embeddings=200),
}

LAYER_METRICS = (
    *(f"queries.{q}.s" for q in SUITE),
    "queries.build_s",
    "queries.collect_s",
    "queries.executor_run_s",
    "queries.executor_cpu_s",
    "queries.python_gap_s",
    "queries.spark_jobs",
    "queries.spark_stages",
    "queries.spark_tasks",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
)


@dataclass
class Outcome:
    name: str
    seconds: float
    columns: list[str] | None = None
    rows: list[tuple] | None = None


def run_query(spark, data_dir: str, name: str, tracer: Tracer | None) -> Outcome:
    from fundamental_spark.queries import SPARK_QUERIES

    t0 = time.perf_counter()
    if tracer is None:
        df = SPARK_QUERIES[name](spark, data_dir)
        rows = [tuple(r) for r in df.collect()]
    else:
        with tracer.span("queries.query", key=name, root=True):
            with tracer.span("queries.build", key=name):
                df = SPARK_QUERIES[name](spark, data_dir)
            with tracer.span("queries.collect", key=name):
                rows = [tuple(r) for r in df.collect()]
    return Outcome(name, time.perf_counter() - t0, list(df.columns), rows)


def run_pass(ctx: Context, data_dir: str, tracer: Tracer | None) -> list[Outcome]:
    out = []
    for name in SUITE:
        ctx.attempted += 1
        try:
            out.append(run_query(ctx.spark, data_dir, name, tracer))
        except Exception:
            ctx.failed += 1
            traceback.print_exc(file=sys.stderr)
            out.append(Outcome(name, float("nan")))
    return out


# ---- output checks ----------------------------------------------------------


def _plain(v: Any) -> Any:
    if isinstance(v, (list, tuple)):  # arrays, and structs as Row tuples
        return tuple(_plain(x) for x in v)
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return float(v)
    return v


def _key(v: Any) -> tuple:
    """Sort key that orders None, NaN, numbers and strings without errors."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, "NaN") if math.isnan(v) else (2, round(v, 6))
    if isinstance(v, (bool, int)):
        return (2, v)
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (4, str(v))


def _close(a: Any, b: Any) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def _canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = [tuple(_plain(r[i]) for i in order) for r in rows]
    return sorted(canon, key=lambda r: tuple(_key(v) for v in r))


def same_result(s_cols, s_rows, d_cols, d_rows) -> bool:
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        return False
    if len(s_rows) != len(d_rows):
        return False
    return all(
        _close(a, b) for a, b in zip(_canon(s_cols, s_rows), _canon(d_cols, d_rows))
    )


def check_against_oracle(ctx: Context, data_dir: str, outcomes: list[Outcome]) -> None:
    import duckdb

    from fundamental_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for i, o in enumerate(outcomes):
            if o.rows is None:
                continue
            rows = o.rows[:-1] if ctx.plant_wrong and i == 0 else o.rows
            res = con.sql(ORACLE_SQL[o.name])
            ctx.check(
                same_result(o.columns, rows, res.columns, res.fetchall()),
                f"query {o.name} differs from its DuckDB oracle",
            )
    finally:
        con.close()


# ---- the workload -----------------------------------------------------------


def _layers(tracer: Tracer, stages: StageMetrics, passes: list[list[Outcome]]) -> dict[str, float]:
    layer: dict[str, float] = {}
    for q in SUITE:
        layer[f"queries.{q}.s"] = statistics.median(
            o.seconds for p in passes for o in p if o.name == q
        )
    n = len(passes)
    layer["queries.build_s"] = tracer.total("queries.build") / n
    layer["queries.collect_s"] = tracer.total("queries.collect") / n
    totals: dict[str, float] = {}
    for _, s in tracer.named("queries.query"):
        for k, v in stages.window(s.start, s.end).items():
            totals[k] = totals.get(k, 0.0) + v
    layer["queries.executor_run_s"] = totals.get("executor_run_s", 0.0) / n
    layer["queries.executor_cpu_s"] = totals.get("executor_cpu_s", 0.0) / n
    layer["queries.python_gap_s"] = (
        layer["queries.executor_run_s"] - layer["queries.executor_cpu_s"]
    )
    layer["queries.spark_jobs"] = totals.get("jobs", 0) / n
    layer["queries.spark_stages"] = totals.get("stages", 0) / n
    layer["queries.spark_tasks"] = totals.get("tasks", 0) / n
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layer[f"spark.{k}"] = totals.get(k, 0) / n
    return layer


def run(ctx: Context) -> dict[str, float]:
    scale = SCALES[ctx.scale]
    session_s = start_session(ctx)

    def build() -> str:
        return datagen.write(ctx.scratch("data-"), ctx.seed, scale)

    data_dir, first_s = timed(build)
    data_dir, inputs_s = rebuild(data_dir, first_s, 3, build, remove_tree)
    # warm up on the files the timed passes read
    _, warmup_s = timed(lambda: [run_pass(ctx, data_dir, None) for _ in range(WARMUP_PASSES)])
    log(f"session {session_s:.1f}s, inputs {inputs_s:.1f}s, warm-up passes {warmup_s:.1f}s")

    passes, walls = closed_loop(ctx.seconds, lambda: run_pass(ctx, data_dir, None))
    if ctx.trace:
        tracer = Tracer()
        traced, traced_walls = closed_loop(
            ctx.seconds, lambda: run_pass(ctx, data_dir, tracer)
        )
        ctx.layer.update(_layers(tracer, StageMetrics.fetch(ctx.spark), traced))
        tracer.dump(str(ctx.work.parent / f"spans-{ctx.workload}.json"))
        record_overhead(ctx, walls, traced_walls)
        passes = passes + traced
    ctx.layer["memory.peak_rss_mb"] = peak_rss_mb(ctx.spark)
    log(f"timed passes {[round(w, 2) for w in walls]}")

    check_against_oracle(ctx, data_dir, passes[-1])
    remove_tree(data_dir)
    log("checks done")

    done = [o for p in passes for o in p if o.rows is not None]
    per_query = [statistics.median(o.seconds for o in done if o.name == q) for q in SUITE]
    ctx.layer["step.p50_s"] = statistics.median(o.seconds for o in done)
    return {
        "setup_s": record_setup(ctx, session_s, inputs_s, warmup_s),
        "run_s": statistics.median(walls),
        "step_s_geomean": geomean(per_query),
        "items_per_s": statistics.median(
            sum(o.rows is not None for o in p) / w for p, w in zip(passes, walls)
        ),
    }
