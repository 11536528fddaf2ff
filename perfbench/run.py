"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_recrawl --seed 1 --seconds 18 --trace 0

Run from the root of a checkout of the repository. The library is
driven only through its public entry points (``CrawlRunner``,
``SPARK_QUERIES``/``ORACLE_SQL``, ``synth.site``, ``session.get_spark``)
on ``local[<half the CPUs>]`` with one client and no extra threads.

``--trace 0`` prints the end-to-end metrics listed in BENCHMARK.json;
``--trace 1`` first repeats the untraced loop, then runs it again with
spans around the library's public calls and Spark stage metrics from
the status REST API, and prints the per-layer metrics, including the
tracing overhead (traced minus untraced ``run_s``). Spans are written to
``perfbench/_work/spans-<workload>.json``.

The exit code is 0 only when the run completed; a run whose outputs
were wrong still exits 0 and reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

if __package__ in (None, ""):  # run as a script: make the checkout importable
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402


def workloads():
    from perfbench import crawl, queries

    return {
        "crawl_recrawl": (crawl.run, crawl.LAYER_METRICS),
        "queries": (queries.run, queries.LAYER_METRICS),
    }


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the self-test")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt one output before checking it (self-test)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    import fundamental_spark  # noqa: F401  -- fail before any set-up without the library

    table = workloads()
    if args.workload not in table:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(table)}")
    run, layer_names = table[args.workload]
    work = harness.ROOT / "perfbench" / "_work" / f"{args.workload}-{os.getpid()}"
    harness.prepare_env(work)
    ctx = harness.Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        scale=args.scale,
        plant_wrong=args.plant_wrong,
        work=work,
    )
    try:
        e2e = run(ctx)
        if ctx.trace:
            ctx.layer["failed_frac"] = ctx.failed / max(ctx.attempted, 1)
        line = harness.result_line(ctx, e2e, layer_names + harness.COMMON_LAYER_METRICS)
    finally:
        if ctx.spark is not None:
            harness.stop_session(ctx.spark)
        harness.remove_tree(work)
        harness.log("stopped")
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
