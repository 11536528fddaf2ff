"""Shared plumbing: work directory, Spark session, closed loop, summaries.

Everything the benchmark writes goes under ``perfbench/_work/`` inside
the checkout: Spark's local dirs, temp files, warehouses and generated
inputs. The directory of one run is removed when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parent.parent
SPEC = ROOT / "BENCHMARK.json"

# per-layer metrics every workload reports
COMMON_LAYER_METRICS = (
    "setup.session_s",
    "setup.inputs_s",
    "setup.warmup_s",
    "step.p50_s",
    "trace.untraced_run_s",
    "trace.traced_run_s",
    "trace.overhead_s",
    "memory.peak_rss_mb",
    "failed_frac",
)


def n_cores() -> int:
    """Spark's task slots: half the CPUs this process may use.

    The other half runs the driver's JVM and Python threads, the JIT
    and GC threads and the Python workers. At the benchmark's sizes the
    work is bound by per-job overhead, so on 4 vCPUs local[2] ran the
    timed drain and query pass as fast as local[4] or faster.
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


@dataclass
class Context:
    """One benchmark run: its arguments, its Spark session and its tallies.

    ``attempted``/``failed`` count operations (drains, queries) and
    output checks; a mismatch or an exception counts as one failure.
    """

    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: str
    plant_wrong: bool
    work: Path
    spark: Any = None
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)
        return ok

    def scratch(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.work)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path) -> None:
    """Point every place Spark and Python write to inside ``work``.

    Must run before the JVM starts: the JVM and its Python workers
    inherit this environment.
    """
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["FS_LOCAL_DIR"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"  # the UI binds to loopback only
    tempfile.tempdir = None
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(ctx: Context) -> float:
    """Start the session with the library's own factory; returns seconds."""
    from fundamental_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "true" if ctx.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": str(ctx.work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work / 'tmp'}",
    }
    if ctx.trace:
        # the status REST API keeps every job and stage of the run
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
        })
    t0 = time.perf_counter()
    # two shuffle partitions per core, the sizing session.py advises for
    # a real deployment
    ctx.spark = get_spark(
        f"perfbench-{ctx.workload}",
        master=f"local[{n_cores()}]",
        shuffle_partitions=2 * n_cores(),
        extra_conf=conf,
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits on EOF of its stdin (pyspark's launch contract)
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def closed_loop(seconds: float, op: Callable[[], Any]) -> tuple[list[Any], list[float]]:
    """One client, one operation at a time, for about ``seconds``.

    A new operation starts only while the time spent so far plus the
    median operation time fits in the budget; at least one always runs.
    Returns the operation results and their wall times.
    """
    results: list[Any] = []
    walls: list[float] = []
    while not walls or sum(walls) + statistics.median(walls) <= seconds:
        out, s = timed(op)
        results.append(out)
        walls.append(s)
    return results, walls


def timed(fn: Callable[[], Any]) -> tuple[Any, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def rebuild(first: Any, first_s: float, k: int, build: Callable[[], Any],
            discard: Callable[[Any], None]) -> tuple[Any, float]:
    """Build the inputs k-1 more times after ``first`` (which took
    ``first_s``); keeps the last build and returns it with the median time.
    """
    out, times = first, [first_s]
    for _ in range(k - 1):
        discard(out)
        out, s = timed(build)
        times.append(s)
    return out, statistics.median(times)


def record_setup(ctx: Context, session_s: float, inputs_s: float, warmup_s: float) -> float:
    """Keep the parts of set-up as per-layer metrics; returns ``setup_s``."""
    ctx.layer.update({
        "setup.session_s": session_s,
        "setup.inputs_s": inputs_s,
        "setup.warmup_s": warmup_s,
    })
    return session_s + inputs_s + warmup_s


def record_overhead(ctx: Context, walls: list[float], traced_walls: list[float]) -> None:
    """Tracing overhead: median traced minus median untraced operation."""
    ctx.layer["trace.untraced_run_s"] = statistics.median(walls)
    ctx.layer["trace.traced_run_s"] = statistics.median(traced_walls)
    ctx.layer["trace.overhead_s"] = (
        ctx.layer["trace.traced_run_s"] - ctx.layer["trace.untraced_run_s"]
    )


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def result_line(ctx: Context, e2e: dict[str, float], layer_names: tuple[str, ...]) -> str:
    """The contract's last line: every end-to-end metric, or with
    tracing every per-layer one (layers a workload does not touch read 0).
    """
    spec = load_spec()
    wanted = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    values = dict(ctx.layer) if ctx.trace else e2e
    missing = [n for n in layer_names if n not in values] if ctx.trace else [
        m["name"] for m in wanted if m["name"] not in values
    ]
    if missing:
        raise RuntimeError(f"workload {ctx.workload} did not measure {missing}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    })


def remove_tree(path: Path | str) -> None:
    shutil.rmtree(path, ignore_errors=True)
