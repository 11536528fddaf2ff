"""In-memory spans around the library's public calls, plus Spark stage metrics.

Tracing wraps public functions from the outside (``Tracer.wrap``
replaces a module or class attribute and ``unpatch`` restores it), so
nothing inside ``fundamental_spark`` changes. Spans are kept in memory
and summarised when the run ends. A span's self time is its duration
minus the part of it that its child spans cover.

Spans opened on a worker thread (the runner commits snapshots from a
thread pool) take as parent the innermost open span marked ``root``
on the main thread, such as the wave that submitted them.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

_EPOCH0 = time.time()
_PERF0 = time.perf_counter()


def now() -> float:
    """Epoch seconds on a monotonic clock, comparable with Spark's timestamps."""
    return _EPOCH0 + time.perf_counter() - _PERF0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    key: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, key: str | None = None, root: bool = False) -> Iterator[int]:
        stack = self._local.__dict__.setdefault("stack", [])
        root = root and threading.current_thread() is threading.main_thread()
        parent = stack[-1] if stack else (self._roots[-1] if self._roots else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, now(), float("nan"), parent, key))
        stack.append(idx)
        if root:
            self._roots.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = now()
            stack.pop()
            if root:
                self._roots.pop()

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        after: Callable[[Any, tuple, dict], Any] | None = None,
    ) -> None:
        """Trace calls to ``owner.attr``; ``after(result, args, kwargs)``
        runs inside the span and its return value replaces the result."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    out = after(out, args, kwargs)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def covered(self, idx: int) -> float:
        """Seconds of span ``idx`` covered by the union of its children."""
        me = self.spans[idx]
        ivs = sorted(
            (max(c.start, me.start), min(c.end, me.end)) for c in self.children(idx)
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def self_time(self, idx: int) -> float:
        return self.spans[idx].dur - self.covered(idx)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def named(self, name: str) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "key": s.key}
                        for s in self.spans
                    ],
                    "counts": self.counts,
                },
                f,
            )


# ---- Spark status REST API (UI on in traced runs only) ---------------------


def _epoch(ts: str) -> float:
    # "2026-10-16T20:01:02.123GMT"
    return datetime.fromisoformat(ts.removesuffix("GMT")).replace(
        tzinfo=timezone.utc
    ).timestamp()


def _get(spark, path: str) -> Any:
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


@dataclass
class StageMetrics:
    """Completed jobs and stages of the application, with epoch times."""

    jobs: list[dict]
    stages: list[dict]

    @classmethod
    def fetch(cls, spark, settle_s: float = 20.0) -> "StageMetrics":
        """Read all jobs and stages once the listener has caught up."""
        deadline = time.monotonic() + settle_s
        prev = -1
        while True:
            jobs = _get(spark, "jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and len(jobs) == prev) or time.monotonic() > deadline:
                break
            prev = len(jobs) if done else -1
            time.sleep(0.5)
        stages = _get(spark, "stages?status=complete")
        for rec in jobs:
            rec["_t"] = _epoch(rec["submissionTime"])
        for rec in stages:
            rec["_t"] = _epoch(rec["submissionTime"])
        return cls(jobs, stages)

    def window(self, start: float, end: float, slack: float = 0.002) -> dict[str, float]:
        """Totals over jobs and stages submitted inside [start, end]."""
        lo, hi = start - slack, end + slack
        st = [s for s in self.stages if lo <= s["_t"] <= hi]
        run = sum(s["executorRunTime"] for s in st) / 1e3
        cpu = sum(s["executorCpuTime"] for s in st) / 1e9
        return {
            "jobs": sum(1 for j in self.jobs if lo <= j["_t"] <= hi),
            "stages": len(st),
            "tasks": sum(s["numTasks"] for s in st),
            "executor_run_s": run,
            "executor_cpu_s": cpu,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "spill_bytes": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in st),
        }
