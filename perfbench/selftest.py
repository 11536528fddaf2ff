"""Self-test of the benchmark at tiny sizes (about five minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, through ``run.py`` in subprocesses:

- BENCHMARK.json keeps to its format (keys, names, units, bounds);
- without the library next to it the benchmark exits non-zero and
  prints no result;
- each workload, untraced and traced, prints as its last line one JSON
  object with exactly the contract's keys and exactly the metric names
  and units of BENCHMARK.json, with every output check passing;
- a planted wrong output (``--plant-wrong``) is caught: ``failed`` and
  ``failed_frac`` become non-zero and ``correct`` false.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> None:
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }, sorted(spec)
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower"), m
        names.append(m["name"])
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names)), "names must be unique"
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def run(args: list[str], cwd: Path = ROOT) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--seconds", "1", "--scale", "tiny", *args]
    print("selftest:", " ".join(cmd[1:]), flush=True)
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, proc.stdout


def result(stdout: str, spec_metrics: list[dict]) -> dict:
    line = json.loads(stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, sorted(line)
    assert isinstance(line["attempted"], int) and line["attempted"] >= 1
    assert isinstance(line["failed"], int)
    want = {m["name"]: m["unit"] for m in spec_metrics}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == want, (sorted(set(got) ^ set(want)), got)
    for v in line["metrics"].values():
        assert isinstance(v["value"], float), v
    return line


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_spec(spec)

    bare = ROOT / "perfbench" / "_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(
            ROOT / "perfbench", bare / "perfbench",
            ignore=shutil.ignore_patterns("_work", "__pycache__"),
        )
        rc, out = run(["--workload", "queries", "--seed", "1"], cwd=bare)
        assert rc != 0 and not out.strip(), (rc, out)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    e2e, layers = spec["end_to_end"], spec["per_layer"]
    for workload in (w["name"] for w in spec["workloads"]):
        rc, out = run(["--workload", workload, "--seed", "7", "--trace", "0"])
        assert rc == 0
        line = result(out, e2e)
        assert line["correct"] and line["failed"] == 0, line
        assert all(v["value"] > 0 for v in line["metrics"].values()), line

        rc, out = run(["--workload", workload, "--seed", "8", "--trace", "1", "--plant-wrong"])
        assert rc == 0
        line = result(out, layers)
        assert not line["correct"] and line["failed"] > 0, line
        assert line["metrics"]["failed_frac"]["value"] > 0, line
    print("selftest: ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
