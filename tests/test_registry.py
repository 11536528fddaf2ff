"""Structure of the query registry and the entry module around it.

The library registers queries and nothing else: it reads no file
outside its package at import, so a checkout and the zipped package
(make_dist.sh) expose the same registry in the same order. Ordering
for the per-round correctness window lives in ``__spark_entry__``.
Only ``session.py`` reads the environment: its settings are deployment
settings, and nothing else in the library grows an env-var knob. No
function in the library is over 150 lines. The crawl and lifecycle
table schemas, DDL strings included, are defined in ``schemas.py``
alone. Driver metadata is written by ``Warehouse.write_meta`` alone.
The ANN operators share one 1e-9 pin and one per-query rank window.
Every library function has a caller outside the tests, or a reason to
stay in ``KEPT``.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import __spark_entry__ as entrymod
from fundamental_spark import queries as qmod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "fundamental_spark")

_AUDIT = r"""
import os, sys
import pyspark.sql, pyspark.sql.functions, pyspark.sql.window
events = []
def hook(ev, args):
    if ev == "open" or ev.startswith(("glob.", "os.listdir", "os.scandir")):
        events.append((ev, str(args[0])))
sys.addaudithook(hook)
import fundamental_spark.queries
for ev, path in events:
    print(ev, path)
"""


def test_queries_import_opens_no_file_outside_package():
    out = subprocess.run(
        [sys.executable, "-c", _AUDIT], cwd=REPO, capture_output=True,
        text=True, check=True, env={**os.environ, "PYTHONPATH": REPO},
    ).stdout.splitlines()
    bad = []
    for line in out:
        ev, path = line.split(" ", 1)
        inside = os.path.abspath(path).startswith(PKG + os.sep) or path == PKG
        if ev.startswith("glob."):
            bad.append(line)  # data discovery, never module loading
        elif ev == "open" and not inside and not path.endswith((".py", ".pyc", ".so")):
            bad.append(line)
    assert not bad, bad


def test_spark_queries_iterate_in_registration_order():
    tree = ast.parse(open(qmod.__file__).read())
    registered = [
        dec.args[0].value
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        for dec in node.decorator_list
        if isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "q"
    ]
    assert list(qmod.SPARK_QUERIES) == registered


def test_entry_covers_the_registry():
    assert set(entrymod.queries()) == set(qmod.SPARK_QUERIES)
    assert set(entrymod.oracle_sql()) == set(qmod.ORACLE_SQL)
    assert all(entrymod.queries()[n] is qmod.SPARK_QUERIES[n] for n in qmod.SPARK_QUERIES)


def test_only_session_reads_the_environment():
    readers = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            for node in ast.walk(ast.parse(open(path).read(), path)):
                if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
                    hit = node.attr
                elif isinstance(node, ast.ImportFrom) and node.module == "os":
                    hit = next(
                        (a.name for a in node.names if a.name in ("environ", "getenv")), None
                    )
                else:
                    continue
                if hit:
                    readers.append(f"{os.path.relpath(path, PKG)}:{node.lineno} {hit}")
    assert readers and all(r.startswith("session.py:") for r in readers), readers


def test_library_functions_stay_short():
    long = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            long += [
                f"{os.path.relpath(path, PKG)}:{node.lineno} {node.name} "
                f"{node.end_lineno - node.lineno + 1} lines"
                for node in ast.walk(ast.parse(open(path).read(), path))
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.end_lineno - node.lineno + 1 > 150
            ]
    assert not long, long


def _str_constant(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def test_table_schemas_are_defined_only_in_schemas_module():
    """Every table layout lives in ``schemas.py``:

    - no module-level string named ``*_SCHEMA`` or ``*_DDL`` anywhere
      else in the library;
    - the crawl, lifecycle, geo, metro and stream modules build no Spark
      or pyarrow schema of their own and pass no DDL string literal to
      ``createDataFrame`` or ``.schema(...)``: they import their table
      schemas from ``schemas.py`` (or derive them from it).

    Operator-internal UDF and scratch-frame shapes (such as the
    micro-batch row layout in ``pipeline.py`` or the neighbour rows in
    ``similarity.py``) are not tables; they stay beside the code that
    builds them."""
    named = []
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == "schemas.py":
                continue
            named += [
                f"{rel}:{node.lineno} {t.id}"
                for node in ast.parse(open(path).read(), path).body
                if isinstance(node, ast.Assign) and _str_constant(node.value)
                for t in node.targets
                if isinstance(t, ast.Name) and t.id.endswith(("_SCHEMA", "_DDL"))
            ]
    paths = [
        os.path.join(PKG, "crawl", name)
        for name in sorted(os.listdir(os.path.join(PKG, "crawl")))
        if name.endswith(".py")
    ] + [
        os.path.join(PKG, *rel)
        for rel in (
            ("operators", "lifecycle.py"), ("operators", "geo.py"),
            ("operators", "analysis.py"), ("streaming", "jobs.py"),
        )
    ]
    builders = []
    for path in paths:
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            owner = getattr(getattr(f, "value", None), "id", None)
            ddl = name in ("createDataFrame", "schema") and any(
                _str_constant(a) for a in node.args + [k.value for k in node.keywords]
            )
            if ddl or name in ("StructType", "StructField") or (
                owner in ("pa", "pyarrow") and name in ("schema", "struct", "field")
            ):
                builders.append(f"{os.path.relpath(path, PKG)}:{node.lineno} {name}")
    assert not named + builders, "\n".join(named + builders)


def _file_writes(node, func=None):
    """(line, enclosing function) of each ``os.replace`` call and each
    ``open`` call whose mode is not a read mode."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        func = node.name
    f = node.func if isinstance(node, ast.Call) else None
    if isinstance(f, ast.Attribute) and f.attr == "replace" and getattr(f.value, "id", None) == "os":
        yield node.lineno, func
    elif isinstance(f, ast.Name) and f.id == "open":
        mode = next((k.value for k in node.keywords if k.arg == "mode"),
                    node.args[1] if len(node.args) > 1 else None)
        reads = mode is None or (
            isinstance(mode, ast.Constant) and set(str(mode.value)) <= set("rbt")
        )
        if not reads:
            yield node.lineno, func
    for child in ast.iter_child_nodes(node):
        yield from _file_writes(child, func)


def test_metadata_has_one_atomic_writer():
    """No ``os.replace`` and no write-mode ``open`` under the library
    outside ``Warehouse.write_meta``, and the documents sink's rename
    of a finished part file on the worker."""
    allowed = {("tableformat.py", "write_meta"), (os.path.join("crawl", "docsink.py"), "sink")}
    writes = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, PKG)
                writes += [
                    f"{rel}:{line} in {func}"
                    for line, func in _file_writes(ast.parse(open(path).read(), path))
                    if (rel, func) not in allowed
                ]
    assert not writes, writes


def _calls_by_function(node, func=None):
    """(innermost enclosing function, call node) for each call."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        func = node.name
    if isinstance(node, ast.Call):
        yield func, node
    for child in ast.iter_child_nodes(node):
        yield from _calls_by_function(child, func)


def test_ann_core_is_written_once():
    """No ``np.floor`` under ``operators/`` outside ``similarity._pin9``
    (the 1e-9 half-away pin the oracles' ROUND(.., 9) mirrors), and no
    ``row_number`` window keyed on query_id in ``similarity.py`` outside
    ``_topk_by_cos`` and ``_adc_rerank``."""
    ops = os.path.join(PKG, "operators")
    found = []
    for dirpath, _, files in os.walk(ops):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ops)
            calls = list(_calls_by_function(ast.parse(open(path).read(), path)))
            found += [
                f"{rel}:{c.lineno} np.floor in {func}"
                for func, c in calls
                if isinstance(c.func, ast.Attribute) and c.func.attr == "floor"
                and getattr(c.func.value, "id", None) == "np"
                and (rel, func) != ("similarity.py", "_pin9")
            ]
            if rel != "similarity.py":
                continue
            keyed = {
                func for func, c in calls
                if getattr(c.func, "attr", None) == "partitionBy"
                and any(isinstance(a, ast.Constant) and a.value == "query_id" for a in c.args)
            }
            found += [
                f"{rel}:{c.lineno} query_id row_number in {func}"
                for func, c in calls
                if getattr(c.func, "attr", None) == "row_number"
                and func in keyed and func not in ("_topk_by_cos", "_adc_rerank")
            ]
    assert not found, found


def test_whitespace_tokenizer_is_written_once():
    """No ``split`` call on the ``\\s+`` pattern under the library
    outside ``functions/text.py::tokens``: every whitespace tokenization
    goes through that one function (or ``token_count``/``stopword_ratio``
    built on it)."""
    found = []
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            found += [
                f"{rel}:{c.lineno} in {func}"
                for func, c in _calls_by_function(ast.parse(open(path).read(), path))
                if getattr(c.func, "attr", getattr(c.func, "id", None)) == "split"
                and any(isinstance(a, ast.Constant) and a.value == r"\s+" for a in c.args)
                and (rel, func) != (os.path.join("functions", "text.py"), "tokens")
            ]
    assert not found, found



# Library functions and classes with no caller outside the tests, kept
# on purpose. Each entry names the capability it stands for: a SURVEY
# row of the reference, or the verifier role it plays.
KEPT = {
    "operators/geo.py::nl_bbox_filter": "S11 geocoder NL bounding-box check",
    "operators/geo.py::geocode_enrich": "S11 geocode cache join",
    "operators/geo.py::geocode_metro_cities": "S11 city geocoding for metro areas",
    "operators/geo.py::parse_wkt_point": "F14 coordinates from a WKT point",
    "operators/geo.py::geocode_candidates": "F13 geocode candidate filter",
    "operators/geo.py::unique_districts": "F10 valid-postal district list",
    "operators/geo.py::hulls_to_geojson": "S13 GeoJSON sink of the district hulls",
    "operators/analysis.py::init_metro_tables": "J4 metro config tables",
    "operators/analysis.py::metro_rollup": "J4 metro area to city rollup",
    "operators/analysis.py::update_metro_centers": "A6 metro centers",
    "operators/analysis.py::metro_city_expansion": "J8 metro area to city filter",
    "operators/lifecycle.py::previous_price": "W4 previous price per listing",
    "streaming/jobs.py::stream_new_listing_alerts": "S14 new-listing alert sink",
    "streaming/jobs.py::stream_event_counts": "T10 watermarked windowed counts",
    "streaming/jobs.py::drain_neardup": "T12 streaming near-dup drain",
    "synth/reference_sim.py::simulate_crawl": "verifier until ROADMAP #5",
    "synth/reference_sim.py::simulate_refresh": "verifier until ROADMAP #5",
    "crawl/parse.py::parse_spans_udf": "S7 detail-page spans as a column UDF",
    "functions/extractors.py::normalize_city": "P11 city normalization",
    "operators/dedup.py::winnow_fingerprints": "D5 winnowing fingerprints as one column",
}


def _caller_sources():
    """Every non-test Python file: the library, the jobs, the bench
    scripts, the entry module and the benchmark harness."""
    for base in ("fundamental_spark", "jobs", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(REPO, base)):
            yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))
    for name in sorted(os.listdir(REPO)):
        if name.endswith(".py") and (name.startswith("bench") or name == "__spark_entry__.py"):
            yield os.path.join(REPO, name)


def _references(node, owner, out):
    """Add (name, owner) for each Name, Attribute and ImportFrom name
    under ``node``; ``owner`` is the enclosing top-level definition."""
    if isinstance(node, ast.Name):
        out.add((node.id, owner))
    elif isinstance(node, ast.Attribute):
        out.add((node.attr, owner))
    elif isinstance(node, ast.ImportFrom):
        out.update((a.name, owner) for a in node.names)
    for child in ast.iter_child_nodes(node):
        _references(child, owner, out)


def test_every_library_function_has_a_caller():
    """Each top-level function and class under ``fundamental_spark/``,
    private ones included, is referenced from outside its own body by
    a non-test file, or registered with ``@q``, or listed in ``KEPT``.
    Code only the tests call belongs in the tests, or goes. A ``KEPT``
    entry that gained a caller, or names nothing, fails too."""
    refs = set()  # (name, (file, enclosing top-level definition))
    defs = []
    for path in _caller_sources():
        for top in ast.parse(open(path).read(), path).body:
            name = getattr(top, "name", None)
            _references(top, (path, name), refs)
            if path.startswith(PKG + os.sep) and isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "q"
                for d in top.decorator_list
            ):
                defs.append((path, name))
    owners = {}
    for name, owner in refs:
        owners.setdefault(name, set()).add(owner)
    uncalled = {
        f"{os.path.relpath(path, PKG)}::{name}"
        for path, name in defs
        if not owners.get(name, set()) - {(path, name)}
    }
    orphans = sorted(uncalled - set(KEPT))
    assert not orphans, "no caller outside tests/:\n" + "\n".join(orphans)
    stale = sorted(set(KEPT) - uncalled)
    assert not stale, "KEPT entries with a caller or no definition:\n" + "\n".join(stale)
