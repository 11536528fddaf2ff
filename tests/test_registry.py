"""Structure of the query registry and the entry module around it.

The library registers queries and nothing else: it reads no file
outside its package at import, so a checkout and the zipped package
(make_dist.sh) expose the same registry in the same order. Ordering
for the per-round correctness window lives in ``__spark_entry__``.
Only ``session.py`` reads the environment: its settings are deployment
settings, and nothing else in the library grows an env-var knob. No
function in the library is over 150 lines. The crawl and lifecycle
table schemas are defined in ``schemas.py`` alone. Driver metadata is
written by ``Warehouse.write_meta`` alone. The ANN operators share one
1e-9 pin and one per-query rank window.
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


def test_table_schemas_are_defined_only_in_schemas_module():
    """The crawl and lifecycle layers import their table schemas from
    ``schemas.py`` (or derive them from it): none of their modules
    builds a Spark or pyarrow schema of its own."""
    paths = [
        os.path.join(PKG, "crawl", name)
        for name in sorted(os.listdir(os.path.join(PKG, "crawl")))
        if name.endswith(".py")
    ] + [os.path.join(PKG, "operators", "lifecycle.py"), os.path.join(PKG, "streaming", "jobs.py")]
    builders = []
    for path in paths:
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            owner = getattr(getattr(f, "value", None), "id", None)
            if name in ("StructType", "StructField") or (
                owner in ("pa", "pyarrow") and name in ("schema", "struct", "field")
            ):
                builders.append(f"{os.path.relpath(path, PKG)}:{node.lineno} {name}")
    assert not builders, builders


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

