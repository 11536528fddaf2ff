"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``fundamental_spark.queries`` (operator
registry). As of round 5 EVERY registered query carries a full DuckDB
oracle — including the LSH/IVF/PQ ANN family, whose deterministic
plane/centroid/codebook constructions are unrolled into SQL CTEs —
so the driver's correctness gate is rows+schema+hash for all of them.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from fundamental_spark.queries import ORACLE_SQL, SPARK_QUERIES, pricing_summary


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return pricing_summary(spark, "/root/testdata/sf0.001")


def _confirmation_order(names) -> list[str]:
    """Queries ordered by the last round whose CORRECTNESS_r<N>.json
    (next to this file) holds a hash-matched row for them, oldest (or
    never) first; ties keep registration order. Only a window of the
    first entries is re-checked each round, so this rotates every
    query back into it."""
    last: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            for name, row in json.load(f).items():
                if isinstance(row, dict) and row.get("hash_match"):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: last.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: SPARK_QUERIES[n] for n in _confirmation_order(SPARK_QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {n: ORACLE_SQL[n] for n in _confirmation_order(ORACLE_SQL)}
