"""Shared Spark session + JSON-literal fixture helper.

Fixture style mirrors the reference's test harness
(``/root/reference/test/conftest.py:7-19``): a session-scoped local
SparkSession and a ``to_df`` helper that round-trips Python dicts through
``spark.read.json`` so schemas are JSON-inferred (ints → bigint, floats →
double, struct fields alphabetized) — exactly the shapes the behavioral
goldens in FIXTURES.md §A assume.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import DataFrame, SparkSession


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("config-driven-pyspark-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


def to_df(spark: SparkSession, data) -> DataFrame:
    """dict-or-list of dicts → DataFrame with a JSON-inferred schema."""
    if isinstance(data, dict):
        data = [data]
    return spark.read.json(
        spark.sparkContext.parallelize([json.dumps(row) for row in data])
    )


# -- sibling-heavy frames for the plan-size tests -----------------------------

SIBLING_CONTAINERS = ("plain", "array", "map")


def sibling_frame(spark: SparkSession, container: str, n: int,
                  member_ddl: str, value) -> tuple[DataFrame, str]:
    """Three rows holding two structs ``s0``/``s1`` with ``n`` members
    ``f0..f{n-1}`` of type ``member_ddl``: as root columns (``plain``), as
    the element struct of an ``array<struct>`` column ``a`` or as the value
    struct of a ``map<string,struct>`` column ``m`` (row ``id`` holds
    ``id + 1`` entries). ``value(rid, k, j, i)`` is member ``f{i}`` of
    ``s{j}`` in entry ``k`` of row ``rid``. Returns the frame and the path
    prefix that reaches ``s0``/``s1``."""
    members = ", ".join(f"f{i}: {member_ddl}" for i in range(n))
    pair_ddl = f"s0: struct<{members}>, s1: struct<{members}>"

    def pair(rid, k):
        return {
            f"s{j}": {f"f{i}": value(rid, k, j, i) for i in range(n)}
            for j in range(2)
        }

    rids = range(3)
    if container == "plain":
        rows = [{"id": r, **pair(r, 0)} for r in rids]
        return spark.createDataFrame(rows, f"id bigint, {pair_ddl}"), ""
    if container == "array":
        rows = [{"id": r, "a": [pair(r, k) for k in range(r + 1)]} for r in rids]
        ddl = f"id bigint, a array<struct<{pair_ddl}>>"
        return spark.createDataFrame(rows, ddl), "a."
    rows = [{"id": r, "m": {f"k{k}": pair(r, k) for k in range(r + 1)}} for r in rids]
    ddl = f"id bigint, m map<string, struct<{pair_ddl}>>"
    return spark.createDataFrame(rows, ddl), "m."


def expected_sibling_rows(df: DataFrame, container: str, rewrite) -> list[dict]:
    """``df``'s rows (a :func:`sibling_frame`) as dicts ordered by ``id``,
    with every member ``f{i}`` replaced by ``rewrite(i, value)``."""
    def pair(p):
        return {
            s: {f: rewrite(int(f[1:]), v) for f, v in members.items()}
            for s, members in p.items()
        }

    out = []
    for row in (r.asDict(recursive=True) for r in df.orderBy("id").collect()):
        if container == "plain":
            row.update(pair({"s0": row["s0"], "s1": row["s1"]}))
        elif container == "array":
            row["a"] = [pair(e) for e in row["a"]]
        else:
            row["m"] = {k: pair(v) for k, v in row["m"].items()}
        out.append(row)
    return out


def analyzed_chars(df: DataFrame) -> int:
    """Length of ``df``'s analyzed logical plan, as Spark prints it."""
    return len(df._jdf.queryExecution().analyzed().toString())
