"""Shared test fixtures: one SparkSession, a DuckDB connection with the
driver tables registered, and an oracle-comparison helper mirroring the
driver's t2 check (row count + schema width + order-insensitive values,
columns sorted by name)."""

from __future__ import annotations

import ast
import contextlib
import math
import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myasynstreamjoin_spark.session import get_spark
from myasynstreamjoin_spark.sources.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="masj-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "tolist"):  # numpy scalars/arrays from duckdb
        return _norm_cell(v.tolist())
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name (driver behavior), normalize floats, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def assert_matches_oracle(spark_df, duck_con, sql: str):
    """Order-insensitive comparison of a Spark DataFrame against a
    DuckDB result — the local stand-in for the driver's value hash.

    Also asserts Arrow TYPE equality (tools/type_audit.canon classes):
    the real driver's hash is typed, so a DuckDB HUGEINT/decimal128
    against a Spark bigint is a red even when values are bit-identical
    (round-5 root cause). A Python-value compare alone cannot see it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from tools.type_audit import (
        compare_schemas,
        nonscalar_columns,
        oracle_arrow_schema,
    )

    arrow_schema = to_arrow_schema(spark_df.schema)
    # Driver-canon shape guard (round-6 red class): the driver sorts a
    # pandas frame by ALL columns, so a top-level array/map/struct cell
    # raises `unhashable type: 'numpy.ndarray'` before any compare.
    # Oracle-backed queries must emit scalar columns only — digest
    # nested values (md5(concat_ws(...)) / integer fold) on BOTH sides.
    shape_bad = nonscalar_columns(arrow_schema)
    assert not shape_bad, f"driver-unhashable columns: {'; '.join(shape_bad)}"

    type_bad = compare_schemas(arrow_schema, oracle_arrow_schema(duck_con, sql))
    assert not type_bad, f"typed-schema mismatch: {'; '.join(type_bad)}"

    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]
    res = duck_con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    a = normalize_rows(spark_cols, spark_rows)
    b = normalize_rows(duck_cols, duck_rows)
    mism = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mism, f"value mismatch ({len(mism)} rows), first: {mism[:3]}"


def code_nodes(tree):
    """Every AST node except docstrings (comments never reach the AST)."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [n for n in ast.walk(tree) if id(n) not in docstrings]


_HASH_EXCHANGE = re.compile(r"hashpartitioning\(.*?, (\d+)\), ENSURE_REQUIREMENTS")


@contextlib.contextmanager
def executed_plans(spark):
    """Yields a list that, after the block, holds the final physical
    plan of every SQL execution the block ran (from the SQL status
    store, which exists with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    plans: list[str] = []
    yield plans
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    plans.extend(
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in seen
    )


def hash_exchange_widths(plans: list[str]) -> set[int]:
    """Partition counts of the planner-inserted hash exchanges in
    ``plans`` (user ``repartition(n, ...)`` calls are not counted)."""
    return {int(n) for plan in plans for n in _HASH_EXCHANGE.findall(plan)}
