"""Shared test fixtures: one SparkSession, a DuckDB connection with the
driver tables registered, and an oracle-comparison helper mirroring the
driver's t2 check (row count + schema width + order-insensitive values,
columns sorted by name)."""

from __future__ import annotations

import math
import os
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


def stage_stream_file(df, feed, name: str, mtime: int) -> None:
    """Stage ``df`` as ONE parquet file ``{feed}/{name}`` with a pinned
    mtime — the staging recipe every maxFilesPerTrigger=1 file-stream
    fixture shares (the staging half of
    __spark_entry__._stage_parquet_feed, which also opens the stream).
    The mtime scheme IS the micro-batch order; keep it in one place."""
    import shutil

    feed = str(feed)
    tmp = feed + f".{name}.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    dst = os.path.join(feed, name)
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (mtime, mtime))
