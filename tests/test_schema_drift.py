"""Dtype-drift guard: the driver regenerates the test parquet between
rounds and has already changed ``events.ts``'s physical type once
(TIMESTAMP(NANOS) → timestamp[us]), which silently broke 27 components
in round 2. This test pins the ENGINE's post-load logical schema for
every driver table, so the next physical-type drift fails one obvious
test instead of dozens of confusing ones.

The contract under test: whatever the parquet physical types are,
``tables.load_table`` presents one stable logical schema — in
particular ``events.ts`` is BIGINT epoch-ns (the reference's BigInt
time model, state/cluster/naive/HashJoin.scala:50) and its VALUES agree
with DuckDB's ``epoch_ns(ts)``, which is what every oracle uses.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.windowed import stream_events

# Engine-logical types after load_table normalization. Only columns the
# engine does arithmetic on are pinned — string/double payload columns
# may drift without breaking anything.
EXPECTED = {
    "region": {"r_regionkey": T.IntegerType(), "r_name": T.StringType()},
    "nation": {
        "n_nationkey": T.IntegerType(),
        "n_name": T.StringType(),
        "n_regionkey": T.IntegerType(),
    },
    "supplier": {
        "s_suppkey": T.LongType(),
        "s_name": T.StringType(),
        "s_nationkey": T.IntegerType(),
        "s_acctbal": T.DoubleType(),
    },
    "part": {
        "p_partkey": T.LongType(),
        "p_name": T.StringType(),
        "p_brand": T.StringType(),
        "p_type": T.StringType(),
        "p_size": T.IntegerType(),
        "p_retailprice": T.DoubleType(),
    },
    "events": {
        "event_id": T.LongType(),
        "ts": T.LongType(),  # epoch-ns, ALWAYS — the load-boundary guarantee
        "user_id": T.LongType(),
        "event_type": T.StringType(),
        "value": T.DoubleType(),
        "props": T.StringType(),
    },
    "orders": {
        "o_orderkey": T.LongType(),
        "o_custkey": T.LongType(),
        "o_orderstatus": T.StringType(),
        "o_totalprice": T.DoubleType(),
        # date arithmetic in the TPC-H shapes is NTZ + DuckDB-mirrored;
        # a drift to instant-typed TIMESTAMP would shift epochs under
        # non-UTC sessions, so the NTZ-ness itself is pinned
        "o_orderdate": T.TimestampNTZType(),
        "o_orderpriority": T.StringType(),
    },
    "lineitem": {
        "l_orderkey": T.LongType(),
        "l_partkey": T.LongType(),
        "l_suppkey": T.LongType(),
        "l_linenumber": T.IntegerType(),
        "l_quantity": T.DoubleType(),
        "l_extendedprice": T.DoubleType(),
        "l_discount": T.DoubleType(),
        "l_tax": T.DoubleType(),
        "l_returnflag": T.StringType(),
        "l_linestatus": T.StringType(),
        "l_shipdate": T.TimestampNTZType(),
    },
    "customer": {
        "c_custkey": T.LongType(),
        "c_name": T.StringType(),
        "c_nationkey": T.IntegerType(),
        "c_acctbal": T.DoubleType(),
        "c_mktsegment": T.StringType(),
    },
    "documents": {
        "doc_id": T.LongType(),
        "text": T.StringType(),
        "lang": T.StringType(),
        "source": T.StringType(),
        "n_chars": T.LongType(),
    },
    "embeddings": {
        "vec_id": T.LongType(),
        "embedding": T.ArrayType(T.FloatType(), True),
        "label": T.IntegerType(),
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_post_load_logical_schema(spark, sf_dir, name):
    df = tables.load_table(spark, sf_dir, name)
    got = {f.name: f.dataType for f in df.schema.fields}
    for col, dtype in EXPECTED[name].items():
        assert col in got, f"{name}.{col} missing from driver parquet"
        assert got[col] == dtype, (
            f"{name}.{col}: engine expects {dtype}, load_table produced "
            f"{got[col]} — parquet physical type drifted and "
            f"normalize_epoch_ns does not cover it"
        )


def test_documents_text_never_null(spark, sf_dir):
    """shingle_docs drops NULL-text docs (so its shingle arrays are
    non-empty by construction) and the oracle CTEs mirror the filter —
    but several NON-shingle consumers (text_stats, simhash, quality)
    read text unfiltered. If the driver ever regenerates the fixture
    with NULL text, this fails first with an obvious message instead of
    a scatter of parity mismatches (the round-2 regression class)."""
    n = (
        tables.load_table(spark, sf_dir, "documents")
        .where("text IS NULL")
        .count()
    )
    assert n == 0, (
        f"driver fixture now ships {n} NULL-text documents — audit every "
        "text consumer that does not go through shingle_docs"
    )


def test_events_ts_values_match_duckdb_epoch_ns(spark, sf_dir):
    """The normalized ts values (not just the type) must equal DuckDB's
    epoch_ns(ts) on the same file — this is the oracle contract every
    windowed query depends on."""
    got = (
        tables.load_table(spark, sf_dir, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi", "sum(ts % 1000000007) AS s")
        .collect()[0]
    )
    want = duckdb.sql(
        "SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi,"
        " sum(epoch_ns(ts) % 1000000007) AS s"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert (got["lo"], got["hi"], int(got["s"])) == (want[0], want[1], int(want[2]))


def test_stream_events_matches_batch_schema(spark, sf_dir):
    """The streaming source must present the same logical schema as the
    batch loader — same normalization, both boundaries."""
    batch = tables.load_table(spark, sf_dir, "events").schema
    stream = stream_events(spark, sf_dir).schema
    assert {f.name: f.dataType for f in stream.fields} == {
        f.name: f.dataType for f in batch.fields
    }


def test_normalization_is_timezone_independent(spark, sf_dir):
    """A caller running a non-UTC session timezone must get the same
    epoch-ns values — the NTZ wall clock is defined as UTC by the
    fixture contract, not by whoever loads it."""
    ref = (
        tables.load_table(spark, sf_dir, "events")
        .selectExpr("sum(ts % 1000000007) AS s")
        .collect()[0]["s"]
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = (
            tables.load_table(spark, sf_dir, "events")
            .selectExpr("sum(ts % 1000000007) AS s")
            .collect()[0]["s"]
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert int(got) == int(ref)


def test_documents_text_is_ascii(spark, sf_dir):
    """q_audio_stats' oracle equates per-CHAR ord() with per-BYTE PCM
    samples — valid only while the fixture text is pure ASCII. If the
    driver ever regenerates documents with multi-byte characters, this
    fails first with an obvious message."""
    n = (
        tables.load_table(spark, sf_dir, "documents")
        .where("octet_length(text) <> char_length(text)")
        .count()
    )
    assert n == 0, (
        f"driver fixture now ships {n} non-ASCII documents — the "
        "audio_stats oracle's char==byte equivalence no longer holds"
    )


def _regenerate_nation(sf_dir, dest, limit=None):
    """Rewrite ``dest`` as the nation table with regionkey widened
    int32 -> int64 (a new mtime/size, i.e. a new file identity)."""
    tail = f" ORDER BY n_nationkey LIMIT {limit}" if limit else ""
    duckdb.sql(
        f"COPY (SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) "
        f"AS n_regionkey FROM '{sf_dir}/nation.parquet'{tail}) "
        f"TO '{dest}' (FORMAT PARQUET)"
    )


def test_schema_cache_invalidates_on_file_change(spark, sf_dir, tmp_path):
    """The cached on-disk schema keys on the file identity (mtime_ns,
    size): a regenerated file — the exact drift scenario this module
    guards — must MISS the cache and re-infer, or the next
    physical-type drift would be masked by a stale cached schema."""
    import shutil

    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    s1 = tables.table_file_schema(spark, str(tmp_path), "nation")
    assert s1["n_regionkey"].dataType == T.IntegerType()
    # second read: served from cache, identical to inference
    assert tables.table_file_schema(spark, str(tmp_path), "nation") == s1
    assert s1 == spark.read.parquet(str(tmp_path / "nation.parquet")).schema

    _regenerate_nation(sf_dir, tmp_path / "nation.parquet")
    s2 = tables.table_file_schema(spark, str(tmp_path), "nation")
    assert s2["n_regionkey"].dataType == T.LongType()


def test_load_table_dataframe_cache_invalidates_on_file_change(
    spark, sf_dir, tmp_path
):
    """load_table returns one lazy DataFrame object per (session, file
    identity); a regenerated file must yield a FRESH DataFrame with the
    newly inferred schema, or physical-type drift would be masked."""
    import shutil

    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    df1 = tables.load_table(spark, str(tmp_path), "nation")
    df2 = tables.load_table(spark, str(tmp_path), "nation")
    assert df2 is df1  # cache hit: identical plan object, no data held
    assert df1.count() == 25

    _regenerate_nation(sf_dir, tmp_path / "nation.parquet")
    df3 = tables.load_table(spark, str(tmp_path), "nation")
    assert df3 is not df1
    assert df3.schema["n_regionkey"].dataType == T.LongType()
    assert df3.count() == 25


def test_load_table_self_join_via_alias(spark, sf_dir):
    """load_table's shared-plan contract (round-11 advice): two calls
    return the SAME DataFrame object, so a self-join must alias each
    side — and with aliases it must WORK, not raise
    AMBIGUOUS_SELF_JOIN. Guards the documented usage pattern."""
    a = tables.load_table(spark, sf_dir, "nation").alias("a")
    b = tables.load_table(spark, sf_dir, "nation").alias("b")
    joined = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
    # 25 nations over 5 regions (5 each) -> 5 * 5*5 = 125 pairs
    assert joined.count() == 125
    assert joined.select(F.col("a.n_nationkey"), F.col("b.n_nationkey")).count() == 125
