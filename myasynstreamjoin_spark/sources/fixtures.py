"""Fixture derivations: driver tables → the reference's logical streams.

The reference consumes three text-record grammars over Kafka
(FIXTURES.md §1, SURVEY.md §1):

  F1 ``ported_words``  "timestamp port word"   (stateless/cluster/HashJoin.scala:44-48)
  F2 ``keyed_values``  "timestamp z x"          (one-group-stateless/cluster/RRGrouping.scala:65-76)
  F3 ``star_rel``      (portId, "ts z x;...")   (star-join-stateless/cluster/HHJoin.scala:41-57)

This module maps the driver's ``events`` table onto those schemas with
the canonical derivations fixed in FIXTURES.md §2, so the Spark queries
and the DuckDB oracles agree exactly:

  ts      events.ts        (BIGINT epoch-ns — normalized at load, tables.normalize_epoch_ns)
  source  CAST(user_id % 3 AS INT)
  key     event_type
  value   CAST(value AS INT)

It also provides the raw-text grammar codec (encode/decode) so the
reference's parse pipeline P1-P7 — ';'-packed messages, positional
space-splits — is reproducible as pure DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig
from myasynstreamjoin_spark.sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def ported_words(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """F1: multi-port word stream ``(ts, source, key)``.

    Reference parse: stateless/cluster/HashJoin.scala:45-48 maps
    "ts port word" → (word, port); the stateful variant keeps ts
    (state/cluster/naive/HashJoin.scala:48-53).
    """
    return _events(spark, sf_dir).select(
        F.col("ts"),
        (F.col("user_id") % cfg.n_sources).cast("int").alias("source"),
        F.col("event_type").alias("key"),
    )


def keyed_values(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """F2: keyed value stream ``(ts, key, value)``.

    Reference parse: one-group-state/cluster/HHGrouping.scala:48-74
    maps "ts z x" → (z, x). Value mapped via floor() to INT so downstream
    sums are exact integers; floor (not cast) because Spark truncates
    double→int while DuckDB rounds — floor agrees everywhere.
    """
    return _events(spark, sf_dir).select(
        F.col("ts"),
        F.col("event_type").alias("key"),
        F.floor("value").cast("int").alias("value"),
    )


def star_rel(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """F3: star-join relations ``(rel, ts, key, value)``.

    Reference parse: star-join-stateless/cluster/HHJoin.scala:41-57,
    where the Kafka message key is the relation id 0..2.
    """
    return _events(spark, sf_dir).select(
        (F.col("user_id") % cfg.n_sources).cast("int").alias("rel"),
        F.col("ts"),
        F.col("event_type").alias("key"),
        F.floor("value").cast("int").alias("value"),
    )


def with_window(df: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG, ts_col: str = "ts") -> DataFrame:
    """Assign the logical tumbling window id ``ltw = floor(ts / lgw)``.

    Exactly the reference's window assignment
    (state/cluster/naive/HashJoin.scala:50: ``ltw = BigInt(ts) / lgw``),
    computed as *integer* division on the epoch-ns column (DIV, not
    float `/` — epoch-ns exceeds double's 53-bit mantissa) — a pure
    projection, no shuffle, stays in whole-stage codegen.
    """
    return df.withColumn("ltw", F.expr(f"CAST({ts_col} DIV {cfg.lgw_ns} AS LONG)"))


# --- raw text grammar codec (reference record format round-trip) -----

def encode_packed_lines(pw: DataFrame, pack_by: str = "source") -> DataFrame:
    """Encode F1 rows back into the reference's packed Kafka payloads:
    records "ts source key" joined by ';' into one message per group
    (the reference packs multiple records per Kafka message and splits
    on ';' — stateless/cluster/HashJoin.scala:66).
    Returns ``(pack_key, payload)``.
    """
    line = F.concat_ws(" ", F.col("ts"), F.col("source"), F.col("key"))
    return (
        pw.select(F.col(pack_by).alias("pack_key"), line.alias("line"))
        .groupBy("pack_key")
        .agg(F.concat_ws(";", F.collect_list("line")).alias("payload"))
    )


def decode_packed_lines(packed: DataFrame) -> DataFrame:
    """Decode packed payloads back to F1 rows — the reference's
    flatMap-split-parse pipeline (P1 ``flatMap(split(';'))`` at
    stateless/cluster/HashJoin.scala:66, P2 positional parse at :45-48)
    as explode + split, fully JVM-side.
    """
    rec = F.explode(F.split(F.col("payload"), ";")).alias("rec")
    parts = F.split(F.col("rec"), " ")
    return (
        packed.select(rec)
        .select(
            parts.getItem(0).cast("long").alias("ts"),
            parts.getItem(1).cast("int").alias("source"),
            parts.getItem(2).alias("key"),
        )
    )
