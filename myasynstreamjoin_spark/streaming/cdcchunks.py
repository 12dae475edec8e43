"""Streaming content-defined-chunk dedup: ingest-time chunk accounting
against an ACCUMULATED (source, chunk_hash) index — the streaming twin
of `functions/dedup.py::cdc_dedup_stats`, completing the ingest-time
dedup family at chunk granularity (exact docs: `dedup.py`; near-dup:
`neardup.py`; spans: `spanremove.py`; lines: `linededup.py`; chunks:
here).

Per micro-batch (foreachBatch):
1. chunk the batch with the SAME `cdc_chunks` kernel as the batch
   operator (boundaries are per-document content functions, so a
   doc's chunk multiset is identical whether it arrives in a batch
   scan or a micro-batch);
2. fold the batch's per-(source, chunk_hash) counts into the index
   version (old ∪ new with counts ADDED — a full-outer merge);
3. advance the per-source doc-count tally the same way;
4. versioning uses the pre-N-base replay rule of
   `streaming/commits.py`, so a redelivered batch rebuilds against
   the state it originally saw.

Chunk-count accumulation is COMMUTATIVE — unlike the line/span twins
(first-seen-wins needs ascending arrival to equal the batch answer),
the final chunk index is the same multiset for ANY batch order, so
`read_chunk_stats` equals the batch operator's output under
arbitrary arrival order. That is why `q_stream_cdc_chunks` shares
`q_cdc_chunks`'s DuckDB oracle with no ordering caveat.

Scale: the index is one row per distinct (source, chunk) — at 100 TB
persist it as a bucketed table keyed by chunk_hash (partitioned
appends + manifest instead of full-rewrite versioning, same note as
the other ingest-time indexes) and fold batches bucket-locally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    read_latest_version,
    read_replay_base,
)


def run_stream_cdc_chunks(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    w: int = 8,
    mask_bits: int = 6,
    text_col: str = "text",
) -> None:
    """Drain a (bounded, for tests) document stream; index versions
    (chunk rows AND per-source doc counts, one two-part version per
    batch) accumulate under ``{work_dir}/chunks/v{N}``."""
    from myasynstreamjoin_spark.functions.dedup import cdc_chunks

    index_dir = os.path.join(work_dir, "chunks")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        new_counts = (
            cdc_chunks(batch_df, w, mask_bits, text_col)
            .groupBy("source", "chunk_hash")
            .agg(F.count("*").alias("cnt"), F.min("chunk_len").alias("len"))
        )
        new_docs = (
            batch_df.where(F.length(text_col) >= 1)
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"))
        )
        old = read_replay_base(
            batch_df.sparkSession, index_dir, bid,
            {"chunks": new_counts.schema, "docs": new_docs.schema},
        )

        o = old["chunks"].select(
            "source", "chunk_hash",
            F.col("cnt").alias("ocnt"), F.col("len").alias("olen"),
        )
        merged = (
            new_counts.join(o, ["source", "chunk_hash"], "full_outer")
            .select(
                "source",
                "chunk_hash",
                (
                    F.coalesce(F.col("cnt"), F.lit(0))
                    + F.coalesce(F.col("ocnt"), F.lit(0))
                ).alias("cnt"),
                F.coalesce(F.col("len"), F.col("olen")).alias("len"),
            )
        )
        merged_docs = (
            new_docs.select("source", F.col("n_docs").alias("n"))
            .unionByName(
                old["docs"].select("source", F.col("n_docs").alias("n"))
            )
            .groupBy("source")
            .agg(F.sum("n").cast("long").alias("n_docs"))
        )
        return Commit(
            state={index_dir: {"chunks": merged, "docs": merged_docs}}
        )

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_chunk_stats(spark: SparkSession, work_dir: str) -> DataFrame | None:
    """Per-source dedup report derived from the LATEST index version —
    column-for-column the batch ``cdc_dedup_stats`` schema, and (by
    commutativity of count folding) value-identical to running the
    batch operator over everything the stream has ingested."""
    index = read_latest_version(
        spark, os.path.join(work_dir, "chunks"), ("chunks", "docs")
    )
    if index is None:
        return None
    counts, n_docs = index["chunks"], index["docs"]
    stats = counts.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_unique_chunks"),
        (F.sum("cnt") - F.count("*")).cast("long").alias("dup_chunks"),
        F.sum((F.col("cnt") - 1) * F.col("len")).cast("long").alias("dup_chars"),
        F.sum(F.col("cnt") * F.col("len")).cast("long").alias("total_chars"),
    )
    return (
        stats.join(n_docs, "source")
        .withColumn(
            "dup_ppm",
            F.expr("dup_chunks * 1000000 DIV n_chunks").cast("long"),
        )
        .select(
            "source", "n_docs", "n_chunks", "n_unique_chunks",
            "dup_chunks", "dup_chars", "total_chars", "dup_ppm",
        )
    )
