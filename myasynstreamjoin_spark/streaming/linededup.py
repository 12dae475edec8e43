"""Streaming line dedup: C4-style keep-first LINE cleaning at ingest
time, against an ACCUMULATED line index — a newly arrived document
loses every line the pipeline has EVER seen (plus within-batch later
occurrences), without rescanning the corpus. The streaming twin of
`functions/lines.py::line_dedup`, completing the ingest-time dedup
family at line granularity (exact docs: `stream_dedup`; near-dup:
`neardup.py`; spans: `spanremove.py`; lines: here).

Per micro-batch (foreachBatch):
1. segment the batch with the SAME `doc_lines` kernel as the batch
   operator;
2. cross-batch drops = every batch occurrence of a line already in
   the index (first-seen-wins: the index occurrence preceded, so no
   counts or positions are needed — the index is the distinct line
   SET, like the span stream's gram set);
3. within-batch drops = the batch operator's min-struct election over
   the lines NOT in the index;
4. reassemble via the shared `_line_reassemble` into a per-batch
   overwrite sink (replay-idempotent);
5. the index advances one version (old ∪ distinct new lines) with the
   pre-N-base versioning of `streaming/commits.py`, so a redelivered
   batch rebuilds against the state it originally saw.

When batches arrive in ascending doc_id ranges, first-seen order
equals the batch operator's (doc_id, line_no) order and the per-batch
sinks union to EXACTLY the batch answer — which is how
`q_stream_line_dedup` shares `q_line_dedup`'s DuckDB oracle.

Scale: the index is the corpus's distinct line set; at 100 TB persist
it as the bucketed `write_line_index` table (partitioned appends +
manifest instead of full-rewrite versioning — same note as the CDC
and near-dup streams) and probe bucket-locally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    read_committed_batches,
    read_replay_base,
)


def run_stream_line_dedup(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    width: int | None = 12,
    delim: str = "\n",
    min_chars: int = 1,
) -> None:
    """Drain a (bounded, for tests) document stream; cleaned docs
    appear under ``{work_dir}/clean/b{N}`` (doc_id, n_lines, n_removed,
    text_clean: the batch operator's exact schema), the line-index
    versions under ``{work_dir}/lines/v{N}``."""
    from myasynstreamjoin_spark.blocks import ckpt_disk
    from myasynstreamjoin_spark.functions.lines import (
        _line_reassemble,
        doc_lines,
    )

    clean_dir = os.path.join(work_dir, "clean")
    index_dir = os.path.join(work_dir, "lines")
    sep = " " if width is not None else delim

    def process(batch_df: DataFrame, bid: int) -> Commit:
        # corpus-grain rule — see myasynstreamjoin_spark/blocks.py
        # (round-7 streaming-e2e finding)
        lines = ckpt_disk(doc_lines(batch_df, width, delim))
        cand = lines.where(F.length("line") >= min_chars).select(
            "line", "doc_id", "line_no"
        )

        new_index = cand.select("line").distinct()
        old_index = read_replay_base(
            batch_df.sparkSession, index_dir, bid, new_index.schema
        )

        cross_drops = cand.join(old_index, "line", "left_semi").select(
            "doc_id", "line_no"
        )
        fresh = cand.join(old_index, "line", "left_anti")
        first = fresh.groupBy("line").agg(
            F.min(F.struct("doc_id", "line_no")).alias("first"),
            F.count("*").alias("__c"),
        )
        within_drops = (
            fresh.join(first.where(F.col("__c") >= 2), "line")
            .where(
                ~(
                    (F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("line_no") == F.col("first.line_no"))
                )
            )
            .select("doc_id", "line_no")
        )
        cleaned = _line_reassemble(
            lines, cross_drops.unionByName(within_drops), sep
        )
        return Commit(
            outputs={clean_dir: cleaned},
            state={index_dir: old_index.unionByName(new_index).distinct()},
        )

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_clean_docs(spark: SparkSession, work_dir: str) -> DataFrame | None:
    """Union of the COMMITTED (_SUCCESS) per-batch cleaned sinks."""
    return read_committed_batches(spark, os.path.join(work_dir, "clean"))
