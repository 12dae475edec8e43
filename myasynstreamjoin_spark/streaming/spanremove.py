"""Streaming duplicate-span removal: ExactSubstr-style cleaning at
ingest time, against an ACCUMULATED gram index — a newly arrived
document loses every k-token span the pipeline has EVER seen (plus
within-batch duplicates), without rescanning the corpus. The streaming
twin of `functions/dedup.py::remove_duplicate_spans`, completing the
ingest-time dedup family (exact: `stream_dedup`; near-dup:
`neardup.py`; benchmark: `decontaminate.py`; substring: here).

Per micro-batch (foreachBatch):
1. gram the batch with the SAME kernels as the batch operator
   (`_span_toked` / `_span_grams`);
2. cross-batch deletions = batch occurrences of any gram already in
   the index (first-seen-wins: the index occurrence preceded, so every
   batch occurrence is non-canonical — no counts or positions needed,
   the index is just the distinct gram SET);
3. within-batch deletions = the batch operator's canonical election
   (`_span_election_dels`) over the grams NOT in the index — grams the
   index already covers were fully deleted in step 2 and must not
   elect a batch-local survivor;
4. reassemble the batch docs from surviving positions
   (`_span_reassemble`) into a per-batch overwrite sink
   (replay-idempotent);
5. the index advances one version (old ∪ distinct new grams), with
   the pre-N-base versioning of `streaming/commits.py`, so a
   redelivered batch rebuilds against the index state it originally
   saw.

When batches arrive in ascending doc_id ranges, first-seen order
equals the batch operator's (doc_id, pos) canonical order and the
per-batch sinks union to EXACTLY the batch answer — which is how
`q_stream_remove_spans` shares `q_remove_spans`'s DuckDB oracle.

Scale: the index is the corpus's distinct gram set — at 100 TB use
``hashed=True`` (8-byte grams), bucket the index table by gram so the
per-batch semi-join prunes, and replace full-rewrite versioning with
partitioned appends + manifest (same note as streaming CDC/neardup).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.streaming.commits import (
    drain_foreach_batch,
    read_committed_batches,
    read_replay_base,
)


def clean_batch_against_index(
    batch_df: DataFrame,
    grams_dir: str,
    batch_id: int,
    k: int = 8,
    hashed: bool | str = False,
):
    """The shared micro-batch kernel of the streaming span-removal
    family (used here and by `streaming/pipeline_e2e.py`): clean
    ``batch_df`` against the accumulated gram index at
    ``{grams_dir}/v{N}``. Returns ``(cleaned, commit_index)`` where
    ``cleaned`` is (doc_id, n_tokens, n_removed, text_clean) and
    ``commit_index()`` advances the versioned index to v{batch_id} —
    call it LAST in the batch, after every other sink commits, so a
    crash replays the batch against the exact state it originally
    saw (`replay_base_version` is strictly-below).

    The kernel releases none of its checkpoint blocks: call it inside
    a ``blocks.batch_scope``, as every ``drain_foreach_batch`` body
    runs, which releases them when the batch ends."""
    from myasynstreamjoin_spark.functions.dedup import (
        _span_election_dels,
        _span_grams,
        _span_reassemble,
        _span_toked,
    )

    from myasynstreamjoin_spark.blocks import ckpt_disk

    bid = int(batch_id)
    bspark = batch_df.sparkSession
    toked = _span_toked(batch_df)
    grams = ckpt_disk(_span_grams(toked, k, hashed))

    new_index = grams.select("gram").distinct()
    old_index = read_replay_base(bspark, grams_dir, bid, new_index.schema)

    cross_dels = grams.join(old_index, "gram", "left_semi").select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("pos"),
    )
    fresh = grams.join(old_index, "gram", "left_anti")
    dels = _span_election_dels(fresh, k, disk=True).unionByName(cross_dels)
    cleaned = _span_reassemble(toked, dels)

    def commit_index() -> None:
        old_index.unionByName(new_index).distinct().write.mode(
            "overwrite"
        ).parquet(os.path.join(grams_dir, f"v{bid}"))

    return cleaned, commit_index


def run_stream_remove_spans(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    hashed: bool | str = False,
) -> None:
    """Drain a (bounded, for tests) document stream; cleaned docs
    appear under ``{work_dir}/clean/b{N}``, the gram-index versions
    under ``{work_dir}/grams/v{N}``."""
    clean_dir = os.path.join(work_dir, "clean")
    grams_dir = os.path.join(work_dir, "grams")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        cleaned, commit_index = clean_batch_against_index(
            batch_df, grams_dir, bid, k, hashed
        )
        cleaned.write.mode("overwrite").parquet(
            os.path.join(clean_dir, f"b{bid}")
        )
        commit_index()

    drain_foreach_batch(docs, checkpoint_dir, process)


def read_clean_docs(spark: SparkSession, work_dir: str) -> DataFrame | None:
    return read_committed_batches(spark, os.path.join(work_dir, "clean"))
