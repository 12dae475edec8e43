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
    Commit,
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
) -> tuple[DataFrame, DataFrame]:
    """The shared micro-batch kernel of the streaming span-removal
    family (used here and by `streaming/pipeline_e2e.py`): clean
    ``batch_df`` against the accumulated gram index under
    ``grams_dir``. Returns ``(cleaned, index)``: ``cleaned`` is
    (doc_id, n_tokens, n_removed, text_clean) and ``index`` the index's
    next version, for the caller's ``Commit`` state.

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

    toked = _span_toked(batch_df)
    grams = ckpt_disk(_span_grams(toked, k, hashed))

    new_index = grams.select("gram").distinct()
    old_index = read_replay_base(
        batch_df.sparkSession, grams_dir, batch_id, new_index.schema
    )

    cross_dels = grams.join(old_index, "gram", "left_semi").select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("pos"),
    )
    fresh = grams.join(old_index, "gram", "left_anti")
    dels = _span_election_dels(fresh, k, disk=True).unionByName(cross_dels)
    cleaned = _span_reassemble(toked, dels)
    return cleaned, old_index.unionByName(new_index).distinct()


def run_stream_remove_spans(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    k: int = 8,
    hashed: bool | str = False,
) -> None:
    """Drain a (bounded, for tests) document stream; cleaned docs
    appear under ``{work_dir}/clean/b{N}``, the gram-index versions
    under ``{work_dir}/grams/v{N}``."""
    clean_dir = os.path.join(work_dir, "clean")
    grams_dir = os.path.join(work_dir, "grams")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        cleaned, index = clean_batch_against_index(
            batch_df, grams_dir, bid, k, hashed
        )
        return Commit(outputs={clean_dir: cleaned}, state={grams_dir: index})

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_clean_docs(spark: SparkSession, work_dir: str) -> DataFrame | None:
    return read_committed_batches(spark, os.path.join(work_dir, "clean"))
