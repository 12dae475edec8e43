"""Continuous training-corpus pipeline: the streaming twin of the
batch ``q_pipeline_e2e`` chain — documents flow in as ascending-doc_id
micro-batches and EVERY stage of the batch pipeline runs incrementally:
WARC codec ingest, duplicate-span removal against the accumulated gram
index, quality/langid gates, exact decontamination against a STATIC
benchmark set, sequence packing with carried per-shard running totals,
and an incrementally folded manifest whose latest version equals the
batch pipeline's per-shard answer — which is how
``q_stream_pipeline_e2e`` shares ``q_pipeline_e2e``'s DuckDB oracle.

Why stream ≡ batch, stage by stage:

- WARC ingest: a stateless per-record codec.
- span removal: first-seen-wins vs the versioned gram index; with
  ascending doc_id batches, first-seen order equals the batch
  operator's (doc_id, pos) canonical order (the
  `streaming/spanremove.py` invariant) — and an earlier doc's cleaned
  text is FINAL: later arrivals can only lose their own spans, never
  reach back.
- gates: per-doc, stateless on the final cleaned text.
- decontamination: the benchmark side is static, so the per-batch
  anti-join equals the batch gate (`streaming/decontaminate.py`
  invariant).
- packing: ``seq_id = exclusive-prefix DIV budget`` in (shard,
  doc_id) order; ascending batches only APPEND to each shard's
  stream, so the carried per-shard (n_tokens, last_n) state
  reproduces the batch assignment exactly. The state is
  BUDGET-INDEPENDENT: sequences-started derives at READ time as
  ``(n_tokens − last_n) DIV budget + 1`` (prefixes are monotone
  within a shard, so the LAST doc — max doc_id — carries the max
  exclusive prefix ``total − last_n``), which means one folded
  state answers the manifest question for ANY packing budget.

Scale: per batch this pays one gram semi/anti-join against the index,
one broadcast-style decontamination pass, and an n_shards-row manifest
fold — no corpus rescans, no growing driver state. At 100 TB bucket
the gram index by gram and swap full-rewrite versioning for
partitioned appends + manifest (same note as the CDC/near-dup/span
streams); persist the benchmark gram set instead of re-deriving it
per batch.
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

_STATE_SCHEMA = (
    "shard int, n_docs long, n_tokens long, checksum long, last_n long"
)


def run_stream_pipeline_e2e(
    docs: DataFrame,
    spark: SparkSession,
    bench: DataFrame,
    work_dir: str,
    checkpoint_dir: str | None = None,
    k: int = 8,
    n_shards: int = 8,
    quality_min: float = 0.2,
    lang_gate: bool = True,
) -> None:
    """Drain a (bounded, for tests) TRAIN document stream
    (doc_id, source, text) through the full pipeline; gram-index
    versions land under ``{work_dir}/grams/v{N}`` and manifest/packing
    state under ``{work_dir}/manifest/v{N}``. ``bench`` is the static
    benchmark corpus (doc_id, text) the train docs are decontaminated
    against."""
    from myasynstreamjoin_spark.functions.dedup import (
        bloom_decontaminate,
        md5_32,
    )
    from myasynstreamjoin_spark.streaming.spanremove import (
        clean_batch_against_index,
    )
    from myasynstreamjoin_spark.functions.text import (
        lang_id,
        normalized,
        quality_score,
        tokens,
    )
    from myasynstreamjoin_spark.operators.relational import hash_bucket
    from myasynstreamjoin_spark.sources.warc import (
        encode_warc_blobs,
        parse_warc_blobs,
        warc_documents,
    )

    grams_dir = os.path.join(work_dir, "grams")
    man_dir = os.path.join(work_dir, "manifest")

    def process(batch_df: DataFrame, bid: int) -> Commit:

        # 1. WARC codec ingest (stateless; drops NULL texts)
        ingested = warc_documents(
            parse_warc_blobs(encode_warc_blobs(batch_df))
        )

        # 2. span removal vs the accumulated gram index (the shared
        # streaming/spanremove.py kernel)
        cleaned, grams = clean_batch_against_index(
            ingested, grams_dir, bid, k
        )
        clean = cleaned.where(
            F.col("n_tokens") - F.col("n_removed") >= k
        ).select("doc_id", F.col("text_clean").alias("text"))

        # 3. quality + language gates on the cleaned text
        gate = F.col("quality") >= quality_min
        if lang_gate:
            gate = gate & (F.col("lang_guess") == "en")
        gated = (
            clean.join(quality_score(clean), "doc_id")
            .join(lang_id(clean).select("doc_id", "lang_guess"), "doc_id")
            .where(gate)
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )

        # 4. decontamination vs the static benchmark corpus
        survivors = gated.join(
            bloom_decontaminate(gated, bench, k=k), "doc_id"
        )

        # 5./6. packing + manifest fold: per-shard delta with the
        # batch's LAST doc's token count (max doc_id → max prefix)
        per_doc = survivors.select(
            "doc_id",
            hash_bucket(F.col("doc_id").cast("string"), n_shards).alias(
                "shard"
            ),
            F.size(tokens("text")).cast("long").alias("nt"),
            md5_32(normalized(F.col("text"))).alias("h"),
        )
        delta = per_doc.groupBy("shard").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum("h").alias("checksum"),
            F.max_by("nt", "doc_id").alias("last_n"),
        )
        base = read_replay_base(
            batch_df.sparkSession, man_dir, bid, _STATE_SCHEMA
        )
        b, d = base.alias("b"), delta.alias("d")
        z = F.lit(0).cast("long")
        merged = b.join(d, "shard", "full").select(
            "shard",
            (F.coalesce("b.n_docs", z) + F.coalesce("d.n_docs", z)).alias(
                "n_docs"
            ),
            (
                F.coalesce("b.n_tokens", z) + F.coalesce("d.n_tokens", z)
            ).alias("n_tokens"),
            (
                F.coalesce("b.checksum", z) + F.coalesce("d.checksum", z)
            ).alias("checksum"),
            F.coalesce("d.last_n", "b.last_n").alias("last_n"),
        )
        # every checkpoint block this batch created, `gated` above
        # included, is released by drain_foreach_batch's batch scope
        # once the commit is written
        return Commit(state={man_dir: merged, grams_dir: grams})

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_pipeline_manifest(
    spark: SparkSession, work_dir: str, budget: int = 512
) -> DataFrame | None:
    """The latest committed manifest, in the batch pipeline's shape:
    (shard, n_docs, n_tokens, n_seqs, checksum). ``budget`` is applied
    HERE — the folded state is budget-independent (see module
    docstring), so one run answers any packing budget at read time."""
    state = read_latest_version(spark, os.path.join(work_dir, "manifest"))
    if state is None:
        return None
    return state.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr(f"(n_tokens - last_n) DIV {int(budget)} + 1").alias(
            "n_seqs"
        ),
        "checksum",
    )
