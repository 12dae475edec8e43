"""Continuous end-to-end pipeline (streaming/pipeline_e2e.py): the
folded manifest must equal the batch q_pipeline_e2e answer under
ascending-doc_id batches — WARC ingest, span-index cleaning, gates,
static-bench decontamination, carried-prefix packing, and the manifest
fold all compose stream ≡ batch (module docstring has the
stage-by-stage argument)."""

from __future__ import annotations

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()


def test_stream_manifest_equals_batch_pipeline(spark, sf_dir):
    batch = sorted(
        tuple(r) for r in QUERIES["q_pipeline_e2e"](spark, sf_dir).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in QUERIES["q_stream_pipeline_e2e"](spark, sf_dir).collect()
    )
    assert streamed == batch
    assert len(batch) > 0  # the chain must keep SOME corpus at sf0.001


def test_batch_pipeline_columns(spark, sf_dir):
    df = QUERIES["q_pipeline_e2e"](spark, sf_dir)
    assert df.columns == ["shard", "n_docs", "n_tokens", "n_seqs", "checksum"]


def test_any_ascending_split_matches_single_batch(spark, tmp_path):
    """Fold algebra: 1-, 2-, and 3-batch ascending-doc_id splits of the
    same synthetic corpus must produce identical manifests. The
    single-batch run IS the batch computation (one pass through the
    batch kernels), so mutual equality proves the carried packing
    state (cum_tokens, last_n) and the gram-index versioning reproduce
    batch semantics under any split. Gates are opened wide
    (quality_min=0, lang_gate off) so the property tests the fold, not
    the corpus."""
    import os

    from pyspark.sql import functions as F

    from myasynstreamjoin_spark.streaming.pipeline_e2e import (
        read_pipeline_manifest,
        run_stream_pipeline_e2e,
    )
    from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa"]
    rows = []
    for i in range(24):
        toks = [words[(i * 7 + j * 3) % 10] for j in range(12 + i % 5)]
        if i % 4 == 0:  # plant a duplicated 8-gram across docs
            toks[:8] = words[:8]
        rows.append((i, "srcX", " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = spark.createDataFrame(
        [(1000, " ".join(words[2:10]))], "doc_id long, text string"
    )

    results = {}
    for n_batches in (1, 2, 3):
        base = tmp_path / f"s{n_batches}"
        feed = base / "feed"
        os.makedirs(feed)
        bounds = [24 * b // n_batches for b in range(n_batches + 1)]
        for b in range(n_batches):
            stage_stream_file(
                docs.where(
                    (F.col("doc_id") >= bounds[b])
                    & (F.col("doc_id") < bounds[b + 1])
                ),
                feed, f"b{b}.parquet", 1_700_000_000 + 100 * b,
            )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_stream_pipeline_e2e(
            stream, spark, bench,
            work_dir=str(base / "work"),
            checkpoint_dir=str(base / "ckpt"),
            n_shards=4,
            quality_min=0.0, lang_gate=False,
        )
        results[n_batches] = sorted(
            tuple(r)
            for r in read_pipeline_manifest(
                spark, str(base / "work"), budget=16
            ).collect()
        )
    assert results[1] == results[2] == results[3]
    assert len(results[1]) > 0
