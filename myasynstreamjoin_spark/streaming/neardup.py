"""Streaming near-duplicate detection: MinHash-banded LSH against an
ACCUMULATED index — the ingest-time dedup an LLM corpus pipeline runs
so a newly crawled document is checked against everything already
ingested, without ever rescanning the corpus.

Per micro-batch (foreachBatch):
1. shingle + sign the batch (same kernels as the batch operator,
   ``functions.dedup``);
2. candidates = batch band keys ⋈ the index's band table (each new doc
   meets only its band-colliding predecessors — the corpus never
   rescans), plus the batch's within-batch band collisions;
3. exact-Jaccard verification on candidates only, pairs ≥ threshold
   land in a per-batch overwrite sink (replay-idempotent);
4. the index advances one version (bands + shingles), written with the
   pre-N-base versioning of ``streaming/commits.py``, so redelivered
   batches rebuild against the index state they originally saw.

Pairs are emitted once, when the LATER document arrives, oriented
(earlier=doc_a, later=doc_b by id); the union over batches equals the
batch operator's pair set (pytest-pinned).

Scale: the index's band table is (doc × bands) small rows keyed by
(band, bh) — bucket it by band hash at real scale so the per-batch
candidate join prunes; the full-rewrite versioning here becomes
partitioned appends + manifest versions, orthogonal to the dedup
semantics (same note as streaming CDC).
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


def _band_rows(
    docs: DataFrame,
    shingled: DataFrame,
    n_hashes: int,
    bands: int,
    k: int,
    replayable: bool = False,
) -> DataFrame:
    from myasynstreamjoin_spark.functions.dedup import (
        banded_signature_rows,
        minhash_signatures,
    )

    # same hashed-shingle signature path AND the shared band-identity
    # builder as the batch operator, so the streamed pair set equals
    # minhash_lsh_pairs' exactly by construction (replayable mode
    # mirrors its md5/exact-band-tuple oracle form)
    sigs = minhash_signatures(
        docs, n_hashes, k, shingled=shingled,
        pre_hashed="md5" if replayable else True,
    )
    return banded_signature_rows(
        sigs, bands, n_hashes // bands, replayable
    )


def run_stream_neardup(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    replayable: bool = False,
) -> None:
    """Drain a (bounded, for tests) document stream; near-dup pairs
    appear under ``{work_dir}/pairs/b{N}``; the index versions live
    under ``{work_dir}/bands/v{N}`` and ``{work_dir}/shingles/v{N}``.
    """
    from myasynstreamjoin_spark.functions.dedup import shingle_docs

    bands_dir = os.path.join(work_dir, "bands")
    sh_dir = os.path.join(work_dir, "shingles")
    pairs_dir = os.path.join(work_dir, "pairs")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        bspark = batch_df.sparkSession
        # batch_scope at batch grain (blocks.py rule): the committed
        # index versions are the cross-batch state; blocks die with the
        # batch at scope exit
        batch = batch_df.localCheckpoint(eager=True)
        new_sh = shingle_docs(
            batch, k, hashed="md5" if replayable else True
        ).localCheckpoint(eager=True)
        new_bands = _band_rows(
            batch, new_sh, n_hashes, bands, k, replayable
        ).localCheckpoint(eager=True)

        old_bands = read_replay_base(bspark, bands_dir, bid, new_bands.schema)
        old_sh = read_replay_base(bspark, sh_dir, bid, new_sh.schema)

        # candidates: new-vs-index plus within-batch (a < b)
        nb = new_bands.select(
            F.col("doc_id").alias("doc_new"), "band", "bh"
        )
        cross = nb.join(
            old_bands.select(F.col("doc_id").alias("doc_old"), "band", "bh"),
            ["band", "bh"],
        ).select(
            F.least("doc_old", "doc_new").alias("doc_a"),
            F.greatest("doc_old", "doc_new").alias("doc_b"),
        )
        within = (
            nb.join(
                new_bands.select(F.col("doc_id").alias("doc_old"), "band", "bh"),
                ["band", "bh"],
            )
            .where(F.col("doc_old") < F.col("doc_new"))
            .select(
                F.col("doc_old").alias("doc_a"),
                F.col("doc_new").alias("doc_b"),
            )
        )
        cand = cross.unionByName(within).distinct()
        all_sh = old_sh.unionByName(new_sh)
        sa = all_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = all_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
            F.array_union("sh_a", "sh_b")
        )
        pairs = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .where(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        )
        return Commit(
            outputs={pairs_dir: pairs},
            state={
                bands_dir: old_bands.unionByName(new_bands),
                sh_dir: old_sh.unionByName(new_sh),
            },
        )

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_neardup_pairs(spark: SparkSession, work_dir: str) -> DataFrame | None:
    return read_committed_batches(spark, os.path.join(work_dir, "pairs"))
