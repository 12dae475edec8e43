"""Streaming perceptual IMAGE near-dup: banded-Hamming aHash lookups
against an ACCUMULATED hash index — the ingest-time twin of
`functions.multimodal.image_neardup_pairs`, mirroring the MinHash
text path (`streaming/neardup.py`): a newly ingested image is checked
against every image already seen, without rescanning the corpus.

Per micro-batch (foreachBatch):
1. aHash the batch's decodable images (same kernel as the batch op);
2. candidates = batch band keys ⋈ the index's band rows (derived from
   the stored hashes — the index IS just (media_id, ahash), one narrow
   row per image, so versioning it costs almost nothing), plus the
   batch's within-batch band collisions;
3. exact bit_count(xor) verification on candidates only; pairs within
   the radius land in a per-batch OVERWRITE sink (replay-idempotent);
4. the hash index advances one version with the pre-N-base
   versioning of `streaming/commits.py`, so redelivered batches
   rebuild against the index state they originally saw.

Pairs are emitted once, when the LATER image arrives (a < b by id);
the union over batches equals the batch operator's pair set for any
batch split (pytest-pinned — the banded candidate scheme is lossless
within the radius, so arrival order cannot lose a pair).

Scale: the index is one row per image ever ingested — hashes, not
pixels; at real scale bucket it by band key so the per-batch join
prunes (same note as the MinHash index). The pixel decode runs once
per image, in the batch it arrives in.
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


def run_stream_image_neardup(
    media: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    max_dist: int = 3,
    n_bands: int | None = None,
) -> None:
    """Drain a (bounded, for tests) media stream; pairs appear under
    ``{work_dir}/pairs/b{N}``, hash-index versions under
    ``{work_dir}/hashes/v{N}``."""
    from myasynstreamjoin_spark.functions.multimodal import (
        _ahash_band_rows,
        _bands_for,
        image_ahash,
    )

    nb = _bands_for(max_dist, n_bands)
    hash_dir = os.path.join(work_dir, "hashes")
    pairs_dir = os.path.join(work_dir, "pairs")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        bspark = batch_df.sparkSession
        # batch_scope at batch grain (blocks.py rule)
        new_hashed = image_ahash(
            batch_df.localCheckpoint(eager=True)
        ).localCheckpoint(eager=True)

        old_hashed = read_replay_base(
            bspark, hash_dir, bid, new_hashed.schema
        )

        new_bands = _ahash_band_rows(new_hashed, nb)
        old_bands = _ahash_band_rows(old_hashed, nb)
        right = new_bands.select(
            F.col("media_id").alias("b"), F.col("ahash").alias("hash_b"),
            "band", "key",
        )
        # new-vs-index plus within-batch; pairs oriented a < b by id
        # (hamming is symmetric, so orientation is just least/greatest)
        cross = (
            old_bands.select(
                F.col("media_id").alias("a"),
                F.col("ahash").alias("hash_a"),
                "band", "key",
            )
            .join(right, ["band", "key"])
            .select(
                F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b"),
                "hash_a", "hash_b",
            )
        )
        within = new_bands.select(
            F.col("media_id").alias("a"), F.col("ahash").alias("hash_a"),
            "band", "key",
        ).join(right, ["band", "key"]).where(F.col("a") < F.col("b")).select(
            "a", "b", "hash_a", "hash_b"
        )
        pairs = (
            cross.unionByName(within)
            .select(
                "a", "b",
                F.bit_count(
                    F.col("hash_a").bitwiseXOR(F.col("hash_b"))
                ).cast("int").alias("hamming"),
            )
            .where(F.col("hamming") <= max_dist)
            .distinct()
        )
        return Commit(
            outputs={pairs_dir: pairs},
            state={hash_dir: old_hashed.unionByName(new_hashed)},
        )

    drain_foreach_batch(media, process, checkpoint_dir)


def read_image_neardup_pairs(
    spark: SparkSession, work_dir: str
) -> DataFrame | None:
    """Union of the COMMITTED per-batch pair sinks (the ``_SUCCESS``
    rule — a crash mid-batch-write must not leak partial pairs)."""
    return read_committed_batches(spark, os.path.join(work_dir, "pairs"))
