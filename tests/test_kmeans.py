"""Invariants for the iterative distributed k-means (no SQL oracle —
DuckDB can't replay Lloyd iterations; correctness is pinned by
properties instead)."""

from __future__ import annotations

from myasynstreamjoin_spark.functions.similarity import kmeans_fit
from myasynstreamjoin_spark.session import (
    BATCH_WIDTH,
    SHUFFLE_WIDTH,
    STATE_WIDTH,
    batch_width,
)
from myasynstreamjoin_spark.sources.tables import load_table
from tests.conftest import executed_plans, hash_exchange_widths


def test_kmeans_partitions_all_vectors_and_is_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    r1 = {r.cell: (r.n_vectors, r.inertia) for r in kmeans_fit(emb, k=4).collect()}
    assert sum(v[0] for v in r1.values()) == n
    assert set(r1) <= set(range(4))
    r2 = {r.cell: (r.n_vectors, r.inertia) for r in kmeans_fit(emb, k=4).collect()}
    assert r1 == r2


def test_kmeans_iterations_do_not_increase_inertia(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    i1 = sum(r.inertia for r in kmeans_fit(emb, k=4, n_iters=1).collect())
    i5 = sum(r.inertia for r in kmeans_fit(emb, k=4, n_iters=5).collect())
    assert i5 <= i1 + 1e-6


def test_kmeans_shuffle_bound_applies_to_batch_width_and_restores(spark, sf_dir):
    """``shuffle_partitions`` bounds the batch width the iteration loop's
    re-centering shuffles run at, and both width confs come back."""
    emb = load_table(spark, sf_dir, "embeddings")
    widths = {k: spark.conf.get(k) for k in (SHUFFLE_WIDTH, BATCH_WIDTH, STATE_WIDTH)}
    bound = batch_width(spark) - 1
    assert bound >= 2
    with executed_plans(spark) as plans:
        kmeans_fit(emb, k=4, n_iters=2, shuffle_partitions=bound)
    assert hash_exchange_widths(plans) == {bound}
    assert {k: spark.conf.get(k) for k in widths} == widths
