"""Materialized co-purchase edge-table path (operators/graph.py).

The sf3 probe showed the edge-list build dominating every graph op
(~2/3 of pagerank's wall and 16 GiB of spill); the scale fix is
build-once: `write_copurchase_edges` materializes the directed edge
list bucketed by src, and the `*_edges` operator forms consume the
catalog scan. These tests pin (a) result parity with the inline
builders and (b) the exchange-free plan on the bucketed key — the
entire point of paying the bucket shuffle at write time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.graph import (
    label_propagation_copurchase,
    label_propagation_edges,
    pagerank_copurchase,
    pagerank_edges,
    read_copurchase_edges,
    triangle_count_copurchase,
    triangle_count_edges,
    write_copurchase_edges,
)
from myasynstreamjoin_spark.sources.tables import load_table
from tests.conftest import executed_plans, hash_exchange_widths

TABLE = "test_copurchase_edges"


@pytest.fixture(scope="module")
def edge_table(spark, sf_dir):
    # stale-location cleanup happens inside the bucketed writer
    # (sources/sinks.py), so an interrupted previous run can't wedge us
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_copurchase_edges(lineitem, TABLE, n_buckets=8)
    yield read_copurchase_edges(spark, TABLE)
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_bucketed_degree_agg_has_no_exchange(edge_table):
    """groupBy on the bucket column must run without any shuffle — the
    scan's bucket partitioning satisfies the aggregation's required
    distribution. If an Exchange appears, the table was read without
    bucket metadata (bare parquet path) or the bucketing was dropped."""
    plan = (
        edge_table.groupBy("src")
        .agg(F.count("*").alias("deg"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_bucketed_join_on_src_has_no_shuffle_exchange(edge_table):
    """edges ⋈ deg on src: the edges side arrives pre-partitioned and
    deg derives from the same bucketed scan, so NO shuffle exchange may
    appear anywhere in the plan (a BroadcastExchange of the small deg
    side is acceptable — that's a plan improvement, not a shuffle). The
    inline builder pays two full shuffles (build + join) for the same
    result."""
    deg = edge_table.groupBy("src").agg(F.count("*").alias("deg"))
    plan = (
        edge_table.join(deg, "src")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan


def test_pagerank_parity_with_inline_builder(spark, sf_dir, edge_table):
    lineitem = load_table(spark, sf_dir, "lineitem")
    inline = pagerank_copurchase(lineitem, n_iters=2, k=15).collect()
    prebuilt = pagerank_edges(edge_table, n_iters=2, k=15).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in prebuilt]


def test_triangles_parity_with_inline_builder(spark, sf_dir, edge_table):
    lineitem = load_table(spark, sf_dir, "lineitem")
    inline = triangle_count_copurchase(lineitem).collect()
    prebuilt = triangle_count_edges(edge_table).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in prebuilt]


def test_graph_edges_helper_is_a_bucketed_catalog_scan(spark, sf_dir):
    """__spark_entry__._graph_edges must serve the materialized bucketed
    catalog table (the once-per-session scale path), not re-derive the
    edge list from lineitem."""
    import __spark_entry__ as entry_mod

    df = entry_mod._graph_edges(spark, sf_dir)
    # a bare scan reports "Bucketed: false (disabled by query planner)"
    # — only an agg/join on the bucket key exercises the metadata
    plan = (
        df.groupBy("src")
        .agg(F.count("*").alias("deg"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan
    assert "lineitem" not in plan


@pytest.mark.parametrize("qname", ["q_triangles", "q_pagerank", "q_communities"])
def test_driver_graph_queries_never_scan_lineitem(spark, sf_dir, qname):
    """The driver-checked graph wrappers must consume the materialized
    edge table, not the inline lineitem edge build — the inline shape
    is the one that OOMs at the sf3 probe (SCALEPROBE_r05_sf3.json).
    pagerank/LPA eager-checkpoint the loop-invariant join, so their
    final plans show ExistingRDD leaves; the regression signature is a
    lineitem scan reappearing anywhere in the query's own plan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[qname](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan


def test_lpa_parity_with_inline_builder(spark, sf_dir, edge_table):
    lineitem = load_table(spark, sf_dir, "lineitem")
    inline = sorted(
        tuple(r) for r in label_propagation_copurchase(lineitem, n_rounds=2).collect()
    )
    prebuilt = sorted(
        tuple(r) for r in label_propagation_edges(edge_table, n_rounds=2).collect()
    )
    assert inline == prebuilt


def test_lpa_working_set_paths_agree(spark, edge_table):
    """The round-7 working-set rewrite added two plan paths: broadcast
    labels + packed-BIGINT argmax (the default below the node
    threshold / 31-bit ids) vs shuffle join + struct max_by (the
    100 TB / wide-id fallback). Same labels required from both —
    forcing the fallback via broadcast_nodes_max=0 also exercises the
    struct path on ids made un-packable by a 2³¹ offset."""
    from pyspark.sql import functions as F

    fast = sorted(
        tuple(r)
        for r in label_propagation_edges(edge_table, n_rounds=2).collect()
    )
    slow = sorted(
        tuple(r)
        for r in label_propagation_edges(
            edge_table, n_rounds=2, broadcast_nodes_max=0
        ).collect()
    )
    assert fast == slow
    off = 1 << 31
    wide = edge_table.select(
        (F.col("src") + off).alias("src"), (F.col("dst") + off).alias("dst")
    )
    wide_labels = sorted(
        (r["part"] - off, r["community"] - off)
        for r in label_propagation_edges(wide, n_rounds=2).collect()
    )
    assert wide_labels == fast


def test_pagerank_working_set_paths_agree(spark, edge_table):
    """PageRank's round-7 broadcast path (node-grain ranks broadcast
    into the edge join, per-iteration checkpoint) must produce the
    same top-k as the shuffle-join fallback (broadcast_nodes_max=0)."""
    from myasynstreamjoin_spark.operators.graph import pagerank_edges

    fast = [tuple(r) for r in pagerank_edges(edge_table, n_iters=2).collect()]
    slow = [
        tuple(r)
        for r in pagerank_edges(
            edge_table, n_iters=2, broadcast_nodes_max=0
        ).collect()
    ]
    assert fast == slow


def test_link_negatives_are_nonedges_and_cover_nodes(spark, edge_table):
    """Every sampled pair must be a NON-edge; the rotation pairing
    touches (nearly) every node; determinism across calls."""
    from myasynstreamjoin_spark.operators.graph import link_negative_pairs

    edges = edge_table  # the fixture yields the bucketed-scan frame
    neg = link_negative_pairs(edges)
    rows = sorted((r["u"], r["v"]) for r in neg.collect())
    true_pairs = {
        (r["src"], r["dst"])
        for r in edges.where("src < dst").collect()
    }
    assert rows and not (set(rows) & true_pairs)
    assert all(u < v for u, v in rows)
    again = sorted((r["u"], r["v"]) for r in link_negative_pairs(edges).collect())
    assert rows == again


def test_distributed_order_ranks_match_global_window(spark):
    """The range-partition + offset-lift rank must be bit-identical to
    the naive single-task global window it replaced (round 8): the
    (md5, key) order is total and unique, so rank assignment cannot
    depend on where the range boundaries land. Also pins the plan
    shape — the whole point is NO single-partition exchange."""
    from pyspark.sql import Window

    from myasynstreamjoin_spark.operators.graph import distributed_order_ranks

    nodes = spark.range(0, 1000).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("node")
    )
    ranked, n = distributed_order_ranks(nodes, "node")
    assert n == 1000
    got = {r["node"]: r["r"] for r in ranked.collect()}
    naive = {
        r["node"]: r["r"]
        for r in nodes.select(
            "node",
            (
                F.row_number().over(
                    Window.orderBy(F.md5(F.col("node").cast("string")), "node")
                )
                - 1
            ).alias("r"),
        ).collect()
    }
    assert got == naive
    # ranks are a dense 0..n-1 permutation
    assert sorted(got.values()) == list(range(1000))
    # plan shape: the rank pipeline must not funnel through one task
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_edge_table_deg_column_is_out_degree_and_conf_restored(spark, sf_dir):
    """The round-8 degree-annotated build: every row's ``deg`` must
    equal the actual out-degree of its src (the broadcast fold can't
    drop or duplicate), and the data-proportional shuffle-width
    override inside the build must restore the session conf. The
    override sets the batch width, so the build's shuffles really run
    at 8 × n_buckets partitions, and both width confs come back."""
    from myasynstreamjoin_spark.session import (
        BATCH_WIDTH,
        SHUFFLE_WIDTH,
        STATE_WIDTH,
        batch_width,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    widths = {k: spark.conf.get(k) for k in (SHUFFLE_WIDTH, BATCH_WIDTH, STATE_WIDTH)}
    assert batch_width(spark) < 8 * 4
    with executed_plans(spark) as plans:
        write_copurchase_edges(lineitem, "test_deg_edges", n_buckets=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert {k: spark.conf.get(k) for k in widths} == widths
    assert hash_exchange_widths(plans) == {8 * 4}
    t = read_copurchase_edges(spark, "test_deg_edges")
    recomputed = t.groupBy("src").agg(F.count("*").alias("d"))
    assert t.join(recomputed, "src").where("deg <> d").count() == 0
    # deg really is the directed out-degree: per-src row count
    assert t.select("src", "deg").distinct().count() == recomputed.count()
    spark.sql("DROP TABLE IF EXISTS test_deg_edges")


def test_edge_table_is_one_sorted_file_per_bucket(spark, edge_table):
    """Round 10: the writer places each bucket as exactly ONE file
    (repartition by the same murmur-pmod bucketBy uses), which is the
    condition under which Spark trusts the within-bucket (src, dst)
    sort. Multi-file buckets silently re-insert a per-task sort into
    every consumer SMJ — the sort that OOM'd the 957 M-edge PageRank
    fallback (SCALEPROBE_r09_crossover_sf40)."""
    import glob
    import os

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {TABLE}")
        .where("col_name = 'Location'")
        .collect()[0][1]
    )
    files = [
        f
        for f in glob.glob(loc.replace("file:", "") + "/*")
        if not os.path.basename(f).startswith("_")
    ]
    assert len(files) == 8, files  # fixture writes n_buckets=8


def test_pagerank_iteration_join_has_no_edge_side_sort(spark, edge_table):
    """The per-iteration contribution join in the shuffle fallback:
    edge side must contribute NEITHER an Exchange NOR a Sort (bucket
    partitioning + trusted one-file-per-bucket sort order). Only the
    node-grain rank side may exchange/sort."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ranks = edge_table.select(
            F.col("src").alias("part")
        ).distinct().select("part", F.lit(1000).alias("r"))
        contrib = (
            edge_table.join(ranks, edge_table["src"] == ranks["part"])
            .select("dst", F.expr("r DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        plan = contrib._jdf.queryExecution().executedPlan().toString()
        # the edge-side scan feeds the SMJ directly: a plan with >=2
        # sorts re-sorts the bucketed side; >=2 hash exchanges means
        # the bucket partitioning was not reused. (1 sort + 1 exchange
        # belong to the rank side; the agg adds 1 exchange on dst.)
        assert plan.count("Sort ") <= 1, plan
        n_hash_ex = plan.count("Exchange hashpartitioning")
        assert n_hash_ex <= 2, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_lpa_round_join_has_no_edge_side_exchange(spark, edge_table):
    """Round 10 orientation flip: LPA reads the neighbor relation as
    (node=dst, nbr=src) so the per-round label join lands ON the
    bucket key — the edge side must contribute neither an Exchange
    nor a Sort; only the node-grain label side may. A regression to
    the (node=src, nbr=dst) orientation re-shuffles the full edge
    table every round."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sym = edge_table.select(
            F.col("dst").alias("node"), F.col("src").alias("nbr")
        )
        labels = (
            edge_table.select(F.col("src").alias("nbr"))
            .distinct()
            .withColumn("label", F.col("nbr"))
        )
        nbr_labels = sym.join(labels, "nbr").select("node", "label")
        plan = nbr_labels._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") <= 1, plan
        assert plan.count("Sort ") <= 1, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_register_bucketed_reclaims_layout_in_fresh_catalog(
    spark, edge_table
):
    """register_bucketed re-claims an existing write_copurchase_edges
    directory as a bucketed table under a NEW catalog name — the
    fresh-session path that lets a probe measure a prebuilt table
    without the rebuild (round-11 verdict #3). Must infer n_buckets
    from the file names, keep the exchange-free degree plan, and give
    a bit-identical triangle census (the trusted within-bucket sort
    included)."""
    from myasynstreamjoin_spark.sources.sinks import (
        register_bucketed,
        table_location,
    )

    rereg = TABLE + "_rereg"
    try:
        register_bucketed(
            spark, rereg, table_location(spark, TABLE), ["src"],
            sort_cols=["src", "dst"],
        )
        re_tbl = spark.table(rereg)
        assert re_tbl.count() == edge_table.count()
        plan = (
            re_tbl.groupBy("src")
            .agg(F.count("*").alias("deg"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan
        assert (
            triangle_count_edges(re_tbl).collect()
            == triangle_count_edges(edge_table).collect()
        )
    finally:
        # external-table drop keeps the original fixture's files
        spark.sql(f"DROP TABLE IF EXISTS {rereg}")
