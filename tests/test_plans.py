"""Physical-plan property tests: the 100 TB design assertions.

These lock in the plan shapes that make the engine scale — if a
refactor drops a broadcast, breaks column pruning, or adds a shuffle,
these fail even though results stay correct.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as contract
from myasynstreamjoin_spark.config import DEFAULT_CONFIG as CFG
from myasynstreamjoin_spark.operators.asyn_join import min_count_per_window
from myasynstreamjoin_spark.operators.grouping import count_per_key
from myasynstreamjoin_spark.plans.explain import (
    has_broadcast_join,
    n_nodes,
    n_shuffles,
    scan_report,
    simple_plan,
)
from myasynstreamjoin_spark.sources import fixtures, tables


def test_flagship_is_two_shuffle_two_level_agg(spark, sf_dir):
    df = min_count_per_window(fixtures.ported_words(spark, sf_dir, CFG), CFG)
    # partial+final HashAggregate at both levels, exactly two exchanges:
    # (key, ltw, source) then (key, ltw).
    assert n_shuffles(df) == 2
    assert n_nodes(df, "HashAggregate") >= 4


def test_grouped_count_is_single_shuffle(spark, sf_dir):
    df = count_per_key(fixtures.keyed_values(spark, sf_dir, CFG))
    assert n_shuffles(df) == 1


def test_column_pruning_reaches_scan(spark, sf_dir):
    # 3-column projection of the 6-column events table: the parquet scan
    # must read only those columns.
    df = fixtures.ported_words(spark, sf_dir, CFG)
    scans = scan_report(df)
    assert scans, "no parquet scan found"
    assert "props" not in scans[0]["read_schema"]
    assert "event_id" not in scans[0]["read_schema"]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = tables.load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    ).select("event_id")
    scans = scan_report(ev)
    assert any("event_type" in s["pushed_filters"] for s in scans)


def test_regional_revenue_broadcasts_dims(spark, sf_dir):
    df = contract.queries()["q_regional_revenue"](spark, sf_dir)
    assert has_broadcast_join(df)
    # the region filter must be pushed into the region scan
    assert any(
        "r_name" in s["pushed_filters"] for s in scan_report(df)
    ), "region filter not pushed down"
    # lineitem scan must not read columns the query never touches
    li_scans = [s for s in scan_report(df) if "l_orderkey" in s["read_schema"]]
    assert li_scans and all("l_tax" not in s["read_schema"] for s in li_scans)
    # date range filter pushed into the orders scan
    assert any("o_orderdate" in s["pushed_filters"] for s in scan_report(df))


def test_q6_pushes_all_filters_and_prunes(spark, sf_dir):
    from myasynstreamjoin_spark.operators.relational import forecast_revenue_change

    df = forecast_revenue_change(tables.load_table(spark, sf_dir, "lineitem"))
    scans = scan_report(df)
    assert scans
    pushed = " ".join(s["pushed_filters"] for s in scans)
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} not pushed to scan"
    # 4-column query on the 16-column lineitem: scan must be pruned
    assert all("l_orderkey" not in s["read_schema"] for s in scans)
    # scan -> partial agg -> single exchange -> final agg
    assert n_shuffles(df) == 1


def test_hash_sample_filters_in_scan_stage(spark, sf_dir):
    from myasynstreamjoin_spark.operators.relational import sampled_revenue

    df = sampled_revenue(tables.load_table(spark, sf_dir, "lineitem"))
    # the bucket predicate is md5-derived so it can't reach parquet
    # stats, but it must evaluate before any exchange: Filter below the
    # first Exchange, i.e. still just the aggregation shuffles
    # (distinct-count rewrites to expand + two-level agg => <= 3).
    assert n_shuffles(df) <= 3
    assert n_nodes(df, "Filter") >= 1


def test_anti_join_shape(spark, sf_dir):
    from myasynstreamjoin_spark.operators.relational import customers_without_orders

    df = customers_without_orders(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    # the year filter must be pushed into the orders scan
    assert any("o_orderdate" in s["pushed_filters"] for s in scan_report(df))


def test_q3_broadcasts_and_takeordered(spark, sf_dir):
    df = contract.queries()["q_tpch_q3"](spark, sf_dir)
    plan = simple_plan(df)
    # lineitem (the fact) never shuffles for the joins: both build sides
    # broadcast, and top-k is a heap merge, not a global sort.
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # date filters reach both scans
    scans = scan_report(df)
    assert any("l_shipdate" in s["pushed_filters"] for s in scans)
    assert any("o_orderdate" in s["pushed_filters"] for s in scans)


def test_q4_exists_is_semi_join(spark, sf_dir):
    from myasynstreamjoin_spark.operators.relational import (
        late_shipment_priority_counts,
    )

    df = late_shipment_priority_counts(
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
    )
    plan = simple_plan(df)
    assert "LeftSemi" in plan
    assert any("o_orderdate" in s["pushed_filters"] for s in scan_report(df))


def test_runtime_bloom_filter_can_inject(spark, sf_dir):
    """At 100 TB a selective dim filter prunes the fact side of a
    shuffle join via Spark's runtime bloom filter (InjectRuntimeFilter).
    The fixture scan is far below the default 10 GB application-side
    threshold, so this test lowers it to prove the engine session has
    the rule active and the join shape qualifies — the conf knobs are
    the documented scale levers."""
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = tables.load_table(spark, sf_dir, "lineitem")
        part = tables.load_table(spark, sf_dir, "part").where(
            F.col("p_brand") == "Brand#23"
        )
        j = li.join(part, li["l_partkey"] == part["p_partkey"]).groupBy(
            "p_brand"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q10_takeordered_and_pushdown(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import returned_item_revenue

    df = returned_item_revenue(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "nation"),
    )
    plan = simple_plan(df)
    # top-k is a heap merge; the returnflag and quarter filters reach
    # their scans so the fact join input is pre-pruned.
    assert "TakeOrderedAndProject" in plan
    scans = scan_report(df)
    assert any("l_returnflag" in s["pushed_filters"] for s in scans)
    assert any("o_orderdate" in s["pushed_filters"] for s in scans)


def test_q19_pushes_brand_disjunction_to_part_scan(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import brand_bracket_revenue

    df = brand_bracket_revenue(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
    )
    assert has_broadcast_join(df)
    scans = scan_report(df)
    # brand IN-list prunes the dimension scan; the quantity envelope
    # bounds the fact scan before the join evaluates exact brackets.
    assert any("p_brand" in s["pushed_filters"] for s in scans)
    assert any("l_quantity" in s["pushed_filters"] for s in scans)


def test_q22_anti_join_on_distinct_keys(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import idle_rich_customers

    df = idle_rich_customers(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
    )
    plan = simple_plan(df)
    assert "LeftAnti" in plan
    # the orders side of the anti join carries only o_custkey
    assert any(
        s["read_schema"].strip("struct<>").startswith("o_custkey")
        for s in scan_report(df)
    )


def test_q7_pushes_date_range_and_broadcasts_pair(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import bilateral_trade

    df = bilateral_trade(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
    )
    assert has_broadcast_join(df)
    # the ship-year bound must reach the lineitem scan as a range
    # (a year()-wrapped predicate would not push)
    assert any("l_shipdate" in s["pushed_filters"] for s in scan_report(df))


def test_q8_pushes_order_range_and_type_filter(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import national_market_share

    df = national_market_share(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
        tables.load_table(spark, sf_dir, "region"),
        tables.load_table(spark, sf_dir, "part"),
    )
    scans = scan_report(df)
    assert any("o_orderdate" in s["pushed_filters"] for s in scans)
    assert any("p_type" in s["pushed_filters"] for s in scans)


def test_q2_single_fact_shuffle_and_broadcast_min(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import min_cost_part_supplier

    df = min_cost_part_supplier(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
        tables.load_table(spark, sf_dir, "region"),
    )
    # the correlated min resolves via broadcast joins — lineitem
    # shuffles once, for the (partkey, suppkey) cost aggregate
    assert has_broadcast_join(df)
    plan = simple_plan(df)
    assert "SortMergeJoin" not in plan
    # part filters reach the scan before any join
    assert any("p_type" in s["pushed_filters"] for s in scan_report(df))


def test_q9_broadcasts_both_dims(spark, sf_dir):
    df = contract.queries()["q_tpch_q9"](spark, sf_dir)
    assert has_broadcast_join(df)
    # only the lineitem⋈orders join may shuffle facts; dims broadcast,
    # then one partial→final aggregate — bounded exchange count
    assert n_shuffles(df) <= 3


def _aggregates_before_join(plan: str, key: str) -> bool:
    # the tree string prints parents first: an aggregate keyed on
    # ``key`` printed after the join line sits below (before) the join
    join = plan.find("Join ")
    return join >= 0 and plan.find(f"HashAggregate(keys=[{key}#", join) > join


# One intent per declared SQL-form query, from its docstring in
# operators/sql_forms.py (q_regional_revenue, q_tpch_q3 and q_tpch_q9
# have tests of their own above).
SQL_FORM_INTENTS = {
    # region→nation→supplier collapse into broadcast dimensions
    "q_tpch_q5": lambda df, plan: has_broadcast_join(df),
    # orders are counted per customer BEFORE the outer join
    "q_tpch_q13": lambda df, plan: _aggregates_before_join(plan, "o_custkey"),
    # the few over-quantity orders broadcast into the orders join
    "q_tpch_q18": lambda df, plan: has_broadcast_join(df),
    # the customer dimension broadcasts
    "q_star_join": lambda df, plan: has_broadcast_join(df),
    # top-k is a heap merge, never a global sort
    "q_topk_revenue": lambda df, plan: "TakeOrderedAndProject" in plan,
    # one scan, one partial→final aggregate, no join
    "q_tpch_q1": lambda df, plan: n_shuffles(df) == 1 and "Join" not in plan,
}


@pytest.mark.parametrize("name", sorted(SQL_FORM_INTENTS))
def test_sql_form_plan_intent(spark, sf_dir, name):
    """With auto-broadcast off, only the query's own BROADCAST hints
    broadcast, so a dropped hint fails here instead of being masked by
    the tiny test tables."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = contract.queries()[name](spark, sf_dir)
        plan = simple_plan(df)
        assert SQL_FORM_INTENTS[name](df, plan), plan
    finally:
        spark.conf.set(key, prev)


def test_q20_semi_filters_before_the_pair_aggregate(spark, sf_dir):
    from myasynstreamjoin_spark.operators.tpch import excess_inventory_suppliers

    df = excess_inventory_suppliers(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
    )
    plan = simple_plan(df)
    # the part prefix filter enters lineitem as a broadcast SEMI join
    # (no full join materializing part columns onto fact rows)
    assert "LeftSemi" in plan
    assert has_broadcast_join(df)


def test_topk_revenue_is_heap_merge_not_global_sort(spark, sf_dir):
    """The headline top-k query must plan as TakeOrderedAndProject (a
    per-partition heap + driver merge of k rows) — a global Sort before
    a Limit would shuffle the whole aggregate at 100 TB."""
    df = contract.queries()["q_topk_revenue"](spark, sf_dir)
    plan = simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_broadcast_join(df)  # customer dim broadcasts


def test_bm25_plan_shape(spark, sf_dir):
    """Retrieval: ranking is TakeOrdered (no global sort); the term
    filter reaches the scan side before any shuffle; corpus constants
    arrive by broadcast."""
    from myasynstreamjoin_spark.functions.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = bm25_topk(docs, ["the", "data"], k=10)
    plan = simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("SortMergeJoin", "")
    assert has_broadcast_join(df)


def test_copurchase_is_two_shuffles(spark, sf_dir):
    """Basket build (groupBy order) + pair count — the self-join
    formulation's 5 exchanges must not come back."""
    from myasynstreamjoin_spark.operators.relational import copurchase_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = copurchase_pairs(li, k=10)
    assert n_shuffles(df) == 2
    assert "TakeOrderedAndProject" in simple_plan(df)


def test_expectations_single_scan(spark, sf_dir):
    """One scan and one aggregate row regardless of rule count."""
    from myasynstreamjoin_spark.operators.relational import expectations

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = expectations(
        orders,
        checks=[("p", F.col("o_totalprice") > 0),
                ("c", F.col("o_custkey").isNotNull())],
        unique_cols=["o_orderkey"],
    )
    assert n_nodes(df, "Scan parquet") == 1


def test_bloom_decontaminate_broadcasts_bitmap(spark, sf_dir):
    """The train side must meet the bitmap via broadcast (never a
    shuffle of the corpus against the filter)."""
    from myasynstreamjoin_spark.functions.dedup import bloom_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = bloom_decontaminate(
        docs.where(~F.col("source").isin("src0", "src1")),
        docs.where(F.col("source").isin("src0", "src1")),
        k=8,
    )
    plan = simple_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_lm_perplexity_broadcasts_the_lm(spark, sf_dir):
    """The token stream joins the LM counts and totals via broadcast —
    scoring adds no shuffle beyond the (doc,term) aggregation."""
    from myasynstreamjoin_spark.functions.text import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = lm_perplexity(docs)
    plan = simple_plan(df)
    assert plan.count("BroadcastExchange") >= 2


def test_zscore_outliers_is_broadcast_map_filter(spark, sf_dir):
    """Per-group stats broadcast back onto the scan: the fact table
    never shuffles — one scan-side filter pass."""
    from myasynstreamjoin_spark.operators.stats import zscore_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = zscore_outliers(ev)
    assert has_broadcast_join(df)
    # the only exchange feeds the |groups|-row stats aggregate
    assert n_shuffles(df) <= 1


def test_weighted_sample_is_heap_merge_not_global_sort(spark, sf_dir):
    from myasynstreamjoin_spark.functions.pipeline import weighted_sample_k
    from myasynstreamjoin_spark.functions.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = weighted_sample_k(quality_score(docs), "quality", k=50)
    plan = simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_cdc_merge_base_side_never_shuffles(spark, sf_dir):
    """Base scan → broadcast anti-join → union: no exchange on the
    base's path (the change feed's grouping is the only shuffle)."""
    from myasynstreamjoin_spark.operators.cdc import cdc_apply

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    data = orders.columns
    ch = orders.limit(100).select(
        *data, F.lit("U").alias("op"), F.lit(1).alias("gen")
    )
    df = cdc_apply(orders, ch, keys=("o_orderkey",), order_cols=("gen",))
    plan = simple_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_phrase_search_is_map_only(spark, sf_dir):
    from myasynstreamjoin_spark.functions.retrieval import phrase_search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = phrase_search(docs, "slow hash batch")
    assert n_shuffles(df) == 0
    # column pruning: only doc_id/text reach the scan
    cols = scan_report(df)[0]["read_schema"]
    assert "lang" not in cols and "n_chars" not in cols


def test_attribution_is_single_window_pass(spark, sf_dir):
    """Both attribution ends come from ONE user-partitioned window —
    exactly one exchange, zero joins."""
    from myasynstreamjoin_spark.operators.sessions import touch_attribution

    df = touch_attribution(tables.load_table(spark, sf_dir, "events"))
    assert n_shuffles(df) == 1
    assert n_nodes(df, "Join") == 0


def test_pareto_broadcasts_frontier(spark, sf_dir):
    """The fact side joins the frontier x-table via broadcast — the
    corpus never shuffles for the dominance test."""
    from myasynstreamjoin_spark.operators.relational import pareto_frontier

    df = pareto_frontier(
        tables.load_table(spark, sf_dir, "part"),
        x="p_size", y="p_retailprice", group="p_brand",
        payload=["p_partkey"],
    )
    assert has_broadcast_join(df)


def test_span_corruption_is_map_only(spark, sf_dir):
    """Deterministic span masking pipelines with the scan: zero
    shuffles, and only doc_id/text are read."""
    from myasynstreamjoin_spark.functions.pipeline import span_corruption_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = span_corruption_pairs(docs)
    assert n_shuffles(df) == 0
    cols = scan_report(df)[0]["read_schema"]
    assert "lang" not in cols and "source" not in cols


def test_pair_candidate_joins_are_hash_joins(spark, sf_dir):
    """Every pair op (winnow/ngram/prefix/simhash/minhash) routes its
    candidate stage through dedup.index_self_join — so locking THAT
    function's plan (equi-join on the index keys, never a cartesian)
    pins the production candidate path, in both its distinct and
    counting forms."""
    from myasynstreamjoin_spark.functions.dedup import (
        banded_signature_rows,
        index_self_join,
        minhash_signatures,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = winnow_fingerprints(docs)
    sigs = minhash_signatures(docs, 32, 3)
    bands = banded_signature_rows(sigs, 8, 4)
    for cand in (
        index_self_join(fp, ["fp"], count=True),   # winnow/ngram form
        index_self_join(bands, ["band", "bh"]),    # minhash/simhash form
    ):
        plan = simple_plan(cand)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" in plan


def test_ngram_df_cap_aggregates_once(spark, sf_dir):
    """The df-cap shingle set feeds BOTH sides of the candidate
    self-join, and the two consumer subtrees never canonicalize equal
    (doc_a vs doc_b aliases) — so without materialization the
    frequency aggregation ran TWICE over the exploded shingle table
    (round 12, stage evidence). With the checkpoint, the aggregation
    runs once, while the operator is built, and both self-join sides
    read its result back: the returned plan computes no ``df`` at all
    and scans the checkpointed shingle set instead."""
    from myasynstreamjoin_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = simple_plan(ngram_jaccard_pairs(docs, k=3, threshold=0.2))
    assert " AS df#" not in plan, plan
    assert "Scan ExistingRDD[shingle#" in plan, plan


def test_remove_spans_elects_canonical_without_window_sort(spark, sf_dir):
    """remove_duplicate_spans must elect canonical occurrences with a
    partial-aggregated groupBy min over the (doc_id, pos) struct — a
    row_number() window over gram partitions would add a full sort of
    the exploded gram table (k·N rows) that the aggregate formulation
    avoids. Also: no cartesian anywhere, and the reassembly stays one
    hash aggregation."""
    from myasynstreamjoin_spark.functions.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = simple_plan(remove_duplicate_spans(docs, k=8))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_round5_doc_ops_prune_to_two_columns(spark, sf_dir):
    """char_entropy and shard_manifest read ONLY (doc_id, text) from
    the 5-column documents table — the projection must reach the
    parquet scan; and char_entropy's branched counts frame is
    checkpointed, so the character explode runs once, not per branch."""
    from myasynstreamjoin_spark.functions.pipeline import shard_manifest
    from myasynstreamjoin_spark.functions.text import char_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scans = [
        s for s in scan_report(shard_manifest(docs)) if s["read_schema"]
    ]
    assert scans and all(
        s["read_schema"] == "struct<doc_id:bigint,text:string>"
        for s in scans
    )
    # char_entropy materializes the (doc, char) counts ONCE (eager
    # checkpoint): the final plan reads the shared LogicalRDD leaf on
    # both branches and contains no parquet scan at all — the explode
    # cannot re-run per branch.
    plan = simple_plan(char_entropy(docs))
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_epoch_shuffle_manifest_is_one_exchange(spark, sf_dir):
    """The manifest's groupBy(shard) must reuse the rank window's hash
    partitioning on shard — one exchange total, never a global sort."""
    from myasynstreamjoin_spark.functions.pipeline import epoch_shuffle_manifest

    df = epoch_shuffle_manifest(
        tables.load_table(spark, sf_dir, "documents"), seed=1, n_shards=16
    )
    assert n_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    # within-partition sort for the window is fine; a global Sort+
    # range exchange is not
    assert "rangepartitioning" not in plan.lower()


def test_epoch_interleave_is_two_hash_exchanges(spark, sf_dir):
    """(shard, source) rank exchange + shard merge exchange — the
    manifest groupBy reuses the second; never a global sort."""
    from myasynstreamjoin_spark.functions.pipeline import (
        epoch_interleave_manifest,
    )
    from pyspark.sql import functions as F

    w = F.expr("CAST(substring(source, 4) AS INT) % 4 + 1")
    df = epoch_interleave_manifest(
        tables.load_table(spark, sf_dir, "documents"), w, seed=1, n_shards=16
    )
    assert n_shuffles(df) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_fk_orphan_audit_detects_planted_orphans_and_nulls(spark):
    """Hand tables: two orphaned fks, one null fk, one clean relation
    — the audit separates nulls (missing reference) from orphans
    (dangling reference) and leaves the clean relation at zero."""
    from myasynstreamjoin_spark.operators.relational import fk_orphan_audit

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    child = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 99), (4, 98), (5, None)],
        "id long, fk long",
    )
    clean = spark.createDataFrame([(10, 1), (11, 3)], "id long, fk long")
    out = {
        r["relation"]: (r["n_child"], r["n_null_fk"], r["n_orphans"])
        for r in fk_orphan_audit(
            [
                ("child->parent", child, "fk", parent, "pk"),
                ("clean->parent", clean, "fk", parent, "pk"),
            ]
        ).collect()
    }
    assert out == {
        "child->parent": (5, 1, 2),
        "clean->parent": (2, 0, 0),
    }


def test_epoch_curriculum_manifest_is_one_exchange(spark, sf_dir):
    """The stage key only changes the within-shard SORT — the
    curriculum manifest must keep epoch_shuffle_manifest's plan: one
    hash exchange on shard (the (shard, stage) groupBy reuses it:
    shard ⊆ the grouping keys), never a global sort."""
    from pyspark.sql import functions as F

    from myasynstreamjoin_spark.functions.pipeline import (
        epoch_curriculum_manifest,
    )

    df = epoch_curriculum_manifest(
        tables.load_table(spark, sf_dir, "documents"),
        F.expr("n_chars DIV 40"),
        seed=1,
        n_shards=16,
    )
    assert n_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_winsorized_stats_is_one_exchange(spark, sf_dir):
    """Ranks, both conditional cut windows and the final groupBy all
    run on the same key partitioning — exactly one hash exchange, no
    join back, no global sort."""
    from myasynstreamjoin_spark.operators.stats import winsorized_stats

    df = winsorized_stats(
        tables.load_table(spark, sf_dir, "events"), "event_type", "value"
    )
    assert n_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_soft_dedup_summary_plan_has_no_sort_or_join(spark, sf_dir):
    """The count-only fingerprint window must not introduce a sort
    (no ORDER BY in the frame) nor a join back: two hash exchanges
    total (fingerprint window, then the per-source rollup)."""
    from myasynstreamjoin_spark.functions.dedup import soft_dedup_summary

    df = soft_dedup_summary(
        tables.load_table(spark, sf_dir, "documents")
    )
    assert n_shuffles(df) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_unpivot_is_expand_plus_one_exchange(spark, sf_dir, duck):
    """The melt must be the map-side Expand (no join, no union scan
    repetition: ONE lineitem scan) and the group agg the only
    exchange."""
    from myasynstreamjoin_spark.operators.relational import unpivot_metrics
    from myasynstreamjoin_spark.sources import tables

    df = unpivot_metrics(tables.load_table(spark, sf_dir, "lineitem"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(df, duck, contract.oracle_sql()["q_unpivot"])


def test_q16_fact_side_never_shuffles_at_pair_grain(spark, sf_dir, duck):
    """Q16's only exchanges are the distinct-agg's own two (partial
    dedup on (class, suppkey), then the per-class count): both the
    bad-supplier anti-join and the part-class join broadcast, and the
    r8-era explicit pre-distinct() — a third, full-fact-table shuffle
    that count(DISTINCT) made redundant — must not come back (it
    spilled 25 GiB at the sf30ish probe)."""
    from myasynstreamjoin_spark.operators.tpch import supplier_count_by_part

    df = supplier_count_by_part(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
        tables.load_table(spark, sf_dir, "supplier"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # <= 2, not == 2: AQE re-planning / partition coalescing / a Spark
    # version bump can change how many hash exchanges the rendered
    # string shows without the pair-grain regression coming back
    # (round-9 advice). The regression this test pins would ADD a
    # third exchange (pair-grain pre-distinct before the aggregate)
    # and/or a sort-merge join — both asserted independently.
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "SortMergeJoin" not in plan, plan
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(df, duck, contract.oracle_sql()["q_tpch_q16"])


@pytest.mark.parametrize("name", ["q_stream_min_count_zero", "q_stream_max_window"])
def test_window_streams_use_native_state_store(spark, sf_dir, name, monkeypatch):
    """The zero-emission and per-window max streams run on Spark's
    windowed aggregation: a StateStoreSave in the streaming plan and no
    Python-worker state node. The query's stream is taken from the
    runner before it starts; explain plans it incrementally."""
    from myasynstreamjoin_spark.streaming import windowed

    streams = []

    def capture(streaming_df, spark, **kwargs):
        streams.append(streaming_df)
        return streaming_df

    monkeypatch.setattr(windowed, "run_stream_to_table", capture)
    contract.queries()[name](spark, sf_dir)
    (df,) = streams
    # a spark.sql frame's parsed plan is not marked streaming, so explain
    # a projection over its analyzed plan
    plan = spark._jvm.PythonSQLUtils.explainString(
        df.select("*")._jdf.queryExecution(), "simple"
    )
    assert "StateStoreSave" in plan, plan
    for node in ("FlatMapGroupsInPandasWithState", "TransformWithStateInPandas"):
        assert node not in plan, plan
