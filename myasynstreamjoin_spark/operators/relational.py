"""Relational SQL-layer coverage the reference lacked.

SURVEY.md §2.4 lists the operator families absent from the reference —
distinct aggregation, grouping sets/rollup/cube, analytic window
functions, sorts/limits/top-k, set operations — all of which a user of
a general engine expects. Each lands here as a DataFrame operator with
a DuckDB oracle, so the coverage is verified, not claimed.

Scale notes baked into the plans:
- dimension tables (region, nation, supplier, filtered customer) are
  broadcast — no shuffle of the fact side for those joins;
- aggregates are declared so Catalyst plans partial→final
  HashAggregate (map-side combine before any shuffle);
- top-k = window rank + filter (one shuffle per partition key) or
  orderBy+limit (TakeOrderedAndProject — never a full sort at scale);
- rollup/cube expand grouping sets *after* partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(18,4)")


def rollup_pricing(lineitem: DataFrame) -> DataFrame:
    """ROLLUP (returnflag, linestatus): per-group, per-flag and grand
    totals in one pass. Output: (l_returnflag, l_linestatus, gid,
    sum_qty, n) where gid is the grouping bitmask (0 = leaf row).
    """
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum(_dec("l_quantity")).alias("sq"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "gid",
            F.round(F.col("sq"), 2).cast("double").alias("sum_qty"),
            "n",
        )
    )


def topk_per_group(customer: DataFrame, k: int = 3) -> DataFrame:
    """Analytic top-k: the k highest-balance customers per market
    segment via row_number() over a partitioned, fully-ordered window
    (ties broken by key so both engines agree).

    Output: (c_mktsegment, c_custkey, c_acctbal, rn).
    """
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        customer.select(
            "c_mktsegment",
            "c_custkey",
            F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= k)
    )


def distinct_users_per_type(events: DataFrame) -> DataFrame:
    """Distinct aggregation: exact count(DISTINCT user_id) next to a
    plain count — Catalyst plans the distinct via expand + two-level
    agg, no row ever reaches the driver.

    Output: (event_type, n_users, n_events).
    """
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def _custkeys_in_year(orders: DataFrame, year: int) -> DataFrame:
    return orders.where(F.year("o_orderdate") == year).select("o_custkey").distinct()


def repeat_customers(orders: DataFrame, y1: int = 1995, y2: int = 1996) -> DataFrame:
    """Set op INTERSECT: customers ordering in both years.
    Output: (o_custkey)."""
    return _custkeys_in_year(orders, y1).intersect(_custkeys_in_year(orders, y2))


def churned_customers(orders: DataFrame, y1: int = 1995, y2: int = 1996) -> DataFrame:
    """Set op EXCEPT: customers ordering in y1 but not y2.
    Output: (o_custkey)."""
    return _custkeys_in_year(orders, y1).exceptAll(
        _custkeys_in_year(orders, y2)
    ).distinct()


def hash_bucket(col: Column | str, n_buckets: int = 20) -> Column:
    """Deterministic, engine-portable hash bucket in [0, n_buckets):
    the first 16 bits of md5(value) interpreted as an integer, mod n.

    Used for stable sampling: unlike TABLESAMPLE / rand(), the same row
    lands in the same bucket on every engine and every run, so a 100 TB
    pipeline can sample reproducibly (and an oracle can replay it).
    md5 here is a bucketing hash, not a security primitive.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(F.encode(c.cast("string"), "UTF-8")), 1, 4), 16, 10)
        .cast("int") % n_buckets
    )


def sampled_revenue(
    lineitem: DataFrame, n_buckets: int = 20, pick: int = 7
) -> DataFrame:
    """Sampling coverage (SURVEY.md §2.4 "missing" list): aggregate
    revenue over a deterministic ~1/n_buckets hash sample of orders.

    Sampling by l_orderkey (the join/grouping key) keeps whole orders
    together — the correct unit for cluster sampling — and the bucket
    predicate evaluates in the scan stage, so the full-table shuffle
    never happens: at 100 TB a 5% sample aggregates ~5 TB.

    Output: (n_orders, n_rows, revenue) — one row.
    """
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        lineitem.where(hash_bucket("l_orderkey", n_buckets) == pick)
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count("*").alias("n_rows"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


def customers_without_orders(
    customer: DataFrame, orders: DataFrame, year: int | None = 1995
) -> DataFrame:
    """Anti-join coverage: customers with no order in ``year`` (or ever,
    when ``year`` is None), counted per market segment.

    Left-anti join shuffles both sides on custkey (or broadcasts the
    distinct custkey set when it fits); the reference has no anti join
    at all (SURVEY.md §2.5).

    Output: (c_mktsegment, n_customers).
    """
    if year is not None:
        orders = orders.where(F.year("o_orderdate") == year)
    return (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    y_from: str = "1995-01-01 00:00:00",
    y_to: str = "1996-01-01 00:00:00",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6: pure scan→filter→agg with no join and no grouping —
    the canonical predicate-pushdown query. All four predicates reach
    the parquet reader (PushedFilters; asserted in tests/test_plans.py),
    so at 100 TB the scan skips row groups on l_shipdate/l_discount
    statistics and only the surviving rows hit the single-row agg.

    Output: (forecast_revenue) — one row.
    """
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(y_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(y_to).cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
            .cast("double")
            .alias("forecast_revenue")
        )
    )


def small_qty_revenue(lineitem: DataFrame, part: DataFrame,
                      brand: str = "Brand#23") -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average quantity) went unfilled,
    over one brand's parts. The correlated scalar subquery is rewritten
    as a per-part aggregate joined back — Catalyst's own decorrelation
    strategy, made explicit.

    Scale: the brand filter cuts part to ~0.5%, and that small key set
    is BROADCAST into both the lineitem probe and the per-part average,
    so lineitem is scanned once per side with the filter pushed to the
    scan; no shuffle of unmatched lineitem rows ever happens. The
    per-part averages are one row per surviving part — broadcast again
    for the final threshold join.

    Output: (avg_yearly) — one row.
    """
    keys = part.where(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(F.broadcast(keys),
                       lineitem["l_partkey"] == keys["p_partkey"]).drop("p_partkey")
    # q < 0.2·avg(q) ⟺ 5·q·cnt < sum(q): stays in DECIMAL, so the
    # threshold compare is exact on any engine (0.2 has no exact
    # binary/decimal interplay to worry about).
    thresholds = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("sum_q"),
        F.count("*").cast("decimal(18,4)").alias("cnt_q"),
    )
    return (
        li.join(F.broadcast(thresholds), on="l_partkey")
        .where(_dec("l_quantity") * F.lit(5).cast("decimal(18,4)") * F.col("cnt_q")
               < F.col("sum_q"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice")) / F.lit(7.0).cast("decimal(18,4)"), 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


def event_type_pivot(events: DataFrame, types: list[str]) -> DataFrame:
    """Pivot: per user, one count column per event type. The pivot
    value list is EXPLICIT — an implicit pivot needs an extra
    distinct-collect pass over the data and makes the output schema
    data-dependent, both wrong at 100 TB. Compiles to a single
    partial→final HashAggregate pass (one shuffle, no join).

    Output: (user_id, n_<type>...).
    """
    agged = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return agged.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles (linear interpolation) of value per event
    type. Exact percentile is a sort-based aggregate — fine per group
    when groups fit an executor; the approx_percentile/t-digest variant
    is the knob to reach for when they don't (documented, not default,
    because the oracle checks exactness).

    Output: (event_type, p25, p50, p75).
    """
    pct = F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))")
    return (
        events.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.round(F.col("p")[0], 6).alias("p25"),
            F.round(F.col("p")[1], 6).alias("p50"),
            F.round(F.col("p")[2], 6).alias("p75"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[str, float],
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling: keep a per-stratum fraction
    of rows, chosen by portable hash bucket of ``key_col`` (see
    hash_bucket) — the reproducible counterpart of ``df.sampleBy``.
    Strata absent from ``fractions`` are dropped.

    The predicate is a pure scan-stage filter: no shuffle, no rand()
    (re-executions of a 100 TB stage must not resample), and the same
    rows survive on any engine, so the sample is auditable.
    """
    bucket = hash_bucket(key_col, n_buckets)
    cutoff = F.lit(0)
    for stratum, frac in sorted(fractions.items()):
        cutoff = F.when(F.col(strata_col) == stratum,
                        F.lit(int(round(frac * n_buckets)))).otherwise(cutoff)
    return df.where(bucket < cutoff)


def late_shipment_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q4 shape: per order priority, how many orders in a date
    range had at least one badly late line (shipped > ``late_days``
    after the order date). The fixture lacks l_commitdate/l_receiptdate,
    so "late" is l_shipdate > o_orderdate + late_days; the EXISTS
    subquery becomes a LEFT SEMI join, exactly Catalyst's decorrelation.

    Scale: the semi join shuffles only (orderkey, orderdate) pairs from
    the filtered year of orders and the matching lineitem keys — no
    payload columns cross the wire, and the semi join short-circuits
    per key (at most one match retained per order). The final count is
    a five-row aggregate.

    Output: (o_orderpriority, n_orders).
    """
    window = orders.where(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    )
    late = lineitem.select("l_orderkey", "l_shipdate")
    joined = window.join(
        late,
        (window["o_orderkey"] == late["l_orderkey"])
        & (late["l_shipdate"] > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def cube_pricing(lineitem: DataFrame) -> DataFrame:
    """CUBE (returnflag, linestatus): all four grouping-set combinations
    in one pass (rollup_pricing's lattice completion). Spark expands
    grouping sets after partial aggregation, so the fact table is still
    read and combined once.

    Output: (l_returnflag, l_linestatus, gid, sum_qty, n).
    """
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum(_dec("l_quantity")).alias("sq"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "gid",
            F.round(F.col("sq"), 2).cast("double").alias("sum_qty"),
            "n",
        )
    )


def latest_snapshot(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Latest-row-per-key compaction — the CDC/upsert-log → snapshot
    operator (dedup-to-latest). Implemented as row_number over a
    per-key descending order with a total tiebreak, so the survivor is
    deterministic on any engine even with timestamp collisions.

    Scale: one shuffle on the key; with AQE skew handling for hot keys.
    At 100 TB prefer writing the log bucketed by key so the window
    needs no exchange (sources/sinks.py), and at extreme per-key
    cardinality swap row_number for max_by on a (ts, id) struct —
    an O(1)-state aggregate instead of a per-key sort.

    Output: the latest full row per key.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.desc(c) for c in order_cols])
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_snapshot_maxby(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """latest_snapshot's O(1)-state form: max_by of the full row struct
    over the (order_cols) struct — ONE aggregate instead of a per-key
    sort + row_number. Struct comparison is lexicographic, so the
    survivor is identical to the window form's.

    Scale: this is the shape to prefer at extreme per-key cardinality —
    aggregate state is a single row per key (partial max_by combines
    map-side), where row_number must buffer/sort each key's partition.
    Same single shuffle on the key either way.

    Output: the latest full row per key (same schema as the input).
    """
    ord_ = F.struct(*[F.col(c) for c in order_cols])
    row = F.max_by(F.struct(*[F.col(c) for c in events.columns]), ord_)
    return events.groupBy(F.col(key_col).alias("__k")).agg(row.alias("__r")).select("__r.*")


def balance_rank_features(customer: DataFrame, buckets: int = 4) -> DataFrame:
    """Ranking-function coverage beyond row_number (SURVEY.md §2.4
    "missing: window (analytic) functions"): per market segment, each
    customer's quartile (ntile), percent_rank, and cume_dist by account
    balance — the feature-engineering shape for per-group normalized
    rank features. The order is totalized with the key so every engine
    assigns identical ranks.

    Scale: one shuffle on the partition key; each function is O(1)
    per row once the partition is sorted — all three share one sort.

    Output: (c_mktsegment, c_custkey, c_acctbal, tile, pct_rank, cume).
    """
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
        F.ntile(buckets).over(w).alias("tile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def pricing_grouping_sets(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — the irregular lattice rollup/cube can't
    express: ((returnflag, linestatus), (returnflag), ()) skips the
    (linestatus)-only set a cube would compute. Spark expands the sets
    after partial aggregation, so the fact is still scanned once.

    Output: (l_returnflag, l_linestatus, gid, sum_qty, n).
    """
    return (
        lineitem.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum(_dec("l_quantity")).alias("sq"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "gid",
            F.round(F.col("sq"), 2).cast("double").alias("sum_qty"),
            "n",
        )
    )


def promo_revenue(lineitem: DataFrame, part: DataFrame,
                  month: str = "1997-09") -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from promo parts —
    a conditional aggregate over a fact⋈dimension join.

    Scale: the month filter prunes lineitem at the scan (pushed-down
    range predicate on l_shipdate); part is joined on partkey — at
    fixture scale Spark broadcasts it, at 100 TB AQE's runtime bloom
    filter prunes the lineitem side of the shuffle join instead; either
    way only the month's rows reach the aggregate. Ratio math in
    DECIMAL until the final division.

    Output: (promo_revenue_pct, total_revenue) — one row.
    """
    lo = F.lit(f"{month}-01").cast("timestamp")
    hi = F.add_months(F.lit(f"{month}-01").cast("date"), 1).cast("timestamp")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    li = lineitem.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return joined.agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
        ).alias("promo_revenue_pct"),
        F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column profiling — the data-quality pass a pipeline runs before
    training ingestion: per column, row/null/distinct counts and
    min/max rendered as strings (uniform output schema across types).

    One scan, one aggregate row per profiled column via a single wide
    agg then an explicit stack — never one job per column (a 100 TB
    profile must not rescan per metric). Distinct counts are exact
    here; swap count_distinct for approx_count_distinct when profiling
    monitoring-grade snapshots at full scale.

    Output: (col_name, n_rows, n_null, n_distinct, min_val, max_val).
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"__n_{c}").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_null"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_val"),
            F.col(f"__mx_{c}").alias("max_val"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def rolling_order_revenue(
    orders: DataFrame,
    trailing_days: int = 90,
) -> DataFrame:
    """Window-frame coverage (running + RANGE frames — the analytic
    shapes row_number/lag can't express): per customer in order-date
    order, the cumulative revenue to date (ROWS frame, totalized order
    so ties are deterministic) and the trailing ``trailing_days``-day
    revenue (RANGE frame over days-since-epoch — peers by VALUE
    distance, not row position).

    Scale: one shuffle on the partition key; both frames share the one
    per-partition sort. The RANGE frame's running aggregate is O(n) per
    partition (sliding-window add/evict), never O(n²). Money sums stay
    DECIMAL inside the frames.

    Output: (o_custkey, o_orderkey, day_d, run_total, trailing_total).
    """
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        day.cast("long").alias("day_d"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("__p"),
    )
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("day_d"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("day_d"))
        .rangeBetween(-(trailing_days - 1), Window.currentRow)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        "day_d",
        F.round(F.sum("__p").over(w_rows), 2).cast("double").alias("run_total"),
        F.round(F.sum("__p").over(w_range), 2).cast("double").alias("trailing_total"),
    )


def scd2_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts_us", "event_id"),
    attr_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: turn a change log into
    validity intervals — each change row becomes [valid_from, valid_to)
    with valid_to = the next change's timestamp (NULL while current).
    latest_snapshot's sibling: that op keeps only the last row; this
    one keeps the full history, queryable as-of any time with a range
    predicate.

    Scale: one shuffle on the key, one per-key sort shared by lead()
    and the is_current flag. Joining facts as-of a time against the
    result is then a range join (operators/rangejoin.py) — no
    per-fact sort.

    Output: (key, *attrs, valid_from_us, valid_to_us, is_current).
    """
    w = Window.partitionBy(key_col).orderBy(*[F.asc(c) for c in order_cols])
    first_ord = order_cols[0]
    return events.select(
        key_col,
        *attr_cols,
        F.col(first_ord).alias("valid_from_us"),
        F.lead(F.col(first_ord)).over(w).alias("valid_to_us"),
        F.lead(F.col(first_ord)).over(w).isNull().alias("is_current"),
    )


def copurchase_pairs(
    lineitem: DataFrame,
    k: int = 20,
    max_basket: int = 64,
) -> DataFrame:
    """Market-basket co-purchase: the top-``k`` part pairs by the
    number of orders containing both — the co-occurrence scan behind
    "frequently bought together" and co-occurrence embeddings.

    Scale: the pair generation is a SELF-JOIN ON THE ORDER KEY, so the
    amplification per order is |basket|² — bounded, because baskets
    are small by nature (TPC-H ≤ 7 parts; ``max_basket`` documents and
    enforces the operator's bound: larger baskets are dropped rather
    than allowed to produce a quadratic hot order, mirroring the
    shingle-DF cap in ngram_jaccard). Baskets dedup to DISTINCT
    (order, part) first so quantity rows don't inflate counts; the
    pair count is a partial→final agg on the (part_a, part_b) key and
    the ranking is TakeOrderedAndProject. The lineitem table shuffles
    once (on l_orderkey); nothing is collected.

    Plan shape: collect_set builds each basket in ONE shuffle on the
    order key (the self-join formulation scans lineitem 3× and pays 5
    exchanges — measured 4.8 s vs 2.7 s at sf0.1); the pair explosion
    is then map-side (two nested explodes over the basket array, no
    join), and the pair count is the only other shuffle.

    Output: (part_a, part_b, n_orders), ties broken by part ids.
    """
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .where(F.size("parts") <= max_basket)
        .select("parts")
    )
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("part_a"), F.col("part_b")
    ).limit(k)


def expectations(
    df: DataFrame,
    checks: list[tuple[str, Column]],
    unique_cols: list[str] | None = None,
) -> DataFrame:
    """Declarative data-quality expectations — the assertion pass a
    pipeline runs before publishing a table: each check is a row-level
    predicate; a row that fails it counts as a violation. Optional
    ``unique_cols`` adds a uniqueness expectation per listed column
    (row-count == distinct-count).

    One scan, ONE wide aggregate for every check (violations are
    conditional sums, uniqueness is count vs count_distinct in the
    same agg) — never a job per rule; a 100 TB expectation suite must
    not rescan per check. The per-check rows come out of an explicit
    stack of the 1-row aggregate.

    Output: (check, n_violations, passed) — one row per check.
    """
    aggs: list[Column] = []
    names: list[str] = []
    for name, pred in checks:
        names.append(name)
        aggs.append(
            F.sum(F.when(pred, 0).otherwise(1)).cast("long").alias(f"__v_{name}")
        )
    for c in unique_cols or []:
        name = f"unique:{c}"
        names.append(name)
        aggs.append(
            (F.count(c) - F.countDistinct(c)).cast("long").alias(f"__v_{name}")
        )
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(name).alias("check"),
            F.col(f"`__v_{name}`").alias("n_violations"),
            (F.col(f"`__v_{name}`") == 0).alias("passed"),
        )
        for name in names
    ]
    return wide.select(F.explode(F.array(*rows)).alias("e")).select("e.*")


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 20,
    unit: int = 1000,
) -> DataFrame:
    """Equi-width histogram of a numeric column in EXACT integer
    arithmetic — the profiling/monitoring pass that must agree across
    engines and reruns (a float `floor((x-min)/width)` flips bucket
    membership at 1-ulp boundaries; integer milli-units cannot).

    Bucket of x: ((xq − minq) · n_buckets) DIV (maxq − minq + 1) with
    xq = round(x·unit) — pure integer ops, every value lands in
    [0, n_buckets). Bounds come from one 1-row aggregate broadcast
    back onto the scan: two passes over the column, no shuffle of the
    data, matching how an engine computes stats pages. Empty buckets
    are omitted (join the full bucket range downstream if needed).

    Output: (bucket, lo, hi, n) — lo/hi the bucket's real-valued
    bounds, derived from the same integers.
    """
    xq = F.round(F.col(value_col) * F.lit(unit)).cast("long")
    vals = df.where(F.col(value_col).isNotNull()).select(xq.alias("__xq"))
    bounds = vals.agg(
        F.min("__xq").alias("__mn"), F.max("__xq").alias("__mx")
    )
    return (
        vals.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"((__xq - __mn) * {n_buckets}) DIV (__mx - __mn + 1)"
            ).alias("bucket"),
            "__mn",
            "__mx",
        )
        .groupBy("bucket", "__mn", "__mx")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            F.round(
                (F.col("__mn") + F.col("bucket") * (F.col("__mx") - F.col("__mn") + 1) / F.lit(n_buckets))
                / F.lit(float(unit)),
                6,
            ).alias("lo"),
            F.round(
                (F.col("__mn") + (F.col("bucket") + 1) * (F.col("__mx") - F.col("__mn") + 1) / F.lit(n_buckets))
                / F.lit(float(unit)),
                6,
            ).alias("hi"),
            "n",
        )
    )


def pareto_frontier(
    df: DataFrame,
    x: str,
    y: str,
    group: str | None = None,
    payload: list[str] | None = None,
) -> DataFrame:
    """2-D skyline (pareto frontier, per ``group`` if given): keep every
    row NOT dominated by another row of the same group — dominated
    means the other is ≥ on both (``x``, ``y``) and > on at least one.
    Exactly-equal points are mutually non-dominating, so ties all stay.

    Scale shape — never the O(n²) dominance self-join the declarative
    spec suggests: the frontier test runs on the *distinct-x* table
    (one row per (group, x) with the group-x max of y): a row survives
    iff its y equals its x-slice's max AND strictly exceeds the
    running max-y over all strictly-larger x in its group. The only
    window is over |distinct x| rows per group — partitioned by group
    (embarrassingly parallel) and bounded by the x domain, not the row
    count. The frontier x-table broadcast-joins back; the fact table
    passes once.

    Output: (*group, *payload, x, y).
    """
    keys = [group] if group else []
    by_x = df.groupBy(*keys, x).agg(F.max(y).alias("__best_y"))
    w = Window.partitionBy(*keys).orderBy(F.desc(x)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier_x = by_x.select(
        *keys,
        x,
        "__best_y",
        F.max("__best_y").over(w).alias("__run_y"),
    ).where(F.col("__run_y").isNull() | (F.col("__best_y") > F.col("__run_y")))
    return (
        df.join(
            F.broadcast(frontier_x.select(*keys, x, "__best_y")), [*keys, x]
        )
        .where(F.col(y) == F.col("__best_y"))
        .select(*keys, *(payload or []), x, y)
    )


def fuzzy_neighbor_pairs(
    df: DataFrame,
    key_col: str = "p_name",
    id_col: str = "p_partkey",
    window: int = 4,
    max_dist: int = 3,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995):
    sort records by the match key, compare each record only against its
    next ``window`` neighbors in sort order, keep pairs within
    ``max_dist`` edit distance — the linear-cost alternative to the
    quadratic blocked all-pairs join (SNM compares n·w pairs, and w is
    a constant).

    Parallel shape: the sort is PARTITIONED by the key's first
    character, so it's 36-way parallel and no global total order is
    materialized; within a partition the neighbor probe is ``window``
    lead() columns — no self-join at all. The standard SNM caveat
    applies and is inherited deliberately: pairs whose keys disagree in
    the first character are not candidates (multi-pass with a second
    key ordering is the textbook recall fix; one pass is implemented).

    Output: (id_a, id_b, key_a, key_b, dist) — id_a/id_b ordered by
    sort position, dist = levenshtein ≤ ``max_dist``.
    """
    k = F.lower(F.col(key_col))
    base = df.select(
        F.col(id_col).alias("id"), k.alias("key"),
        F.substring(k, 1, 1).alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy("key", "id")
    cols = []
    for i in range(1, window + 1):
        cols.append(
            F.struct(
                F.lead("id", i).over(w).alias("id_b"),
                F.lead("key", i).over(w).alias("key_b"),
            ).alias(f"__n{i}")
        )
    nbrs = base.select("id", "key", *cols)
    stacked = nbrs.select(
        F.col("id").alias("id_a"),
        F.col("key").alias("key_a"),
        F.explode(F.array(*[F.col(f"__n{i}") for i in range(1, window + 1)])).alias("n"),
    ).where(F.col("n.id_b").isNotNull())
    dist = F.levenshtein("key_a", F.col("n.key_b"))
    return stacked.where(dist <= max_dist).select(
        "id_a",
        F.col("n.id_b").alias("id_b"),
        "key_a",
        F.col("n.key_b").alias("key_b"),
        dist.alias("dist"),
    )


def fk_orphan_audit(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """REFERENTIAL-INTEGRITY audit: for each (name, child, fk_col,
    parent, pk_col) relation, count the child rows whose foreign key
    resolves to no parent — the orphan check a warehouse runs before
    trusting a join (an fk join silently DROPS orphans on inner join
    and NULL-pads them on left join; this op makes the damage visible
    first). NULL fks are reported separately: a null is a missing
    reference, not a dangling one.

    Plan shape per relation: the parent side reduces to DISTINCT keys
    (map-side combined, key-cardinality rows) before a LEFT ANTI join
    against the child — AQE broadcasts the key set while it fits, and
    at 100 TB a dimension key set still fits; the fact table is
    scanned once per relation, never joined wide. Output rows stack
    from k one-row aggregates (k = relations, driver-trivial).

    Output: (relation, n_child, n_null_fk, n_orphans) per relation.
    """
    outs: list[DataFrame] = []
    for name, child, fk, parent, pk in relations:
        keys = parent.select(F.col(pk).alias("__k")).distinct()
        base = child.select(F.col(fk).alias("__fk"))
        nn = base.where(F.col("__fk").isNotNull())
        orphans = nn.join(
            keys, nn["__fk"] == keys["__k"], "left_anti"
        ).agg(F.count("*").alias("n_orphans"))
        stats = base.agg(
            F.count("*").alias("n_child"),
            F.sum(F.when(F.col("__fk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_fk"),
        )
        outs.append(
            stats.crossJoin(orphans).select(
                F.lit(name).alias("relation"),
                "n_child",
                "n_null_fk",
                F.col("n_orphans").cast("long").alias("n_orphans"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def unpivot_metrics(lineitem: DataFrame) -> DataFrame:
    """Wide→long reshape (`DataFrame.unpivot`, the melt surface): the
    four lineitem measures become (metric, value) rows, then one hash
    agg per (l_returnflag, metric). The unpivot itself is a map-side
    Expand (4× row amplification before the agg's partial combine, no
    extra shuffle) — the reshape every metrics store / long-format
    export needs, with the group agg as the only exchange.

    Money math follows the house DECIMAL rule (sum over decimal(18,4),
    round, cast double — IEEE-exact and oracle-replayable).

    Output: (l_returnflag, metric, n, total, max_value).
    """
    long = lineitem.select(
        "l_returnflag",
        _dec("l_quantity").alias("quantity"),
        _dec("l_extendedprice").alias("extendedprice"),
        _dec("l_discount").alias("discount"),
        _dec("l_tax").alias("tax"),
    ).unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount", "tax"],
        "metric",
        "value",
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).cast("double").alias("total"),
        F.round(F.max("value"), 2).cast("double").alias("max_value"),
    )
