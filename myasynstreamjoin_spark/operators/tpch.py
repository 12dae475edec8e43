"""Further TPC-H-shaped relational coverage (Q7/Q10/Q12/Q13/Q15/Q19/Q22).

Continues operators/relational.py (Q1/Q3/Q4/Q5/Q6/Q14/Q17/Q18 shapes
live there): the reference engine has no SQL layer at all
(SURVEY.md §2.4 "missing" list), so the relational surface is defined
by what a general engine's users run — the TPC-H query shapes the
fixture tables can express. Adaptations to the fixture schema (no
l_shipmode/l_commitdate/partsupp/c_phone) are documented per function.

Scale stance shared by all plans here:
- facts (lineitem, orders) are never broadcast and never collected;
- dimensions and small derived sets are broadcast explicitly;
- aggregates run partial→final (map-side combine before any shuffle);
- money math stays DECIMAL until the final rounded DOUBLE projection
  so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dec(c: str) -> Column:
    return F.col(c).cast("decimal(18,4)")


def _revenue() -> Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))


def bilateral_trade(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_3",
    nation_b: str = "NATION_7",
    y_from: int = 1995,
    y_to: int = 1997,
) -> DataFrame:
    """TPC-H Q7 shape: shipped revenue between two nations, by supplier
    nation, customer nation, and ship year — only the (a→b) and (b→a)
    directions survive.

    Scale: nation is filtered to the two names BEFORE joining, so the
    supplier→nation and customer→nation joins are broadcast hash joins
    that also act as semi-filters — suppliers/customers outside the
    pair never reach the fact joins. lineitem⋈orders is the one big
    shuffle; the pair-direction predicate prunes before the final
    4-group aggregate.

    Output: (supp_nation, cust_nation, l_year, revenue).
    """
    pair = nation.where(F.col("n_name").isin(nation_a, nation_b))
    supp = (
        supplier.join(
            F.broadcast(pair), supplier["s_nationkey"] == pair["n_nationkey"]
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        customer.join(
            F.broadcast(pair), customer["c_nationkey"] == pair["n_nationkey"]
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    # Range form, not year(): a function-wrapped predicate can't reach
    # the parquet scan; the equivalent timestamp range prunes row groups.
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(f"{y_from}-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{y_to + 1}-01-01").cast("timestamp"))
    )
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .where(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_revenue()).alias("rev_d"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
        )
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: the top-k customers by revenue lost to returned
    items (l_returnflag = 'R') for one quarter of orders.

    Scale: the quarter filter cuts orders ~25×; returned lineitem rows
    join that subset on orderkey (the one big shuffle — AQE handles any
    hot order keys). The per-customer aggregate output is at most
    |customer| rows; customer and nation attribution joins run on that
    aggregated (small) side, with nation broadcast. Top-k is
    orderBy+limit = TakeOrderedAndProject, tie-broken by c_custkey so
    the k rows are engine-portable.

    Output: (c_custkey, c_name, n_name, c_acctbal, revenue) — k rows.
    """
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.where(F.col("l_returnflag") == "R")
    per_cust = (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum(_revenue()).alias("rev_d"))
    )
    return (
        per_cust.join(customer, per_cust["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def late_shipment_mode_split(
    orders: DataFrame,
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q12 shape: per line class, how many badly late lines came
    from high- vs low-priority orders. The fixture has no
    l_shipmode/l_commitdate/l_receiptdate, so the mode column is
    l_returnflag and "late" is l_shipdate > o_orderdate + late_days
    (the same lateness rule as the Q4 shape in relational.py).

    Scale: both sides project only their join key + 2 columns before
    the shuffle join; the conditional counts are one partial→final
    aggregate to 3 rows. The ship-date range predicate is pushed to the
    lineitem scan.

    Output: (l_returnflag, high_line_count, low_line_count).
    """
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    ords = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def top_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose shipped revenue over one
    quarter equals the maximum — the revenue-view + scalar-max query.

    Scale: one shuffle builds the per-supplier revenue aggregate; the
    global max is a one-row aggregate of THAT (never of the fact), and
    the equality filter is a broadcast join of the one-row max back
    onto the per-supplier rows. The max compare happens in DECIMAL, so
    exact ties are found identically on any engine — an equality on
    rounded DOUBLE would be engine-dependent.

    Output: (s_suppkey, s_name, total_revenue) — usually 1 row.
    """
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("rev_d"))
    mx = per_supp.agg(F.max("rev_d").alias("max_rev"))
    return (
        per_supp.join(F.broadcast(mx), per_supp["rev_d"] == mx["max_rev"])
        .join(F.broadcast(supplier), per_supp["l_suppkey"] == supplier["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_d"), 2).cast("double").alias("total_revenue"),
        )
    )


def brand_bracket_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brackets: tuple[tuple[str, int, float], ...] = (
        ("Brand#12", 5, 1.0),
        ("Brand#23", 10, 10.0),
        ("Brand#25", 15, 20.0),
    ),
) -> DataFrame:
    """TPC-H Q19 shape: revenue from lineitems matching ANY of several
    (brand, max size, quantity bracket) conjunctions — the disjunctive-
    predicate query that exercises OR handling in the optimizer. Each
    bracket keeps parts of one brand with p_size in [1, max_size] and
    lines with l_quantity in [qty, qty+10].

    Scale: the brand disjunction (p_brand IN (...)) is pushed to the
    part scan, shrinking the dimension before broadcast; the quantity
    range union l_quantity BETWEEN min(lo) AND max(hi) is pushed to the
    lineitem scan as a residual bound, and the exact per-brand bracket
    predicate evaluates after the broadcast join. One row out.

    Output: (revenue) — one row.
    """
    brands = [b for b, _, _ in brackets]
    p = part.where(F.col("p_brand").isin(brands)).select(
        "p_partkey", "p_brand", "p_size"
    )
    qty_lo = min(q for _, _, q in brackets)
    qty_hi = max(q + 10.0 for _, _, q in brackets)
    li = lineitem.where(
        (F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi)
    )
    cond = F.lit(False)
    for brand, max_size, qty in brackets:
        cond = cond | (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= max_size)
            & (F.col("l_quantity") >= qty)
            & (F.col("l_quantity") <= qty + 10.0)
        )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .where(cond)
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
    )


def idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    min_bal: float = 0.0,
    since: str = "1999-01-01",
) -> DataFrame:
    """TPC-H Q22 shape: per market segment, customers whose balance
    beats the average positive balance and who placed no order since
    ``since`` — the scalar-average subquery + anti-join query. The
    fixture has no c_phone country codes, so c_mktsegment plays the
    segment role, and the recency cutoff keeps the lapsed set non-empty
    (the fixture's order generator touches every customer eventually).

    Scale: the global average is a one-row aggregate broadcast into the
    filter (no correlated rescan); the "above average" compare is
    cross-multiplied into DECIMAL (bal·n > sum, the Q17 trick) so no
    float division decides a boundary row differently per engine. The
    anti join against orders shuffles only custkeys — with orders
    pre-projected to its distinct o_custkey set, the wire carries keys,
    not orders. Output is one row per segment.

    Output: (c_mktsegment, n_customers, total_acctbal).
    """
    pos = customer.where(F.col("c_acctbal") > min_bal).agg(
        F.sum(_dec("c_acctbal")).alias("sum_bal"),
        F.count("*").cast("decimal(18,4)").alias("n_bal"),
    )
    rich = (
        customer.join(F.broadcast(pos))
        .where(_dec("c_acctbal") * F.col("n_bal") > F.col("sum_bal"))
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    order_keys = (
        orders.where(F.col("o_orderdate") >= F.lit(since).cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        rich.join(order_keys, rich["c_custkey"] == order_keys["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("total_acctbal"),
        )
    )


def national_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "ASIA",
    p_type: str = "PROMO",
    y_from: int = 1995,
    y_to: int = 1997,
) -> DataFrame:
    """TPC-H Q8 shape: within one region's customers buying one part
    type, the share of revenue supplied by one nation, per order year —
    the two-level conditional-ratio aggregate.

    Scale: part (filtered by type) and the region's nation set broadcast
    into the fact joins; the target-nation flag rides each surviving
    row, so the share is a single conditional/total aggregate per year —
    no second pass, no self-join. The share division happens on the
    2-row-per-year aggregate, in DOUBLE only after DECIMAL sums.

    Output: (o_year, mkt_share).
    """
    p = part.where(F.col("p_type") == p_type).select("p_partkey")
    region_nations = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select("n_nationkey")
    )
    cust = customer.join(
        F.broadcast(region_nations),
        customer["c_nationkey"] == region_nations["n_nationkey"],
    ).select("c_custkey")
    supp = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == target_nation)),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select(F.col("s_suppkey").alias("target_suppkey"))
    li = lineitem.join(F.broadcast(p), lineitem["l_partkey"] == p["p_partkey"])
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(f"{y_from}-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{y_to + 1}-01-01").cast("timestamp"))
    )
    rev = _revenue()
    joined = (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"], "left_semi")
        .join(
            F.broadcast(supp),
            li["l_suppkey"] == supp["target_suppkey"],
            "left",
        )
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("target_suppkey").isNotNull(), rev).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )).alias("nat_rev"),
            F.sum(rev).alias("all_rev"),
        )
        .select(
            "o_year",
            F.round(
                F.col("nat_rev").cast("double") / F.col("all_rev").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_days: int = 60,
    k: int = 10,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finalized multi-supplier orders, ranked by how often. The original's
    double correlated EXISTS/NOT-EXISTS self-join on lineitem is
    re-expressed as one per-order aggregate — supplier counts and
    late-supplier counts per order — then a filter (n_supp > 1,
    n_late_supp = 1); identical semantics, one pass over lineitem
    instead of three. "Late" is l_shipdate > o_orderdate + late_days
    (fixture has no l_commitdate/l_receiptdate).

    Scale: lineitem joins the filtered orders once on orderkey, then
    ONE shuffle to the per-(order, supplier) aggregate and a tiny
    per-order rollup; the reference EXISTS form would scan and shuffle
    lineitem three times. Supplier names attach by broadcast; top-k is
    TakeOrderedAndProject with s_name tiebreak.

    Output: (s_suppkey, s_name, numwait) — k rows.
    """
    f_orders = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = lineitem.join(f_orders, lineitem["l_orderkey"] == f_orders["o_orderkey"])
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
    ).cast("int")
    per_order_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late).alias("is_late")
    )
    per_order = per_order_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("is_late").alias("n_late_supp"),
    )
    sole_late = (
        per_order_supp.where(F.col("is_late") == 1)
        .join(
            per_order.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
        )
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def min_cost_part_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    p_type: str = "SMALL",
    size_max: int = 15,
    region_name: str = "EUROPE",
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2 shape: for each part of one type (and bounded size),
    the region supplier offering it at the minimum cost — the
    correlated-min subquery query. The fixture has no partsupp, so the
    part↔supplier cost relation is derived from lineitem: cost of
    (part, supplier) = min line price ever shipped for that pair.

    Scale: the derived cost relation aggregates lineitem once on
    (l_partkey, l_suppkey) — the only fact-sized shuffle. The part
    filter and the region's supplier set both broadcast into it (each
    also acting as a semi-filter), the per-part min is an aggregate of
    the already-small cost relation, and the winning rows come back via
    a broadcast equality join on the DECIMAL min (exact ties on any
    engine, unlike a rounded-DOUBLE compare). Top-k is
    TakeOrderedAndProject with a full deterministic tiebreak.

    Output: (s_acctbal, s_name, n_name, p_partkey, supply_cost) — ≤k rows.
    """
    pt = part.where(
        (F.col("p_type") == p_type) & (F.col("p_size") <= size_max)
    ).select("p_partkey")
    rn = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == region_name)),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey", "n_name")
            ),
            supplier["s_nationkey"] == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        lineitem.join(F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"])
        .join(
            F.broadcast(rn.select("s_suppkey")),
            lineitem["l_suppkey"] == rn["s_suppkey"],
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost_d"))
    )
    min_cost = cost.groupBy(F.col("l_partkey").alias("mc_partkey")).agg(
        F.min("cost_d").alias("min_cost_d")
    )
    return (
        cost.join(
            F.broadcast(min_cost),
            (cost["l_partkey"] == min_cost["mc_partkey"])
            & (cost["cost_d"] == min_cost["min_cost_d"]),
        )
        .join(F.broadcast(rn), cost["l_suppkey"] == rn["s_suppkey"])
        .select(
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("cost_d"), 2).cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(k)
    )


def important_part_values(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    target_nation: str = "NATION_7",
    fraction: float = 0.001,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one nation's
    suppliers exceeds a fraction of that nation's total shipped value —
    the scalar-subquery-threshold (GROUP BY ... HAVING > scalar) query.
    Value is summed l_extendedprice (fixture has no ps_supplycost ×
    ps_availqty).

    Scale: the nation's supplier set broadcasts as a semi-filter into
    the lineitem scan, so only that nation's lines shuffle (once, on
    partkey). The grand total is a one-row aggregate OF THE PER-PART
    AGGREGATE (not a second fact scan), broadcast into the threshold
    filter; the compare runs in DECIMAL (value > total × fraction) so
    the boundary part is engine-portable.

    Output: (l_partkey, value).
    """
    supp = (
        supplier.join(
            F.broadcast(nation.where(F.col("n_name") == target_nation)),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .select("s_suppkey")
    )
    per_part = (
        lineitem.join(
            F.broadcast(supp), lineitem["l_suppkey"] == supp["s_suppkey"], "left_semi"
        )
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value_d"))
    )
    total = per_part.agg(F.sum("value_d").alias("total_d"))
    frac = F.lit(fraction).cast("decimal(7,6)")
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value_d") > F.col("total_d") * frac)
        .select(
            "l_partkey",
            F.round(F.col("value_d"), 2).cast("double").alias("value"),
        )
    )


def supplier_count_by_part(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excl_brand: str = "Brand#4",
    excl_type: str = "ECONOMY",
    sizes: tuple[int, ...] = (5, 10, 15, 20, 25, 30, 35, 40),
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each
    (brand, type, size) part class, excluding one brand, one type, and
    "complained-about" suppliers (no s_comment in the fixture, so
    negative account balance plays that role). The part↔supplier link
    is lineitem's distinct (l_partkey, l_suppkey) pairs (no partsupp).

    Scale: part's exclusion predicates and the size IN-list are pushed
    to its scan; the excluded-supplier set is tiny and anti-broadcast;
    both joins broadcast, so the fact side never shuffles at pair
    grain. The ONLY exchanges are the distinct-agg's own two (partial
    dedup on (class, suppkey) map-side, then the per-class count) —
    round 9 removed an explicit pre-`distinct()` on the raw
    (partkey, suppkey) pairs that shuffled the whole fact table a
    third time for nothing: count(DISTINCT suppkey) already dedups,
    and the broadcast part join's class filter (~size IN-list
    selectivity) now prunes pairs BEFORE any exchange (sf30ish: the
    r8-shaped plan spilled 25.0 GiB / 22.0 s on this query).

    Output: (p_brand, p_type, p_size, supplier_cnt).
    """
    p = part.where(
        (F.col("p_brand") != excl_brand)
        & (F.col("p_type") != excl_type)
        & (F.col("p_size").isin(list(sizes)))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    link = lineitem.select("l_partkey", "l_suppkey").join(
        F.broadcast(bad_supp),
        lineitem["l_suppkey"] == bad_supp["s_suppkey"],
        "left_anti",
    )
    return (
        link.join(F.broadcast(p), link["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def excess_inventory_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "small",
    y_from: str = "1996-01-01",
    y_to: str = "1997-01-01",
    target_nation: str = "NATION_3",
) -> DataFrame:
    """TPC-H Q20 shape: one nation's suppliers holding excess stock of
    parts matching a name prefix — the nested-semi-join chain
    (supplier ⋉ partsupp ⋉ (part, shipped-qty threshold)). Without
    ps_availqty, "stock" is the pair's all-time shipped quantity and
    the Q20 predicate availqty > ½ · year-qty becomes
    total_qty > 2 × year_qty (with the pair active in the year).

    Scale: the prefix-filtered part set broadcasts as a semi-filter
    into lineitem, so only matching-part lines reach the one shuffle —
    the (partkey, suppkey) aggregate, which computes both the all-time
    and in-year quantities in a single pass (conditional sum) instead
    of two scans. The qualifying pair set reduces to distinct suppkeys
    before the final broadcast semi-join onto the nation's suppliers.

    Output: (s_suppkey, s_name).
    """
    p = part.where(F.col("p_name").startswith(name_prefix)).select("p_partkey")
    in_year = (
        (F.col("l_shipdate") >= F.lit(y_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(y_to).cast("timestamp"))
    ).cast("int")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    pairs = (
        lineitem.join(
            F.broadcast(p), lineitem["l_partkey"] == p["p_partkey"], "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(qty).alias("total_qty"),
            F.sum(F.when(in_year == 1, qty).otherwise(F.lit(0).cast("decimal(12,2)"))).alias(
                "year_qty"
            ),
        )
        .where(
            (F.col("year_qty") > 0)
            & (F.col("total_qty") > F.lit(2).cast("decimal(2,0)") * F.col("year_qty"))
        )
        .select("l_suppkey")
        .distinct()
    )
    ns = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == target_nation)),
        supplier["s_nationkey"] == nation["n_nationkey"],
    )
    return (
        ns.join(F.broadcast(pairs), ns["s_suppkey"] == pairs["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )
