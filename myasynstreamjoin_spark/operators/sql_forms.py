"""The TPC-H-shaped and star-join queries, each as one ``spark.sql()`` string.

The SQL text is the implementation: each function here is the only
definition of its declared query (q_regional_revenue, q_topk_revenue,
q_star_join, q_tpch_q1, q_tpch_q3, q_tpch_q5, q_tpch_q9, q_tpch_q13,
q_tpch_q18), and the query's DuckDB oracle in ``__spark_entry__
.oracle_sql()`` is its check (tools/driver_sim.py and the pytest
oracle-parity mirror). tests/test_plans.py pins the plan intent each
docstring states: which sides broadcast, that the fact never reaches a
SortMergeJoin, top-k as TakeOrderedAndProject.

Why one string rather than a DataFrame chain (guide §7.3 — planning is
driver-side work): a chain runs the Catalyst ANALYZER once per
transformation (every ``.join``/``.groupBy``/``.select`` creates a new
Dataset JVM-side, each analyzing the whole tree so far → O(n²)
analysis per query) plus one py4j round trip per Column object. A
single SQL string is ONE py4j call and ONE parse+analyze pass —
measured ~5× cheaper to construct for the 6-way-join queries (60 ms vs
293 ms for the regional-revenue join under load). At bench semantics
the construction cost is paid on EVERY timed pass, exactly as a real
driver pays it per query submission.

Tables arrive as VIEW NAMES (``sources.tables.table_view``): each
(session, file identity) registers one stable temp view, so the warm
path of a query construction is zero py4j calls for table handles and
one for ``spark.sql``. The kwargs-formatter path
(``spark.sql(q, df=df)``) was rejected: it creates and drops a temp
view PER CALL (2+ py4j calls per table per construction).

Scale stance shared by all plans here: facts (lineitem, orders) are
never broadcast and never collected; dimensions and small derived sets
are broadcast by hint; aggregates run partial→final (map-side combine
before any shuffle); money math stays DECIMAL until the final rounded
DOUBLE so Spark and the DuckDB oracle agree bit-for-bit.

Parameter literals are inlined via ``str.format`` — every call site
passes engine constants (never user input), and the declared queries
bake the documented defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# The DECIMAL(18,4) revenue expression shared by the TPC-H-shaped
# queries (the same expression as tpch._revenue()).
_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
)


def regional_revenue_sql(
    spark: SparkSession,
    views: dict[str, str],
    region_name: str = "ASIA",
    y_from: str = "1995-01-01 00:00:00",
    y_to: str = "1997-01-01 00:00:00",
) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: revenue per nation for one region,
    local suppliers only (c_nationkey = s_nationkey).

    Plan shape for 100 TB: lineitem (the fact) is never broadcast;
    region→nation→supplier collapse into one broadcast dimension on the
    fact side, the orders and customer joins are the only shuffle
    joins; the final aggregate is nation-cardinality rows.

    Output: (n_name, revenue)."""
    q = """
        WITH dims AS (
          SELECT /*+ BROADCAST(nr) */ s.s_suppkey, s.s_nationkey, nr.n_name
          FROM {supplier} s
          JOIN (
            SELECT /*+ BROADCAST(r) */ n.n_nationkey, n.n_name
            FROM {nation} n
            JOIN {region} r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = '{region_name}'
          ) nr ON s.s_nationkey = nr.n_nationkey
        )
        SELECT /*+ BROADCAST(dims) */ dims.n_name,
               CAST(ROUND(SUM({rev}), 2) AS DOUBLE) AS revenue
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN dims ON l.l_suppkey = dims.s_suppkey
        JOIN {customer} c
          ON o.o_custkey = c.c_custkey AND c.c_nationkey = dims.s_nationkey
        WHERE o.o_orderdate >= CAST('{y_from}' AS TIMESTAMP)
          AND o.o_orderdate <  CAST('{y_to}' AS TIMESTAMP)
        GROUP BY dims.n_name
    """.format(rev=_REV, region_name=region_name, y_from=y_from, y_to=y_to, **views)
    return spark.sql(q)


def topk_revenue_sql(
    spark: SparkSession,
    views: dict[str, str],
    segment: str = "BUILDING",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped top-k orders by revenue for one market segment.
    The filtered customer dimension broadcasts; ORDER BY + LIMIT plans
    as TakeOrderedAndProject (per-partition heap + driver merge of k
    rows, never a global sort). Ties are broken by l_orderkey so the
    k-row result is engine-portable.

    Output: (l_orderkey, revenue) — k rows."""
    q = """
        SELECT /*+ BROADCAST(c) */ l.l_orderkey,
               CAST(ROUND(SUM({rev}), 2) AS DOUBLE) AS revenue
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = '{segment}'
        GROUP BY l.l_orderkey
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT {k}
    """.format(rev=_REV, segment=segment, k=k, **views)
    return spark.sql(q)


def star_join_count_sql(spark: SparkSession, views: dict[str, str]) -> DataFrame:
    """Row-materializing 3-way star join over the relational tables
    (FIXTURES.md §2): lineitem ⋈ orders ⋈ customer, grouped count per
    market segment. The dimension (customer) is broadcast — at 100 TB
    the fact table streams through without shuffling the small side.

    Output: (c_mktsegment, n)."""
    q = """
        SELECT /*+ BROADCAST(c) */ c.c_mktsegment, COUNT(*) AS n
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """.format(**views)
    return spark.sql(q)


def tpch_q1_sql(
    spark: SparkSession,
    views: dict[str, str],
    cutoff: str = "1998-09-02 00:00:00",
) -> DataFrame:
    """TPC-H Q1 pricing summary: per (returnflag, linestatus), sums and
    averages of quantity, price, discounted price and charge,
    DECIMAL-exact then rounded to DOUBLE. One scan with the shipdate
    filter pushed down, then a single-shuffle partial→final aggregate
    over a handful of groups — no join.

    Output: (l_returnflag, l_linestatus, sum_qty, sum_base_price,
    sum_disc_price, sum_charge, avg_qty, avg_price, avg_disc,
    count_order)."""
    q = """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(sq, 2) AS DOUBLE)  AS sum_qty,
               CAST(ROUND(sbp, 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(sdp, 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(sc, 2) AS DOUBLE)  AS sum_charge,
               ROUND(CAST(sq AS DOUBLE) / count_order, 4)  AS avg_qty,
               ROUND(CAST(sbp AS DOUBLE) / count_order, 4) AS avg_price,
               ROUND(CAST(sd AS DOUBLE) / count_order, 6)  AS avg_disc,
               count_order
        FROM (
          SELECT l_returnflag, l_linestatus,
                 SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sbp,
                 SUM({rev}) AS sdp,
                 SUM({rev} * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))) AS sc,
                 SUM(CAST(l_discount AS DECIMAL(18,4))) AS sd,
                 COUNT(*) AS count_order
          FROM {lineitem}
          WHERE l_shipdate <= CAST('{cutoff}' AS TIMESTAMP)
          GROUP BY l_returnflag, l_linestatus
        )
    """.format(rev=_REV, cutoff=cutoff, **views)
    return spark.sql(q)


def shipping_priority_sql(
    spark: SparkSession,
    views: dict[str, str],
    segment: str = "BUILDING",
    cutoff: str = "1998-06-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top-k unshipped orders by revenue for one market
    segment (orders placed before ``cutoff`` with lines shipping after
    it). The fixture orders table has no o_shippriority column, so the
    output carries (l_orderkey, revenue, o_orderdate).

    Scale: the segment filter keeps ~20% of customer — still far below
    broadcast threshold at any SF (customer is a dimension here), so
    both the customer→orders and filtered-orders→lineitem joins
    broadcast the small side; lineitem, the 100 TB fact, is scanned
    once with the shipdate filter pushed down and never shuffled. The
    top-k is ORDER BY + LIMIT = TakeOrderedAndProject (per-partition
    heap + driver merge of k rows, never a global sort). Ties are
    broken by l_orderkey so the k-row result is engine-portable.

    Output: (l_orderkey, revenue, o_orderdate) — k rows."""
    q = """
        WITH ords AS (
          SELECT /*+ BROADCAST(c) */ o.o_orderkey, o.o_orderdate
          FROM {orders} o
          JOIN (
            SELECT c_custkey FROM {customer} WHERE c_mktsegment = '{segment}'
          ) c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderdate < CAST('{cutoff}' AS TIMESTAMP)
        )
        SELECT /*+ BROADCAST(ords) */ l.l_orderkey,
               CAST(ROUND(SUM({rev}), 2) AS DOUBLE) AS revenue,
               ords.o_orderdate
        FROM {lineitem} l
        JOIN ords ON l.l_orderkey = ords.o_orderkey
        WHERE l.l_shipdate > CAST('{cutoff}' AS TIMESTAMP)
        GROUP BY l.l_orderkey, ords.o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT {k}
    """.format(rev=_REV, segment=segment, cutoff=cutoff, k=k, **views)
    return spark.sql(q)


def local_supplier_volume_sql(
    spark: SparkSession,
    views: dict[str, str],
    region_name: str = "ASIA",
    y_from: int = 1995,
    y_to: int = 1996,
) -> DataFrame:
    """TPC-H Q5 shape: per-nation revenue where the ordering customer
    and the shipping supplier sit in the SAME nation of one region,
    over an order-date year range.

    Scale: region→nation is a driver-sized broadcast that semi-filters
    supplier AND customer before either touches a fact table; orders
    takes its date range in pushdown-able form (a range, not year()).
    orders⋈customer joins first, both already dimension-filtered;
    customer itself is not hinted — at TPC-H scale it grows with SF
    and belongs on the shuffle path (AQE may still demote it to
    broadcast when the region filter makes it small). lineitem⋈orders
    is the one big shuffle; the c_nationkey = s_nationkey locality
    predicate applies right behind the broadcast supplier join, so the
    final aggregate groups only same-nation rows on the few-row nation
    key.

    Output: (n_name, revenue) — revenue DECIMAL-summed, rounded to 2."""
    q = """
        WITH nat AS (
          SELECT /*+ BROADCAST(r) */ n.n_nationkey, n.n_name
          FROM {nation} n
          JOIN {region} r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = '{region_name}'
        ),
        supp AS (
          SELECT /*+ BROADCAST(nat) */ s.s_suppkey, s.s_nationkey, nat.n_name
          FROM {supplier} s JOIN nat ON s.s_nationkey = nat.n_nationkey
        ),
        cust AS (
          SELECT /*+ BROADCAST(nat) */ c.c_custkey, c.c_nationkey
          FROM {customer} c JOIN nat ON c.c_nationkey = nat.n_nationkey
        ),
        ords_c AS (
          SELECT o.o_orderkey, cust.c_nationkey
          FROM {orders} o
          JOIN cust ON o.o_custkey = cust.c_custkey
          WHERE o.o_orderdate >= CAST('{y_from}-01-01' AS TIMESTAMP)
            AND o.o_orderdate <  CAST('{y_hi}-01-01' AS TIMESTAMP)
        )
        SELECT /*+ BROADCAST(supp) */ supp.n_name,
               CAST(ROUND(SUM({rev}), 2) AS DOUBLE) AS revenue
        FROM {lineitem} l
        JOIN ords_c ON l.l_orderkey = ords_c.o_orderkey
        JOIN supp ON l.l_suppkey = supp.s_suppkey
        WHERE ords_c.c_nationkey = supp.s_nationkey
        GROUP BY supp.n_name
    """.format(
        rev=_REV, region_name=region_name, y_from=y_from, y_hi=y_to + 1, **views
    )
    return spark.sql(q)


def product_type_profit_sql(
    spark: SparkSession,
    views: dict[str, str],
    name_substr: str = "widget",
) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per order year for
    parts whose name contains a substring. The fixture has no
    ps_supplycost, so unit cost is 60% of p_retailprice — the shape
    (fact revenue minus dimension-priced cost, grouped by a dimension
    attribute and a derived year) is what matters.

    Scale: the name filter shrinks part before broadcast; supplier
    (with its nation name attached via broadcast) also broadcasts.
    lineitem⋈orders on orderkey is the one big shuffle; profit math
    stays in small-precision DECIMAL (no scale-loss truncation at
    p=38, so Spark and DuckDB agree bit-for-bit) until the final
    rounded DOUBLE.

    Output: (nation, o_year, sum_profit)."""
    q = """
        WITH p AS (
          SELECT p_partkey, CAST(p_retailprice AS DECIMAL(10,4)) AS unit_price
          FROM {part} WHERE contains(p_name, '{name_substr}')
        ),
        s AS (
          SELECT /*+ BROADCAST(n) */ s.s_suppkey, n.n_name AS nation
          FROM {supplier} s JOIN {nation} n ON s.s_nationkey = n.n_nationkey
        )
        SELECT /*+ BROADCAST(p, s) */ s.nation, year(o.o_orderdate) AS o_year,
               CAST(ROUND(SUM(
                 CAST(l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
                 - p.unit_price * CAST(l_quantity AS DECIMAL(6,2))
                   * CAST(0.6 AS DECIMAL(2,1))
               ), 2) AS DOUBLE) AS sum_profit
        FROM {lineitem} l
        JOIN p ON l.l_partkey = p.p_partkey
        JOIN s ON l.l_suppkey = s.s_suppkey
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        GROUP BY s.nation, year(o.o_orderdate)
    """.format(name_substr=name_substr, **views)
    return spark.sql(q)


def order_count_distribution_sql(
    spark: SparkSession,
    views: dict[str, str],
    exclude_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer,
    including customers with zero orders — the canonical left-outer
    join + double aggregation. The original excludes special-comment
    orders; the fixture has no o_comment, so one priority class is
    excluded instead (the point is a filtered outer join, not the
    predicate text).

    Scale: counting orders per custkey BEFORE the outer join keeps the
    join input at |distinct custkey| rows instead of |orders| rows, and
    the second aggregate (histogram of counts) is tiny. Spark picks a
    shuffle join on custkey for the outer join; no row explosion exists
    at any scale because both sides are already unique per key.

    Output: (c_count, custdist)."""
    q = """
        WITH per_cust AS (
          SELECT o_custkey, COUNT(*) AS n_orders
          FROM {orders}
          WHERE o_orderpriority != '{exclude_priority}'
          GROUP BY o_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT COALESCE(per_cust.n_orders, 0) AS c_count
          FROM {customer} c
          LEFT JOIN per_cust ON c.c_custkey = per_cust.o_custkey
        )
        GROUP BY c_count
    """.format(exclude_priority=exclude_priority, **views)
    return spark.sql(q)


def large_orders_sql(
    spark: SparkSession,
    views: dict[str, str],
    min_qty: float = 300.0,
) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds
    ``min_qty``, with customer attribution. The IN-subquery-with-HAVING
    becomes an aggregate + join: per-order quantity totals first (the
    big shuffle, partial-agg combined map-side), then the few survivors
    broadcast into the join with orders, and customer attributes them.

    Output: (c_custkey, o_orderkey, o_totalprice, total_qty)."""
    q = """
        WITH totals AS (
          SELECT l_orderkey, tq FROM (
            SELECT l_orderkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,4))) AS tq
            FROM {lineitem}
            GROUP BY l_orderkey
          ) WHERE tq > CAST({min_qty} AS DECIMAL(18,4))
        )
        SELECT /*+ BROADCAST(totals) */ c.c_custkey, o.o_orderkey, o.o_totalprice,
               CAST(ROUND(totals.tq, 2) AS DOUBLE) AS total_qty
        FROM {orders} o
        JOIN totals ON o.o_orderkey = totals.l_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
    """.format(min_qty=min_qty, **views)
    return spark.sql(q)
