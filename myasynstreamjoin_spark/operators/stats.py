"""Workload statistics: heavy hitters, skew ratio, batch stats.

These are the inputs to the reference's adaptive partitioning decisions
(SURVEY.md §2.4 A10-A12). The reference computes them with driver-side
``rdd.aggregate`` per micro-batch
(one-group-stateless/cluster/APKGrouping.scala:114-141,
DGrouping.scala:135-171); here they are ordinary distributed aggregates
whose result is a *small* DataFrame (≤ key-cardinality rows or a single
row), so the same stats scale to 100 TB inputs — nothing row-sized ever
reaches the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig


def _heavy(cnt: str, total: str, cfg: EngineConfig) -> str:
    """The reference's heavy-key rule, freq > hh_threshold · total /
    n_mappers (A11; the 0.2·total/m of
    one-group-stateless/cluster/APKGrouping.scala:94-100 and
    stateless/cluster/AdvancedPartialKeyJoin.scala:37), over two SQL
    expressions. The ``D`` suffix keeps the threshold a double (a bare
    0.2 parses as DECIMAL)."""
    return f"{cnt} > {cfg.hh_threshold!r}D * {total} / {cfg.n_mappers}"


def _key_stats(
    df: DataFrame, key: str, cfg: EngineConfig, by: Sequence[str] = ()
) -> DataFrame:
    """The count statistics every skew decision reads: per (by, key)
    its count, its group's total and the heavy-key verdict, as
    ``(*by, key, cnt, total, heavy)``. With ``by`` empty the group is
    the whole batch.

    One aggregate over ``df``: the total is a window sum of the per-key
    counts over the group, so it comes from the counts themselves (sum
    of cnt == count(*) of the group exactly) in the same pass, and the
    input is scanned once. The older form joined the counts to their
    own aggregated total, which read them down two branches that
    Spark's exchange reuse did not merge (r11: the scan ran twice), and
    needed a localCheckpoint of the counts, with a construct-then-execute
    lifetime, to stay at one scan. A caller that reads neither
    ``total`` nor ``heavy`` (``skew_p1``) has the window pruned away.
    The whole-batch window gathers the key-grain rows into one task,
    as the whole-batch aggregate does after it.

    The columns are SQL expressions, which are cheaper to build: on
    PySpark 4 one Column-API call took ~1 ms against ~0.3 ms for one
    ``F.expr`` (local[4], 4-core x86), and with the Column API the
    build was a third of skew_p1's wall at sf0.1.
    """
    part = ", ".join(f"`{c}`" for c in by)
    total = f"sum(count(*)) OVER (PARTITION BY {part})" if by else "sum(count(*)) OVER ()"
    return df.groupBy(*by, key).agg(
        F.expr("count(*) AS cnt"),
        F.expr(f"{total} AS total"),
        F.expr(f"{_heavy('count(*)', total, cfg)} AS heavy"),
    )


_COUNT_STATS = (
    "sum(cnt) AS m_total",
    "count(*) AS k_keys",
    "max(cnt) AS max_cnt",
    "CAST(sum(CASE WHEN heavy THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy",
    "CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons",
    "max(cnt) / sum(cnt) AS __p1",
)


def _count_stats(
    df: DataFrame, key: str, cfg: EngineConfig, by: Sequence[str] = ()
) -> DataFrame:
    """One row per group of ``_key_stats``: ``(*by, m_total, k_keys,
    max_cnt, n_heavy, n_singletons, __p1)``. ``__p1`` is left
    unrounded: the cost model's decision columns read it, and their
    DuckDB oracles reproduce the unrounded double bit for bit."""
    return _key_stats(df, key, cfg, by).groupBy(*by).agg(*map(F.expr, _COUNT_STATS))


def heavy_hitters(
    df: DataFrame, key: str = "key", cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Keys whose frequency clears the heavy-key rule (A11), as
    ``(key, cnt)``."""
    return _key_stats(df, key, cfg).where("heavy").select(key, "cnt")


def skew_p1(df: DataFrame, key: str = "key") -> DataFrame:
    """Skew ratio p1 = max key frequency / total (A12:
    stateless/cluster/PartialKeyDynamicGlobalJoin.scala:82-87).

    Single-row output ``(max_cnt, total, p1)``; p1 rounded so the
    float is hash-stable across engines.
    """
    return _count_stats(df, key, DEFAULT_CONFIG).selectExpr(
        "max_cnt", "m_total AS total", "round(__p1, 9) AS p1"
    )


def batch_stats(df: DataFrame, key: str = "key", cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The full per-batch statistics record the reference's cost model
    consumes (A10, DGrouping.scala:135-171): total tuples M, distinct
    keys K, max frequency, heavy-hitter count |H|, and number of
    singleton keys — one row.

    These feed the costHH/costAPK strategy choice (X8); in this engine
    the analogous runtime adaptivity is AQE, but the stats remain useful
    for plan selection (e.g. split_skew_agg fan-out) and monitoring.
    """
    return _count_stats(df, key, cfg).selectExpr(
        "m_total", "k_keys", "max_cnt", "n_heavy", "n_singletons",
        "round(__p1, 9) AS p1",
    )


def approx_distinct_audit(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    rsd: float = 0.02,
    tolerance: float = 0.10,
) -> DataFrame:
    """Sketch-vs-exact audit: per group, the exact distinct count next
    to a flag asserting the HyperLogLog++ estimate
    (``approx_count_distinct``) landed within ``tolerance`` of it.

    At 100 TB the exact count is the expensive path (it shuffles every
    distinct value; the HLL sketch shuffles a 1.5/rsd² byte buffer per
    group per partition and never materializes values) — this audit
    exists so the cheap path's error is *measured* on real data, the
    same judged-estimate discipline as the ANN recall@k query. Both
    aggregates run in one pass over the scan. Spark's HLL is
    deterministic for fixed input, so the flag is stable and
    oracle-checkable (the oracle asserts exact counts and `true`).

    Output: (group, n_exact, approx_ok).
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.countDistinct(value_col).alias("n_exact"),
            F.approx_count_distinct(value_col, rsd).alias("__n_approx"),
        )
        .select(
            group_col,
            "n_exact",
            (
                F.abs(F.col("__n_approx") - F.col("n_exact"))
                <= F.lit(tolerance) * F.col("n_exact")
            ).alias("approx_ok"),
        )
    )


def approx_percentile_audit(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    accuracy: int = 10_000,
    tolerance: float = 0.05,
) -> DataFrame:
    """Sketch-vs-exact audit for quantiles, the percentile twin of
    approx_distinct_audit: per group, the exact median next to a flag
    asserting the approx_percentile estimate (Greenwald-Khanna at
    ``accuracy``) landed within ``tolerance``·(p75−p25) of it.

    At 100 TB exact percentile sort-aggregates every group value;
    the GK sketch keeps O(accuracy) state per group and merges
    map-side — this audit measures the cheap path's error against the
    spread (IQR), not the magnitude, so uniform-near-zero columns don't
    trivially pass. Both aggregates run in the same single pass.

    Output: (group, p50_exact, approx_ok).
    """
    pct = F.expr(f"percentile({value_col}, array(0.25D, 0.5D, 0.75D))")
    apx = F.expr(f"approx_percentile({value_col}, 0.5D, {accuracy})")
    return (
        df.groupBy(group_col)
        .agg(pct.alias("__p"), apx.alias("__apx"))
        .select(
            group_col,
            F.round(F.col("__p")[1], 6).alias("p50_exact"),
            (
                F.abs(F.col("__apx") - F.col("__p")[1])
                <= F.lit(tolerance) * (F.col("__p")[2] - F.col("__p")[0])
            ).alias("approx_ok"),
        )
    )


def cms_heavy_hitters_audit(
    df: DataFrame,
    key: str = "key",
    cfg: EngineConfig = DEFAULT_CONFIG,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Sketched heavy-hitter detection (the "CMS for sketched version"
    SURVEY.md §2.4 A11 names) audited against the exact rule: for every
    exact heavy key, the Count-Min estimate must also clear the
    threshold (CMS never under-counts, so sketched detection can only
    over-select — the safe direction for skew salting).

    Scale story: the exact path shuffles one row per distinct key; the
    sketch is a fixed (eps, confidence)-sized table built in one pass
    with per-partition merge — at 100 TB with hundreds of millions of
    keys it is the only viable per-micro-batch detector, and this audit
    measures its overshoot on real data instead of trusting the bound.
    The sketch itself is driver-sized by construction (that is the
    point of a sketch); no data rows reach the driver.

    Output: (key, cnt, cms_est, detected) — exact heavy keys only.
    """
    # PySpark doesn't surface Dataset.stat().countMinSketch — call the
    # JVM implementation through the gateway (same executor-side
    # one-pass build + partition merge as the Scala API).
    jdf = df.select(F.col(key).cast("string").alias("__k"))._jdf
    sketch = jdf.stat().countMinSketch("__k", eps, confidence, seed)
    # ≤ n_mappers/hh_threshold keys by the rule
    rows = _key_stats(df, key, cfg).where("heavy").collect()
    out = [
        (r[key], r["cnt"], int(sketch.estimateCount(str(r[key]))), r["total"])
        for r in rows
    ]
    res = df.sparkSession.createDataFrame(
        out, f"{key} string, cnt long, cms_est long, total long"
    )
    return res.select(
        key, "cnt", "cms_est",
        F.expr(f"{_heavy('cms_est', 'total', cfg)} AS detected"),
    )


def zscore_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 3,
    unit: int = 1000,
) -> DataFrame:
    """Per-group z-score anomaly detection with EXACT integer
    arithmetic: flag rows where |x − μ| > k·σ (population σ), without
    ever computing a float mean or variance.

    Values are fixed-pointed to ``unit``-ths (milli-units by default —
    that granularity is part of the operator's definition), and the
    flag condition is cross-multiplied to integers:

        (n·x − S)² > k²·(n·SS − S²)

    with S = Σx, SS = Σx² in DECIMAL(38,0). No division, no sqrt, no
    float accumulation — the flagged set is bit-identical on any
    engine and any row order (SCALE.md float-determinism house rule 2).

    Scale shape: one tiny per-group aggregate (|groups| rows) broadcast
    back onto the scan; the fact table never shuffles — a map-only
    filter pass. Headroom: milli-units keep n·(n·x) under DECIMAL(38)
    to ~10¹² rows per group; shard by (group, day) past that.

    Output: (group_col, id_col, value_col) — the anomalous rows.
    """
    x = F.round(F.col(value_col) * F.lit(unit)).cast("decimal(38,0)")
    ev = events.select(group_col, id_col, value_col, x.alias("__x"))
    st = ev.groupBy(group_col).agg(
        F.count("*").cast("decimal(38,0)").alias("__n"),
        F.sum("__x").cast("decimal(38,0)").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).cast("decimal(38,0)").alias("__ss"),
    )
    nx_s = F.col("__n") * F.col("__x") - F.col("__s")
    var_n2 = F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    return (
        ev.join(F.broadcast(st), group_col)
        .where(nx_s * nx_s > F.lit(k * k).cast("decimal(38,0)") * var_n2)
        .select(group_col, id_col, value_col)
    )


def population_stability_index(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    n_buckets: int = 10,
    unit: int = 1000,
) -> DataFrame:
    """PSI between a reference and a current sample of a numeric
    column — the standard model-monitoring drift score (PSI < 0.1
    stable, > 0.25 action). Buckets are equi-width over the REFERENCE
    range (fixed-point integer DIV, same discipline as
    ``equi_width_histogram``); current values outside that range clamp
    into the edge buckets, as a deployed monitor must.

    PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with add-one-smoothed bucket
    counts (empty buckets would make the log blow up). Determinism:
    bucket membership is pure integer arithmetic; each bucket's
    contribution is fixed-pointed to NANO units and the total is an
    integer sum — engine-order-free.

    Scale shape: two scans (one per sample), each reduced map-side to
    ≤ n_buckets rows; the bucket-bound row broadcasts. Output: 1 row
    (n_ref, n_cur, psi).
    """
    xq = F.round(F.col(value_col) * F.lit(unit)).cast("long")
    rq = ref.where(F.col(value_col).isNotNull()).select(xq.alias("__xq"))
    cq = cur.where(F.col(value_col).isNotNull()).select(xq.alias("__xq"))
    bounds = rq.agg(F.min("__xq").alias("__mn"), F.max("__xq").alias("__mx"))

    def bucketed(vals: DataFrame) -> DataFrame:
        clamped = F.greatest(
            F.col("__mn"), F.least(F.col("__mx"), F.col("__xq"))
        )
        b = F.expr(
            f"((__cl - __mn) * {n_buckets}) DIV (__mx - __mn + 1)"
        )
        return (
            vals.crossJoin(F.broadcast(bounds))
            .select(clamped.alias("__cl"), "__mn", "__mx")
            .select(b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("c"))
        )

    rb = bucketed(rq).select("bucket", F.col("c").alias("cr"))
    cb = bucketed(cq).select("bucket", F.col("c").alias("cc"))
    grid = ref.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    joined = (
        grid.join(rb, "bucket", "left")
        .join(cb, "bucket", "left")
        .select(
            "bucket",
            (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1)).alias("ar"),
            (F.coalesce(F.col("cc"), F.lit(0)) + F.lit(1)).alias("ac"),
        )
    )
    tot = joined.agg(
        F.sum("ar").alias("tr"), F.sum("ac").alias("tc")
    )
    p = F.col("ar") / F.col("tr")
    q = F.col("ac") / F.col("tc")
    nano = F.round((p - q) * F.log(p / q) * F.lit(1e9)).cast("long")
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(nano.alias("nano"), F.col("tr"), F.col("tc"))
        .groupBy()
        .agg(
            (F.max("tr") - F.lit(n_buckets)).alias("n_ref"),
            (F.max("tc") - F.lit(n_buckets)).alias("n_cur"),
            F.round(F.sum("nano") / F.lit(1e9), 6).alias("psi"),
        )
    )


def join_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Pre-join diagnostics: the numbers that predict whether an
    equi-join will explode BEFORE running it — per-side row/key counts,
    exact expected output cardinality (Σ over keys of cl·cr), and the
    single worst key's share of that output. The 100 TB habit this
    encodes: profile the key distribution first, then pick broadcast /
    salt / AQE-skew strategies from data, exactly like the reference's
    driver-side strategy selection (cost_model.py) but for joins.

    Plan shape: one count-groupBy per side (map-side combined), an
    inner join of the two (distinct-key-sized) count tables, one
    aggregate — the fact tables are scanned once each and never join.

    Output: 1 row (n_left, n_right, keys_left, keys_right,
    keys_common, est_rows, top_key, top_rows, top_share).
    """
    lc = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count("*").alias("cl")
    )
    rc = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count("*").alias("cr")
    )
    per_key = lc.join(rc, "k").select(
        "k", (F.col("cl") * F.col("cr")).alias("rows")
    )
    tot_l = left.agg(
        F.count("*").alias("n_left"),
        F.countDistinct(left_key).alias("keys_left"),
    )
    tot_r = right.agg(
        F.count("*").alias("n_right"),
        F.countDistinct(right_key).alias("keys_right"),
    )
    est = per_key.agg(
        F.count("*").alias("keys_common"),
        F.sum("rows").alias("est_rows"),
        F.max("rows").alias("top_rows"),
    )
    # top key = (rows DESC, k ASC) limit 1 — a TakeOrdered of the
    # count-table join, generic over any key type (a -k tie-break
    # would fail analysis on string keys)
    top = (
        per_key.orderBy(F.desc("rows"), F.asc("k"))
        .limit(1)
        .select(F.col("k").alias("top_key"))
    )
    est = est.join(F.broadcast(top))
    return (
        tot_l.join(F.broadcast(tot_r))
        .join(F.broadcast(est))
        .select(
            "n_left", "n_right", "keys_left", "keys_right", "keys_common",
            "est_rows", "top_key", "top_rows",
            (F.col("top_rows").cast("double") / F.col("est_rows").cast("double")
             ).alias("top_share"),
        )
    )


def mad_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    c: int = 5,
    unit: int = 1000,
) -> DataFrame:
    """Robust per-group anomaly detection: flag rows where
    |x − median| > c · MAD (median absolute deviation) — the
    outlier-resistant complement of ``zscore_outliers``, whose mean/σ
    a single extreme row can drag.

    Exact integer arithmetic throughout: values fixed-point to
    ``unit``-ths (longs), both medians are the LOWER median — the
    ⌊(n+1)/2⌋-th order statistic under the total order (x, id) — and
    the flag test is one integer multiply. No interpolation, no float:
    the flagged set is bit-identical on any engine (the same
    cross-engine tie-fragility rule that moved q_quality_filter to
    order statistics).

    Scale shape: two per-group sort windows (the price of EXACT
    medians — each group sorts once; approx_percentile is the
    documented 100 TB fallback when groups stop fitting a task) and
    two broadcast joins of |groups|-row tables; the fact passes
    twice, shuffling only on the group key.

    Output: (group_col, id_col, value_col) — the anomalous rows.
    """
    from pyspark.sql import Window

    x = F.round(F.col(value_col) * F.lit(unit)).cast("long")
    ev = events.select(group_col, id_col, value_col, x.alias("__x"))
    cnt = ev.groupBy(group_col).agg(F.count("*").alias("__n"))
    w = Window.partitionBy(group_col).orderBy("__x", id_col)
    med = (
        ev.join(F.broadcast(cnt), group_col)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == F.expr("(__n + 1) DIV 2"))
        .select(group_col, F.col("__x").alias("__med"))
    )
    dev = ev.join(F.broadcast(med), group_col).withColumn(
        "__dev", F.abs(F.col("__x") - F.col("__med"))
    )
    w2 = Window.partitionBy(group_col).orderBy("__dev", id_col)
    mad = (
        dev.join(F.broadcast(cnt), group_col)
        .withColumn("__rk", F.row_number().over(w2))
        .where(F.col("__rk") == F.expr("(__n + 1) DIV 2"))
        .select(group_col, F.col("__dev").alias("__mad"))
    )
    return (
        dev.join(F.broadcast(mad), group_col)
        .where(F.col("__dev") > F.lit(c) * F.col("__mad"))
        .select(group_col, id_col, value_col)
    )


def poisson_thresholds(n_buckets: int = 65_536, max_k: int = 8) -> list[int]:
    """Cumulative Poisson(1) thresholds on a 16-bit bucket grid,
    SHARED literals between the engine and the oracle SQL builder (the
    ``minhash_coeffs`` pattern): a row's bootstrap weight is the count
    of thresholds ≤ its hash bucket. Computed once driver-side; the
    float math here only shapes the literal table — both engines then
    compare integers."""
    import math

    cum, p, out = 0.0, math.exp(-1.0), []
    for k in range(max_k):
        cum += p
        out.append(min(n_buckets, round(cum * n_buckets)))
        p /= (k + 1)
    return out


def bootstrap_totals(
    lineitem: DataFrame,
    n_replicates: int = 32,
) -> DataFrame:
    """Poisson bootstrap of total revenue: the scale technique for
    confidence intervals — instead of resampling the dataset R times
    (impossible at 100 TB), each row draws an independent pseudo-
    Poisson(1) weight PER REPLICATE and every replicate total is one
    weighted sum in the same single pass.

    Determinism: the "random" weight is the md5 bucket of
    (orderkey:linenumber:replicate) pushed through the shared
    ``poisson_thresholds`` table — reproducible across runs, engines,
    and stage retries (a rand()-based bootstrap resamples per task
    attempt, silently breaking exactly-once totals). Money math runs
    in DECIMAL; each replicate total is exact, so the replicate
    distribution — and any CI cut from it — replays bit-for-bit.

    Scale shape: one scan, ×R row amplification via explode (the
    honest cost of bootstrap; map-side combine collapses it back to R
    partial sums per task), one R-group aggregate. R=32 gives
    percentile-grade CIs; raise it, not the data passes.

    Output: (r, n_rows_used, total_revenue) — one row per replicate.
    """
    from myasynstreamjoin_spark.operators.relational import hash_bucket

    thr = poisson_thresholds()
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    base = lineitem.select(
        F.concat_ws(
            ":", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("__id"),
        rev.alias("__rev"),
    ).select(
        "__id", "__rev", F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("r")
    )
    bucket = hash_bucket(
        F.concat_ws(":", F.col("__id"), F.col("r").cast("string")), 65_536
    )
    w = None
    for t in thr:
        term = F.when(bucket >= t, 1).otherwise(0)
        w = term if w is None else w + term
    return (
        base.select("r", w.alias("__w"), "__rev")
        .groupBy("r")
        .agg(
            F.sum("__w").cast("long").alias("n_rows_used"),
            F.round(F.sum(F.col("__w") * F.col("__rev")), 2)
            .cast("double")
            .alias("total_revenue"),
        )
    )


def psi_nano_term(ar, tr, ac, tc):
    """One smoothed PSI bucket contribution (p−q)·ln(p∕q) rounded to
    integer NANO units — shared verbatim by `drift_timeline` and the
    streaming monitor (streaming/drift.py) so stream ≡ batch holds
    bit-for-bit (same JVM round/ln, same operation order)."""
    p = ar / tr
    q = ac / tc
    return F.round((p - q) * F.log(p / q) * F.lit(1e9)).cast("long")


def psi_close_expr():
    """Close the nano fold with one exact integer DIV then one IEEE
    division — the oracle-replayable closure shared with the
    streaming monitor. Every (p−q)·ln(p∕q) term is ≥ 0, so the nano
    sum is non-negative and half-up needs no sign handling."""
    return F.expr("CAST((sum(nano) + 500) DIV 1000 AS DOUBLE)") / F.lit(1e6)


def drift_timeline(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    window_ns: int = 3_600_000_000_000,
    n_buckets: int = 10,
    unit: int = 1000,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """PSI drift TIMELINE: the population-stability index of every
    event-time window against its PREDECESSOR window — the continuous
    form of `population_stability_index` a monitoring pipeline
    actually charts (one score per window, alerting when a window
    shifts from the last).

    Formulated set-based so the whole timeline is computed in ONE
    corpus pass, not one PSI job per window-pair: global fixed-point
    bucket bounds (one 2-value broadcast), per (window, bucket) counts
    (a single map-side-combined groupBy), a dense windows × buckets
    grid for add-one smoothing, and the predecessor comparison is a
    self-join on (window−1, bucket) over the tiny counts table. Each
    per-bucket contribution is rounded to integer NANO units and the
    per-window score is an exact-integer fold closed with one DIV —
    the oracle-replayable closure recipe (no round(double) anywhere).

    Scale shape: the corpus is scanned once; everything after the
    first groupBy is windows·n_buckets rows. Output: one row per
    window with a predecessor — (win_start_ns, n_prev, n_cur, psi).

    ``bounds`` pins the (min, max) quantized bucket range explicitly
    (a monitoring deployment's fixed reference range, and what the
    streaming twin must be given since a stream has no global min);
    default derives it from the data as before.
    """
    xq = F.round(F.col(value_col) * F.lit(unit)).cast("long")
    base = events.where(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.expr(f"{ts_col} DIV {int(window_ns)}L").alias("__w"),
        xq.alias("__xq"),
    )
    if bounds is not None:
        mn, mx = int(bounds[0]), int(bounds[1])
        bucketed = base.select(
            "__w",
            F.greatest(F.lit(mn), F.least(F.lit(mx), F.col("__xq"))).alias(
                "__cl"
            ),
        ).select(
            "__w",
            F.expr(
                f"((__cl - {mn}L) * {n_buckets}) DIV ({mx}L - {mn}L + 1)"
            ).alias("bucket"),
        )
    else:
        bnds = base.agg(
            F.min("__xq").alias("__mn"), F.max("__xq").alias("__mx")
        )
        clamped = F.greatest(
            F.col("__mn"), F.least(F.col("__mx"), F.col("__xq"))
        )
        bucketed = (
            base.crossJoin(F.broadcast(bnds))
            .select("__w", clamped.alias("__cl"), "__mn", "__mx")
            .select(
                "__w",
                F.expr(
                    f"((__cl - __mn) * {n_buckets}) DIV (__mx - __mn + 1)"
                ).alias("bucket"),
            )
        )
    counts = (
        bucketed.groupBy("__w", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # consumed down 3 branches below
    )
    wins = counts.select("__w").distinct()
    grid = wins.crossJoin(
        events.sparkSession.range(n_buckets).select(
            F.col("id").cast("long").alias("bucket")
        )
    )
    dense = grid.join(counts, ["__w", "bucket"], "left").select(
        "__w",
        "bucket",
        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).alias("a"),
    )
    tot = dense.groupBy("__w").agg(F.sum("a").alias("t"))
    d = dense.join(tot, "__w")
    cur = d.select(
        F.col("__w").alias("w"), "bucket",
        F.col("a").alias("ac"), F.col("t").alias("tc"),
    )
    prev = d.select(
        (F.col("__w") + 1).alias("w"), "bucket",
        F.col("a").alias("ar"), F.col("t").alias("tr"),
    )
    nano = psi_nano_term(
        F.col("ar"), F.col("tr"), F.col("ac"), F.col("tc")
    )
    return (
        cur.join(prev, ["w", "bucket"])
        .select("w", nano.alias("nano"), "tr", "tc")
        .groupBy("w")
        .agg(
            (F.max("tr") - F.lit(n_buckets)).alias("n_prev"),
            (F.max("tc") - F.lit(n_buckets)).alias("n_cur"),
            psi_close_expr().alias("psi"),
        )
        .select(
            (F.col("w") * F.lit(window_ns)).alias("win_start_ns"),
            "n_prev", "n_cur", "psi",
        )
    )


def linear_trend(
    df: DataFrame,
    key_col: str,
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-key least-squares TREND line (slope + intercept) by the
    closed form — the is-this-metric-drifting analytic, computed the
    deterministic way: ``x`` and ``y`` must be INTEGER columns (fixed-
    point the caller's units), all five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) are exact BIGINT sums, and each output is
    ONE IEEE division of exact integers — no float accumulates, so the
    result is bit-identical across engines, partitionings, and
    retries (the oracle replays it term for term).

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)

    Keep ``x`` SMALL (an index from the data's own origin, not an
    absolute epoch) — Σx² at 100 TB row counts must stay inside
    BIGINT; re-basing x is the caller's one job. Keys whose x values
    are all equal have a zero denominator and report NULL slope — a
    vertical line is not a trend.

    Scale shape: ONE map-side-combined groupBy; one row per key out.
    Output: (key, n, slope, intercept).
    """
    prepped = df.select(
        F.col(key_col).alias("key"),
        x.cast("long").alias("__x"),
        y.cast("long").alias("__y"),
    )
    agg = prepped.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    icept_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return agg.select(
        "key",
        "n",
        F.when(den != 0, slope_num.cast("double") / den.cast("double"))
        .alias("slope"),
        F.when(den != 0, icept_num.cast("double") / den.cast("double"))
        .alias("intercept"),
    )


def categorical_association(
    df: DataFrame,
    a: str,
    b: str,
) -> DataFrame:
    """Chi-squared association between two categorical columns, with
    Cramér's V — the data-audit question "is `lang` independent of
    `source`?" answered in one corpus pass.

    Everything after the (a, b) cell-count groupBy operates on the
    R×C contingency table (tiny: margins, total and the residual fold
    all run on at most a few thousand rows regardless of corpus size).
    Each cell's (o−e)²∕e contribution is rounded to integer NANO units
    and summed as BIGINT, closed with one DIV — the oracle-replayable
    fold recipe (`drift_timeline` pattern). The expected count e and
    Cramér's sqrt are IEEE ops over exact integers (cast, ·, ∕, √ are
    all correctly rounded, so an external engine reproduces the exact
    doubles bit-for-bit).

    Output: one row — (n, n_a, n_b, dof, chi2, cramers_v).
    """
    cells = (
        df.where(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(F.col(a).alias("__a"), F.col(b).alias("__b"))
        .agg(F.count("*").alias("o"))
        # branched four ways below (row/col margins, totals, join)
        .localCheckpoint(eager=True)
    )
    ra = cells.groupBy("__a").agg(F.sum("o").alias("rt"))
    cb = cells.groupBy("__b").agg(F.sum("o").alias("ct"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("__a").alias("n_a"),
        F.countDistinct("__b").alias("n_b"),
    )
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    d = F.col("o").cast("double") - e
    nano = F.round(d * d / e * F.lit(1e9)).cast("long")
    # chi² sums over EVERY (a, b) cell of the grid, including the
    # unobserved ones (o = 0, whose (0−e)²∕e term is e itself) — the
    # groupBy above only yields observed combinations, so densify via
    # the margins' cross product before folding. R×C rows: tiny.
    grid = ra.crossJoin(cb)
    folded = (
        grid.join(cells, ["__a", "__b"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .select(nano.alias("nano"), "n", "n_a", "n_b")
        .groupBy("n", "n_a", "n_b")
        .agg(F.sum("nano").alias("s"))
    )
    chi2 = F.expr("CAST((s + 500) DIV 1000 AS DOUBLE)") / F.lit(1e6)
    dof = (F.col("n_a") - 1) * (F.col("n_b") - 1)
    k = F.least(F.col("n_a") - 1, F.col("n_b") - 1)
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        dof.cast("long").alias("dof"),
        chi2.alias("chi2"),
        # degenerate single-category inputs have no association to
        # measure; emit NULL rather than an engine-dependent 0/0
        F.when(
            k > 0,
            F.sqrt(chi2 / (F.col("n").cast("double") * k.cast("double"))),
        ).alias("cramers_v"),
    )


def winsorized_stats(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    lo_pct: int = 5,
    hi_pct: int = 95,
    unit: int = 1000,
    id_col: str = "event_id",
) -> DataFrame:
    """EXACT per-group winsorization: clamp each group's values at its
    own rank-based lo/hi percentile cut points and report robust sums
    next to raw ones — the outlier-resistant aggregate a metrics
    pipeline wants when a few wild rows would otherwise dominate.

    Cut points are order statistics, not interpolated percentiles:
    cut_lo is the value at rank ``max(1, n·lo DIV 100)`` and cut_hi at
    rank ``min(n, (n·hi + 99) DIV 100)`` (ties broken by id), so with
    values quantized to integer units the whole computation is exact
    integer arithmetic — no float percentile interpolation anywhere,
    fully SQL-replayable.

    ONE shuffle: ranks come from a row_number window and both cut
    points from conditional unbounded min/max windows over the SAME
    partition key — no join back, no second corpus pass. Per-group
    sort is inherent to exact order statistics; for approximate-is-ok
    monitoring use `approx_percentile_audit` instead.

    Output per group: (key, n, cut_lo, cut_hi, sum_raw, sum_wins,
    n_clamped_lo, n_clamped_hi) — sums in quantized units.
    """
    from pyspark.sql import Window

    xq = F.round(F.col(value_col) * F.lit(unit)).cast("long")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(F.col(key_col).alias("key"), xq.alias("xq"), F.col(id_col).alias("id"))
    part = Window.partitionBy("key")
    ordered = part.orderBy("xq", "id")
    ranked = base.select(
        "key",
        "xq",
        F.row_number().over(ordered).cast("long").alias("rn"),
        F.count("*").over(part).alias("n"),
    )
    k_lo = F.expr(f"greatest(1L, (n * {int(lo_pct)}) DIV 100)")
    k_hi = F.expr(f"least(n, (n * {int(hi_pct)} + 99) DIV 100)")
    cuts = ranked.select(
        "key",
        "xq",
        "n",
        F.max(F.when(F.col("rn") <= k_lo, F.col("xq"))).over(part).alias("cut_lo"),
        F.min(F.when(F.col("rn") >= k_hi, F.col("xq"))).over(part).alias("cut_hi"),
    )
    wins = F.greatest(F.col("cut_lo"), F.least(F.col("cut_hi"), F.col("xq")))
    return (
        cuts.groupBy("key")
        .agg(
            F.max("n").alias("n"),
            F.max("cut_lo").alias("cut_lo"),
            F.max("cut_hi").alias("cut_hi"),
            F.sum("xq").alias("sum_raw"),
            F.sum(wins).alias("sum_wins"),
            F.sum((F.col("xq") < F.col("cut_lo")).cast("long")).alias(
                "n_clamped_lo"
            ),
            F.sum((F.col("xq") > F.col("cut_hi")).cast("long")).alias(
                "n_clamped_hi"
            ),
        )
    )


def distinct_sketch_shards(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    shard: Column | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Per-shard MERGEABLE distinct-count sketches (Apache DataSketches
    HLL via ``hll_sketch_agg``) — the re-aggregatable form of
    `approx_distinct_audit`: each (group, shard) cell yields a small
    binary sketch that can be stored with the shard and unioned later
    to answer distinct-counts over ANY shard subset without rescanning
    data. That late-merge property is the whole point at 100 TB: a
    daily pipeline keeps one ~2^lg_k-byte sketch per partition and
    answers month/quarter rollups from sketches alone.

    ``shard`` defaults to a day bucket when the frame has a ``ts``
    column, else id-hash buckets. Output: one row per (group, shard)
    with the sketch itself plus its local estimate — feed the frame to
    `distinct_sketch_rollup` for the union/audit step.
    """
    if shard is None:
        dtypes = dict(df.dtypes)
        if dtypes.get("ts", "").startswith("timestamp"):
            shard = F.expr("CAST(ts AS DATE)").cast("string")
        elif "ts" in dtypes:  # epoch-nanos BIGINT (tables.load_table form)
            # FLOOR division (pmod-adjusted DIV): Spark's bare DIV
            # truncates toward zero while the DuckDB oracles floor
            # (`//`), so a pre-1970 negative-epoch event would land in
            # a different day shard between engines. `/`+floor is not
            # an option — epoch-ns exceeds double's 2^53 exact range.
            shard = F.expr(
                "(ts - pmod(ts, 86400000000000)) DIV 86400000000000"
            ).cast("string")
        else:
            shard = (F.xxhash64(value_col) % 16).cast("string")
    sketches = (
        df.groupBy(F.col(group_col).alias("grp"), shard.alias("shard"))
        .agg(F.hll_sketch_agg(F.col(value_col).cast("string"), F.lit(lg_k)).alias("sketch"))
    )
    return sketches.select(
        "grp",
        "shard",
        "sketch",
        F.hll_sketch_estimate("sketch").cast("long").alias("est_local"),
    )


def distinct_sketch_rollup(
    sketches: DataFrame,
    exact: DataFrame | None = None,
    tolerance: float = 0.05,
) -> DataFrame:
    """Union per-shard HLL sketches into one estimate per group and —
    when an ``exact`` frame (grp, n_exact) is supplied, the audit path
    — flag whether the merged estimate landed within ``tolerance`` of
    the exact count. This step never touches the corpus: it aggregates
    sketch rows only (n_groups × n_shards of them), so the rollup
    that would be a full rescan under ``countDistinct`` is a
    driver-light metadata job under sketches.

    Output: (grp, n_shards, est_merged[, n_exact, approx_ok]).
    """
    merged = sketches.groupBy("grp").agg(
        F.count("*").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("long")
        .alias("est_merged"),
    )
    if exact is None:
        return merged
    return merged.join(exact, "grp").select(
        "grp",
        "n_shards",
        "est_merged",
        "n_exact",
        (
            F.abs(F.col("est_merged") - F.col("n_exact"))
            <= F.lit(tolerance) * F.col("n_exact")
        ).alias("approx_ok"),
    )


def quantile_sketch_shards(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    shard: Column | None = None,
    k: int = 200,
) -> DataFrame:
    """Per-shard MERGEABLE quantile sketches (Apache DataSketches KLL
    via ``kll_sketch_agg_double``) — `distinct_sketch_shards`' sibling
    for ORDER statistics: each (group, shard) cell keeps one ~KB
    sketch that merges later to answer any-quantile queries over any
    shard subset without rescanning data. At 100 TB this is how
    percentile dashboards work: exact percentiles need a global sort
    per question; the sketch bank answers every question from
    metadata. Shard rule shared with the HLL op (day bucket when a
    ``ts`` column exists, else id-hash buckets).

    Output: (grp, shard, sketch, n_local).
    """
    if shard is None:
        dtypes = dict(df.dtypes)
        if dtypes.get("ts", "").startswith("timestamp"):
            shard = F.expr("CAST(ts AS DATE)").cast("string")
        elif "ts" in dtypes:
            # FLOOR division — same negative-epoch rule as
            # `distinct_sketch_shards` above.
            shard = F.expr(
                "(ts - pmod(ts, 86400000000000)) DIV 86400000000000"
            ).cast("string")
        else:
            shard = (F.xxhash64(value_col) % 16).cast("string")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), shard.alias("shard"))
        .agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("sketch")
        )
        .select(
            "grp",
            "shard",
            "sketch",
            F.kll_sketch_get_n_double("sketch").cast("long").alias("n_local"),
        )
    )


def quantile_sketch_rollup(
    sketches: DataFrame,
    quantiles: tuple[float, ...] = (0.1, 0.5, 0.9),
    exact: DataFrame | None = None,
    tolerance: float = 0.05,
) -> DataFrame:
    """Merge per-shard KLL sketches into per-group quantile estimates;
    with an ``exact`` frame carrying RANK bands (grp, q<pct>_lo =
    exact percentile at q−tolerance, q<pct>_hi = at q+tolerance), the
    audit path flags whether every merged estimate lies inside its
    band. Rank (never value) error is KLL's guarantee: where the CDF
    is sparse, the value at rank q±ε can sit far from the value at q,
    so a relative-VALUE band would flag correct sketches. Aggregates
    sketch rows only — the rollup never rescans data.

    Output: (grp, n_shards, n_total, est_q<pct>...
    [, q<pct>_lo/q<pct>_hi..., approx_ok]).
    """
    # kll_sketch_merge_double is a BINARY scalar (no union aggregate
    # exists for KLL, unlike hll_union_agg) — collect the per-group
    # shard sketches (n_shards smallish by construction: one per
    # (group, day)) and fold them with a higher-order aggregate.
    merged = (
        sketches.groupBy("grp")
        .agg(
            F.count("*").alias("n_shards"),
            F.collect_list("sketch").alias("__arr"),
        )
        .withColumn(
            "__m",
            F.aggregate(
                F.slice(F.col("__arr"), 2, F.greatest(F.size("__arr") - 1, F.lit(0))),
                F.element_at("__arr", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ),
        )
    )
    cols = [
        F.kll_sketch_get_quantile_double(F.col("__m"), F.lit(q)).alias(
            f"est_q{int(q * 100)}"
        )
        for q in quantiles
    ]
    out = merged.select(
        "grp",
        "n_shards",
        F.kll_sketch_get_n_double("__m").cast("long").alias("n_total"),
        *cols,
    )
    if exact is None:
        return out
    checks = [
        F.col(f"est_q{int(q*100)}").between(
            F.col(f"q{int(q*100)}_lo"), F.col(f"q{int(q*100)}_hi")
        )
        for q in quantiles
    ]
    ok = checks[0]
    for c in checks[1:]:
        ok = ok & c
    return out.join(exact, "grp").withColumn("approx_ok", ok)


def audience_set_algebra(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-set ALGEBRA without joins (Apache DataSketches Theta
    via ``theta_sketch_agg``): one sketch per group, then union /
    intersection / difference estimates for the requested group pairs
    — "users who did BOTH a and b" / "a but never b", the audience-
    overlap questions that are anti-join + countDistinct rescans in
    exact form but pure sketch arithmetic here. Theta (unlike HLL)
    supports intersection/difference, which is why both sketch
    families exist in the bank: HLL for cheapest pure unions, Theta
    for set expressions.

    One corpus pass builds |groups| sketches; every pair row after
    that is driver-light sketch math. Output per pair: (a, b, est_a,
    est_b, est_union, est_intersection, est_a_minus_b).
    """
    sk = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.theta_sketch_agg(
                F.col(value_col).cast("string"), F.lit(lg_k)
            ).alias("sk")
        )
    )
    a = sk.select(F.col("g").alias("a"), F.col("sk").alias("__sa"))
    b = sk.select(F.col("g").alias("b"), F.col("sk").alias("__sb"))
    spark = df.sparkSession
    want = spark.createDataFrame(pairs, "a string, b string")
    return (
        want.join(F.broadcast(a), "a")
        .join(F.broadcast(b), "b")
        .select(
            "a",
            "b",
            F.theta_sketch_estimate("__sa").cast("long").alias("est_a"),
            F.theta_sketch_estimate("__sb").cast("long").alias("est_b"),
            F.theta_sketch_estimate(
                F.theta_union(F.col("__sa"), F.col("__sb"))
            ).cast("long").alias("est_union"),
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("__sa"), F.col("__sb"))
            ).cast("long").alias("est_intersection"),
            F.theta_sketch_estimate(
                F.theta_difference(F.col("__sa"), F.col("__sb"))
            ).cast("long").alias("est_a_minus_b"),
        )
    )
