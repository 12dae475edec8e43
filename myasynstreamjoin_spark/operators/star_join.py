"""Star-join cardinality operators (SURVEY.md §2.5 J2/J3).

The reference's star-join module never materializes joined rows: per
join key z it computes |R0 ⋈ R1 ⋈ R2| = c0·c1·c2, the product of
per-relation counts (star-join-stateless/cluster/HHJoin.scala:59-78,
product at :74). Its skew machinery (hypercube "shares" partitioning,
DuplicateHHJoin.scala:75-103) exists only to balance that computation.

Spark-first design: the counts-product needs ONE shuffle of
pre-aggregated (key, rel) counts — never a row-level join — so skew in
the raw data is absorbed by map-side partial aggregation, which is the
load-balancing effect the reference's hypercube chased. For genuine
row-materializing star joins, `star_join_hypercube_rows` here and the
relational star join (`sql_forms.star_join_count_sql`, q_star_join) use
real joins and let Catalyst/AQE pick broadcast + skew-split strategies.
"""

from __future__ import annotations

import functools
import math
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig
from myasynstreamjoin_spark.operators.skew import split_skew_agg
from myasynstreamjoin_spark.operators.stats import heavy_hitters


def _counts_product(per_rel: DataFrame, n_rels: int) -> DataFrame:
    """Per-(key, rel) counts ``cnt`` → ``(key, c0..c{n-1}, card)`` with
    card = Π_r c_r: one shuffle of at most |keys|·n_rels rows, pivot-free
    conditional aggregation, inner-join semantics (a key absent from
    any relation produces no row)."""
    wide = per_rel.groupBy("key").agg(
        *(
            F.max(F.when(F.col("rel") == r, F.col("cnt"))).alias(f"c{r}")
            for r in range(n_rels)
        )
    )
    counts = [F.col(f"c{r}") for r in range(n_rels)]
    present = functools.reduce(operator.and_, (c.isNotNull() for c in counts))
    card = functools.reduce(operator.mul, counts, F.lit(1).cast("long"))
    return wide.where(present).withColumn("card", card)


def star_cardinality(star: DataFrame, n_rels: int = 3) -> DataFrame:
    """Per-key join cardinality via counts-product (J2, inner-join
    semantics: keys absent from any relation produce no row).

    Input F3 ``(rel, ts, key, value)``; output ``(key, card)`` with
    card = Π_r count(rel=r, key): groupBy(key, rel).count, then the
    counts-product — two shuffles of at-most-|keys|·n_rels rows.
    """
    per_rel = star.groupBy("key", "rel").agg(F.count("*").alias("cnt"))
    return _counts_product(per_rel, n_rels).select("key", "card")


def star_cardinality_hypercube(
    star: DataFrame,
    n_rels: int = 3,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_cells: int = 8,
) -> DataFrame:
    """Skew-aware J3: the hypercube ("shares") idea of
    star-join-stateless/cluster/DuplicateHHJoin.scala re-expressed as
    DataFrame-level salting.

    The per-(key, rel) counts are ``skew.split_skew_agg`` over
    (key, rel) with ``fanout=n_cells``: heavy keys (the reference's
    rule) spread their partial counts over ``n_cells`` salts, light
    keys take the plain path. The final merge sums the salted partials
    — equivalent to the reference's replication-corrected merge
    (DuplicateHHJoin.scala:158-208) but without row replication, since
    we aggregate counts rather than materialize join tuples.
    """
    per_rel = split_skew_agg(
        star, ["key", "rel"], {"cnt": ("count", "*")}, fanout=n_cells, cfg=cfg
    )
    return _counts_product(per_rel, n_rels).select("key", "card")


def star_join_hypercube_rows(
    star: DataFrame,
    cube: tuple[int, int, int] | str = "auto",
    cfg: EngineConfig = DEFAULT_CONFIG,
    m: int | None = None,
) -> DataFrame:
    """Materializing hypercube ("shares") 3-way star join — the exact
    mechanism of star-join-stateless/cluster/DuplicateHHJoin.scala:75-115,
    including the row replication its WIP left commented out (:111-115),
    finished and Spark-first.

    Per key z a (mx, my, mz) cube of cells exists. A tuple from
    relation r hashes its payload to ONE coordinate on dim r and is
    REPLICATED across every cell sharing that coordinate (rel 0 → the
    (c0, *, *) plane of my·mz cells, DuplicateHHJoin.scala:80-103). Any
    triple (x0, x1, x2) then meets in exactly ONE cell
    (h0(x0), h1(x1), h2(x2)) — so a plain equi-join on (key, cell)
    materializes each joined triple exactly once, and no divide-out
    replication correction is needed (the reference needs :189-191's
    division only because it merges per-rel COUNTS, which the
    replication inflates; materialized rows dedup structurally).

    The cube dims come from a small plan table broadcast onto the data
    (dims are columns, not Python ints). ``cube="auto"`` (the default)
    sizes a cube PER heavy key with the reference's adaptive allocation
    (``plan_cube_dims``, DuplicateHHJoin.scala:248-281): workers split
    ∝ √(join size), dims shaped to each key's per-relation counts;
    ``m`` is the worker budget (default cfg.n_mappers). A static tuple
    gives every heavy key that one cube (the reference's :75-103
    fixed-shares form). Keys without a plan — light keys and sub-1-worker
    "fake" heavy hitters (DuplicateHHJoin.scala:254-257) — get a 1×1×1
    cube: one cell, unreplicated, the plain join path. All three
    relations read the SAME broadcast dims, so exactly-once holds per
    key.

    Scale design: replication cost is the classic shares bound — a
    heavy rel-r tuple is copied (cube volume / m_r) times, paid in the
    single explode projection; in exchange the heavy key's join work
    spreads over mx·my·mz reducers instead of hot-spotting one. This is
    AQE skew-join generalized to a multi-way join, where Spark's
    two-table skew splitting doesn't reach.

    Output: (key, x0, x1, x2) — one row per joined triple.
    """
    if cube == "auto":
        schema = T.StructType(
            [T.StructField("key", star.schema["key"].dataType)]
            + [T.StructField(d, T.IntegerType()) for d in ("mx", "my", "mz")]
        )
        plans = star.sparkSession.createDataFrame(
            [(p["key"], p["mx"], p["my"], p["mz"]) for p in plan_cube_dims(star, 3, cfg, m)],
            schema,
        )
    else:
        plans = heavy_hitters(star, "key", cfg).select(
            "key", *(F.lit(d).alias(name) for d, name in zip(cube, ("mx", "my", "mz")))
        )
    # NOT persisted: the three relation slices re-derive this branch,
    # but each slice's scan prunes to its own rel and the plan table is
    # a broadcast — caching the pre-explode corpus costs more than the
    # recomputation (and wouldn't be viable at 100 TB).
    tagged = star.join(F.broadcast(plans), "key", "left").select(
        "key",
        "rel",
        F.floor("value").cast("int").alias("x"),
        *(F.coalesce(d, F.lit(1)).alias(d) for d in ("mx", "my", "mz")),
    )
    dims = [F.col("mx"), F.col("my"), F.col("mz")]

    def rel_slice(r: int) -> DataFrame:
        # cell = (c0·my + c1)·mz + c2. The plane of rel r fixes digit r
        # to the tuple's coordinate: its i-th cell keeps i's digits
        # below dim r (lo), multiplies those above it past dim r, and
        # puts the coordinate in between. O(1) arithmetic per cell.
        stride = functools.reduce(operator.mul, dims[r + 1:], F.lit(1))
        plane = functools.reduce(operator.mul, dims[:r] + dims[r + 1:], F.lit(1))
        coord = F.pmod(F.xxhash64(F.col("x"), F.lit(11 + r)), dims[r])

        def cell(i):
            lo = F.pmod(i, stride)
            return (i - lo) * dims[r] + coord * stride + lo

        cells = F.transform(F.sequence(F.lit(0), plane - 1), cell)
        return tagged.where(F.col("rel") == r).select(
            "key", F.col("x").alias(f"x{r}"), F.explode(cells).alias("cell")
        )

    r0, r1, r2 = (rel_slice(r) for r in range(3))
    return r0.join(r1, ["key", "cell"], "inner").join(
        r2, ["key", "cell"], "inner"
    ).select("key", "x0", "x1", "x2")


def plan_cube_dims(
    star: DataFrame,
    n_rels: int = 3,
    cfg: EngineConfig = DEFAULT_CONFIG,
    m: int | None = None,
) -> list[dict]:
    """The reference's per-heavy-key cube-dimension allocation
    (DuplicateHHJoin.scala:248-281), the planning half of the hypercube
    join: split ``m`` workers across heavy keys proportionally to
    √(join size), then shape each key's cube so cell loads balance.

    Per heavy key h with per-relation counts (M1, M2, M3) and join
    product P = M1·M2·M3:
      mh = ⌊√P / Σ_h √P · m⌋          workers for h   (:252)
      (mh < 1 → "fake" heavy hitter, dropped            :254-257)
      t  = (P / mh²)^⅓                                  (:260)
      m_r = ⌈mh · t / M_r⌉ per dim                      (:261-263)
      while Π m_r > mh: decrement the largest dim       (:264-273)

    Driver-side by design, like the reference (it runs in foreachRDD on
    the driver): heavy hitters are pigeonhole-bounded to < m/θ keys
    (stats.heavy_hitters), so the collect is a plan-choice-sized
    result, never data. Feed the result's (mx, my, mz) into
    ``star_join_hypercube_rows(cube=...)`` per key group, or use the
    uniform default when key skew is homogeneous.

    Returns one dict per surviving heavy key:
    {key, mh, mx, my, mz} with Π dims ≤ mh and Σ mh ≤ m.
    """
    m = m or cfg.n_mappers
    heavy = heavy_hitters(star, "key", cfg).select("key")
    per_rel = (
        star.join(F.broadcast(heavy), "key")
        .groupBy("key", "rel")
        .agg(F.count("*").alias("cnt"))
    )
    stats = [  # < m/θ rows
        (r["key"], [r[f"c{i}"] for i in range(n_rels)], r["card"])
        for r in _counts_product(per_rel, n_rels).collect()
    ]
    tmp1 = sum(p ** 0.5 for _, _, p in stats)
    if tmp1 == 0:
        return []

    out: list[dict] = []
    for key, counts, prod in stats:
        mh = int(prod ** 0.5 / tmp1 * m)
        if mh < 1:
            continue  # fake heavy hitter (:254-257)
        t = (prod / (mh * mh)) ** (1.0 / n_rels)
        dims = [max(1, math.ceil(mh * t / c)) for c in counts]
        while math.prod(dims) > mh:
            dims[dims.index(max(dims))] -= 1
            if max(dims) == 0:
                break  # ":275-277 hash base 0 — cube degenerate"
        if min(dims) < 1:
            continue
        plan = {"key": key, "mh": mh, "dims": tuple(dims)}
        if n_rels == 3:  # reference-shaped aliases for the 3-way case
            plan.update({"mx": dims[0], "my": dims[1], "mz": dims[2]})
        out.append(plan)
    return out
