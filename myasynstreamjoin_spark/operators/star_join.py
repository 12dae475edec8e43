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

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig


def star_cardinality(star: DataFrame, n_rels: int = 3) -> DataFrame:
    """Per-key join cardinality via counts-product (J2, inner-join
    semantics: keys absent from any relation produce no row).

    Input F3 ``(rel, ts, key, value)``; output ``(key, card)`` with
    card = Π_r count(rel=r, key). Implemented as
    groupBy(key, rel).count → pivot-free conditional agg → product,
    i.e. two shuffles of at-most-|keys|·n_rels rows.
    """
    per_rel = star.groupBy("key", "rel").agg(F.count("*").alias("cnt"))
    cols = [
        F.max(F.when(F.col("rel") == r, F.col("cnt"))).alias(f"c{r}")
        for r in range(n_rels)
    ]
    wide = per_rel.groupBy("key").agg(*cols)
    product = F.lit(1).cast("long")
    cond = F.lit(True)
    for r in range(n_rels):
        product = product * F.col(f"c{r}")
        cond = cond & F.col(f"c{r}").isNotNull()
    return wide.where(cond).select("key", product.alias("card"))


def star_cardinality_hypercube(
    star: DataFrame,
    n_rels: int = 3,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_cells: int = 8,
) -> DataFrame:
    """Skew-aware J3: the hypercube ("shares") idea of
    star-join-stateless/cluster/DuplicateHHJoin.scala re-expressed as
    DataFrame-level salting.

    Heavy keys (freq > hh_threshold·total/m, the reference's rule) are
    fragmented: each heavy (key, rel) row gets a salt cell so its
    partial counts spread over `n_cells` reducers; light keys take the
    plain path. The final merge sums the salted partials — equivalent
    to the reference's replication-corrected merge
    (DuplicateHHJoin.scala:158-208) but without row replication, since
    we aggregate counts rather than materialize join tuples.
    """
    from myasynstreamjoin_spark.operators.stats import heavy_hitters

    heavy = heavy_hitters(star, "key", cfg).select("key", F.lit(True).alias("is_heavy"))
    tagged = star.join(F.broadcast(heavy), "key", "left").withColumn(
        "salt",
        F.when(
            F.col("is_heavy").isNotNull(),
            F.pmod(F.xxhash64("value", "ts"), F.lit(n_cells)),
        ).otherwise(F.lit(0)),
    )
    partial = tagged.groupBy("key", "rel", "salt").agg(F.count("*").alias("pcnt"))
    per_rel = partial.groupBy("key", "rel").agg(F.sum("pcnt").alias("cnt"))
    cols = [
        F.max(F.when(F.col("rel") == r, F.col("cnt"))).alias(f"c{r}")
        for r in range(n_rels)
    ]
    wide = per_rel.groupBy("key").agg(*cols)
    product = F.lit(1).cast("long")
    cond = F.lit(True)
    for r in range(n_rels):
        product = product * F.col(f"c{r}")
        cond = cond & F.col(f"c{r}").isNotNull()
    return wide.where(cond).select("key", product.alias("card"))


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

    Per heavy key z a (mx, my, mz) cube of cells exists. A tuple from
    relation r hashes its payload to ONE coordinate on dim r and is
    REPLICATED across every cell sharing that coordinate (rel 0 → the
    (c0, *, *) plane of my·mz cells, DuplicateHHJoin.scala:80-103). Any
    triple (x0, x1, x2) then meets in exactly ONE cell
    (h0(x0), h1(x1), h2(x2)) — so a plain equi-join on (key, cell)
    materializes each joined triple exactly once, and no divide-out
    replication correction is needed (the reference needs :189-191's
    division only because it merges per-rel COUNTS, which the
    replication inflates; materialized rows dedup structurally).
    Light keys take one cell (-1), unreplicated — the plain join path.

    Scale design: replication cost is the classic shares bound — a
    heavy rel-r tuple is copied (cube volume / m_r) times, paid in the
    single explode projection; in exchange the heavy key's join work
    spreads over mx·my·mz reducers instead of hot-spotting one. This is
    AQE skew-join generalized to a multi-way join, where Spark's
    two-table skew splitting doesn't reach.

    ``cube="auto"`` (the default) sizes a cube PER heavy key with the
    reference's adaptive allocation (``plan_cube_dims``,
    DuplicateHHJoin.scala:248-281): workers split ∝ √(join size), dims
    shaped to each key's per-relation counts. ``m`` is the worker
    budget (default cfg.n_mappers). A static tuple applies one uniform
    cube to every heavy key (the reference's :75-103 fixed-shares
    form).

    Output: (key, x0, x1, x2) — one row per joined triple.
    """
    if cube == "auto":
        return _hypercube_rows_auto(star, cfg, m)
    return _hypercube_rows_static(star, cube, cfg)


def _hypercube_rows_static(
    star: DataFrame,
    cube: tuple[int, int, int],
    cfg: EngineConfig,
) -> DataFrame:
    from myasynstreamjoin_spark.operators.stats import heavy_hitters

    mx, my, mz = cube
    heavy = heavy_hitters(star, "key", cfg).select(
        "key", F.lit(True).alias("is_heavy")
    )
    # NOT persisted: the three relation slices re-derive this branch,
    # but each slice's scan prunes to its own rel and the heavy set is
    # a broadcast — measured, caching the pre-explode corpus here costs
    # more than the recomputation (and wouldn't be viable at 100 TB).
    tagged = star.join(F.broadcast(heavy), "key", "left").select(
        "key",
        "rel",
        F.floor("value").cast("int").alias("x"),
        F.col("is_heavy").isNotNull().alias("hh"),
    )

    def cell_id(cx, cy, cz):
        return (cx * my + cy) * mz + cz

    def rel_slice(r: int, payload_alias: str) -> DataFrame:
        dims = (mx, my, mz)
        coord = F.pmod(F.xxhash64(F.col("x"), F.lit(11 + r)), F.lit(dims[r]))
        # Unrolled cell enumeration (cube dims are small static ints):
        # the plane of cells sharing this tuple's coordinate on dim r.
        if r == 0:
            cells = [cell_id(coord, j, k) for j in range(my) for k in range(mz)]
        elif r == 1:
            cells = [cell_id(i, coord, k) for i in range(mx) for k in range(mz)]
        else:
            cells = [cell_id(i, j, coord) for i in range(mx) for j in range(my)]
        cell_arr = F.when(F.col("hh"), F.array(*cells)).otherwise(
            F.array(F.lit(-1))
        )
        return (
            tagged.where(F.col("rel") == r)
            .select("key", F.col("x").alias(payload_alias), cell_arr.alias("cells"))
            .withColumn("cell", F.explode("cells"))
            .drop("cells")
        )

    r0, r1, r2 = (rel_slice(r, f"x{r}") for r in range(3))
    return r0.join(r1, ["key", "cell"], "inner").join(
        r2, ["key", "cell"], "inner"
    ).select("key", "x0", "x1", "x2")


def _hypercube_rows_auto(
    star: DataFrame, cfg: EngineConfig, m: int | None
) -> DataFrame:
    """Per-key adaptive cubes: ``plan_cube_dims`` (the reference's
    driver-side foreachRDD allocation) chooses (mx, my, mz) per heavy
    key; the tiny plan table broadcasts onto the data and the cell
    planes are enumerated DYNAMICALLY with sequence/transform (dims are
    columns now, not Python ints). Keys without a plan — light keys and
    sub-1-worker "fake" heavy hitters (DuplicateHHJoin.scala:254-257) —
    coalesce to a 1×1×1 cube, which is exactly the single-cell
    unreplicated path.

    Exactly-once still holds per key: all three relations read the SAME
    broadcast dims, so a triple meets in the one cell
    (h0(x0), h1(x1), h2(x2)) of ITS key's cube. The per-element lambda
    work is O(1) arithmetic (the captured coord/dims re-evaluate per
    cell, but each is a pmod/attribute — nothing amplifying; see
    SCALE.md HOF rules)."""
    from pyspark.sql import types as T

    plans = plan_cube_dims(star, 3, cfg, m)
    spark = star.sparkSession
    schema = T.StructType(
        [
            T.StructField("key", star.schema["key"].dataType),
            T.StructField("mx", T.IntegerType()),
            T.StructField("my", T.IntegerType()),
            T.StructField("mz", T.IntegerType()),
        ]
    )
    plan_df = spark.createDataFrame(
        [(p["key"], p["mx"], p["my"], p["mz"]) for p in plans], schema
    )
    tagged = star.join(F.broadcast(plan_df), "key", "left").select(
        "key",
        "rel",
        F.floor("value").cast("int").alias("x"),
        F.coalesce("mx", F.lit(1)).alias("mx"),
        F.coalesce("my", F.lit(1)).alias("my"),
        F.coalesce("mz", F.lit(1)).alias("mz"),
    )

    def rel_cells(r: int):
        mx, my, mz = F.col("mx"), F.col("my"), F.col("mz")
        coord = F.pmod(F.xxhash64(F.col("x"), F.lit(11 + r)), (mx, my, mz)[r])
        one = F.lit(1)
        if r == 0:
            return F.flatten(
                F.transform(
                    F.sequence(F.lit(0), my - one),
                    lambda j: F.transform(
                        F.sequence(F.lit(0), mz - one),
                        lambda k: (coord * my + j) * mz + k,
                    ),
                )
            )
        if r == 1:
            return F.flatten(
                F.transform(
                    F.sequence(F.lit(0), mx - one),
                    lambda i: F.transform(
                        F.sequence(F.lit(0), mz - one),
                        lambda k: (i * my + coord) * mz + k,
                    ),
                )
            )
        return F.flatten(
            F.transform(
                F.sequence(F.lit(0), mx - one),
                lambda i: F.transform(
                    F.sequence(F.lit(0), my - one),
                    lambda j: (i * my + j) * mz + coord,
                ),
            )
        )

    def rel_slice(r: int, payload_alias: str) -> DataFrame:
        return tagged.where(F.col("rel") == r).select(
            "key",
            F.col("x").alias(payload_alias),
            F.explode(rel_cells(r)).alias("cell"),
        )

    r0, r1, r2 = (rel_slice(r, f"x{r}") for r in range(3))
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
    from myasynstreamjoin_spark.operators.stats import heavy_hitters

    m = m or cfg.n_mappers
    heavy = heavy_hitters(star, "key", cfg).select("key")
    per_rel = (
        star.join(F.broadcast(heavy), "key")
        .groupBy("key", "rel")
        .agg(F.count("*").alias("cnt"))
    )
    cols = [
        F.max(F.when(F.col("rel") == r, F.col("cnt"))).alias(f"c{r}")
        for r in range(n_rels)
    ]
    rows = per_rel.groupBy("key").agg(*cols).collect()  # < m/θ rows

    stats = []
    for r in rows:
        counts = [r[f"c{i}"] or 0 for i in range(n_rels)]
        if all(c > 0 for c in counts):
            prod = 1
            for c in counts:
                prod *= c
            stats.append((r["key"], counts, prod))
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
