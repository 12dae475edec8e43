"""Iterative graph analytics over derived edge lists.

Beyond-reference surface: the connected-components pass
(`functions/cluster.py`) covers label propagation for dedup; this
module adds value-iteration (PageRank) over a co-occurrence graph —
the "importance" scan a pipeline runs over entity/link graphs.

Scale stance: the edge list is built once (same bounded basket
machinery as `copurchase_pairs`), degrees are a one-pass aggregate
joined back to edges, and each PageRank iteration is ONE shuffle
(groupBy dst) over the edge list — the rank vector never leaves the
cluster and the loop is a fixed plan unrolling, not a driver-side
convergence poll.

Determinism: ranks are INTEGER micro-units (10⁻¹² of total mass) and
every per-iteration operation is integer division/multiplication/sum
— order-independent and therefore bit-replayable by any external SQL
engine. A double-based formulation flips a round() boundary with
probability ~|nodes|·iters·ulp/precision per run (cross-engine sum
association differs); integer arithmetic has zero flake risk and the
floor-division mass loss (≤ outdeg micro-units per node per
iteration) is part of the operator's definition, mirrored in the
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.session import batch_width, override_widths

# Session confs the triangle census WANTS when run at scale, declared
# BY the operator (round-11 verdict #3) instead of leaking in through
# SPARK_GRAFT_EXTRA_CONFS: its dominant cost is shipping every
# oriented edge's int-array out-neighborhood through one exchange
# (measured 18.7 GiB at sf10, 49.2 GiB at sf30ish), and packed int
# arrays are exactly the payload zstd compresses ~2.3x better than
# lz4 for a few % CPU (r10 A/B). `spark.io.compression.codec` is a
# STATIC conf — it must be set at session build (tools/scale_probe.py
# applies this map for census-only probe runs; a live session cannot
# switch). The engine-wide default stays lz4: the bench's mixed
# sub-second workload loses more to zstd CPU than it saves in bytes.
TRIANGLE_SCALE_CONFS: dict[str, str] = {
    "spark.io.compression.codec": "zstd",
}


def _ckpt_edge_grain(df: DataFrame) -> DataFrame:
    """localCheckpoint for EDGE-grain frames, DISK_ONLY blocks: the
    default storage buffers per-task block arrays on heap while
    writing, and at the sf10ish probe's 239 M-edge table that OOM'd
    the JVM during the checkpoint itself. Edge-grain loop invariants
    are written once and re-read sequentially per iteration, so disk
    blocks cost one scan's latency and nothing else; NODE-grain
    frames (ranks, labels, node lists) stay on the default level —
    they are small and re-read hot. (Delegates to the shared
    corpus-grain rule in myasynstreamjoin_spark/blocks.py.)"""
    from myasynstreamjoin_spark.blocks import ckpt_disk

    return ckpt_disk(df)

#: total PageRank mass in micro-units (10^12 — headroom: sums stay
#: far below 2^63 even with 10^9 nodes).
MASS = 1_000_000_000_000


def _copurchase_edges(
    lineitem: DataFrame,
    max_basket: int,
    cols: tuple[str, str],
    directed: bool,
    checkpoint: bool = True,
) -> DataFrame:
    """The shared co-purchase edge-list build every graph op starts
    from: distinct (order, part) pairs, mega-basket cap (a degenerate
    order contributes quadratic edges and no signal), self-join within
    order, dedup. ``directed=True`` keeps both (u,v) and (v,u);
    ``directed=False`` keeps the canonical u < v half.

    localCheckpoint, NOT persist: consumers reference this frame down
    several branches / unrolled iterations through CLONED plan
    instances (self-join dedup re-resolution), and clones of a
    persisted plan MISS the materialized cache — each branch silently
    re-ran the whole edge build (measured 47 s → 8 s for the triangle
    census, 31.5 s → 4 s for 3 PageRank iterations at sf0.01).
    Checkpointing cuts lineage to a LogicalRDD leaf every clone
    shares. On a real cluster prefer reliable checkpointing (executor
    loss can't recompute a local checkpoint).
    """
    lhs, rhs = cols
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    bounded = items.join(
        items.groupBy("l_orderkey")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") <= max_basket)
        .select("l_orderkey"),
        "l_orderkey",
        "left_semi",
    )
    a = bounded.select("l_orderkey", F.col("l_partkey").alias(lhs))
    b = bounded.select("l_orderkey", F.col("l_partkey").alias(rhs))
    cond = (
        F.col(lhs) != F.col(rhs) if directed else F.col(lhs) < F.col(rhs)
    )
    out = a.join(b, "l_orderkey").where(cond).select(lhs, rhs).distinct()
    return out.localCheckpoint(eager=True) if checkpoint else out


def triangle_count_copurchase(
    lineitem: DataFrame, max_basket: int = 64
) -> DataFrame:
    """Global triangle census of the co-purchase graph, by
    degree-ordered orientation — the distributed triangle algorithm
    that bounds wedge enumeration.

    Every undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, which turns each triangle into exactly
    one (source→middle, source→sink, middle→sink) pattern; the count
    is then Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|. The
    out-neighbor sets are arrays joined onto the edge list and the
    intersection is a per-row JVM collection expression — the wedge
    set (Σ d² rows, 14 M already at sf0.01) is NEVER materialized
    through a shuffle. Orientation bounds every out-degree by O(√m),
    so a power-law hub's array stays small — this is the difference
    between hours and minutes on a skewed graph at 100 TB. All joins
    shuffle on node keys; nothing needs a broadcast.

    Closure = 3·triangles / wedges(undirected), rounded to 6 places
    IN INTEGER ARITHMETIC: ppm = (3·t·10⁶ + w DIV 2) DIV w (round-half-up
    on exact integers), then ONE IEEE division ppm/10⁶. Engines disagree
    on the low bit of `round(double, 6)` (BigDecimal path vs
    nearbyint(x·1e6)/1e6), which flips a value-hash even though both
    print 0.089997; an integer ppm divided by 1e6 is correctly-rounded
    IEEE division and therefore bit-identical everywhere.

    Output: 1 row (n_nodes, n_edges, n_wedges, n_triangles, closure).
    """
    edges = _copurchase_edges(lineitem, max_basket, ("u", "v"), directed=False)
    return triangle_count_edges(edges, _undirected=True)


def triangle_count_edges(
    edges: DataFrame, _undirected: bool = False
) -> DataFrame:
    """Triangle census over a PREBUILT edge table — the form the graph
    family should take at real scale, where the edge build (the ~⅔-cost,
    spill-heavy stage at the sf3 probe) is materialized ONCE via
    ``write_copurchase_edges`` and every graph op consumes the bucketed
    scan. ``edges`` is a directed (src, dst) list with both orientations
    present (``read_copurchase_edges``); the undirected half is the
    src < dst filter — a scan-level predicate, not a shuffle.

    No localCheckpoint here: a materialized table is already a cheap
    re-scannable leaf, and checkpointing would DISCARD the catalog's
    bucket metadata that makes the degree aggregation exchange-free
    (asserted in tests/test_graph_edges.py).

    Node-id WIDTH compaction (round 10): when every node id fits in
    32 bits (one bounded max() control read), ids are cast to INT for
    the whole census — the adjacency-array join ships each oriented
    edge with its out-neighbor ARRAY through one hi-grain exchange,
    so the id width multiplies directly into the operator's dominant
    shuffle/spill volume (measured at sf30ish: the array exchange is
    what fills local disk, ~2× the bytes at BIGINT width). Ids wider
    than 32 bits keep the BIGINT path — same plan, same results
    (counts are computed in BIGINT either way).
    """
    if not _undirected:
        edges = edges.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
    # Both BOUNDS in one control read: the max guards overflow above,
    # the min guards it below — with ANSI off, a negative id under
    # -2^31 would silently WRAP through cast('int') and corrupt the
    # census for a generic prebuilt edge table (round-11 advice; the
    # LPA packable path already guards min >= 0).
    bounds = edges.agg(
        F.greatest(F.max("u"), F.max("v")).alias("m"),
        F.least(F.min("u"), F.min("v")).alias("lo"),
    ).collect()[0]
    max_id, min_id = bounds["m"], bounds["lo"]
    if (
        max_id is not None
        and int(max_id) < (1 << 31)
        and int(min_id) >= -(1 << 31)
    ):
        edges = edges.select(
            F.col("u").cast("int").alias("u"),
            F.col("v").cast("int").alias("v"),
        )
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient each edge toward the higher (deg, id) endpoint
    du, dv = F.col("du"), F.col("dv")
    with_deg = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lower_first = (du < dv) | ((du == dv) & (F.col("u") < F.col("v")))
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    oriented = _ckpt_edge_grain(oriented)
    # out-neighbor adjacency arrays (≤ O(√m) entries each, by
    # orientation); intersect per edge row — no wedge materialization.
    # Both adjacency joins are SHUFFLE-HASH hinted (round 10): after
    # join #1 every edge row carries its nu ARRAY, and a sort-merge
    # join #2 would SORT those fat rows — an UnsafeExternalSorter pass
    # that writes a second on-disk copy of the operator's dominant
    # data (measured at sf30ish: the sort spill, not the exchange, is
    # what exhausts local scratch). With SHJ the fat side STREAMS
    # through its exchange unsorted and the build side is the
    # node-grain adjacency (n/width per task, bounded by
    # data-proportional width; Spark 3.2+ SHJ build can spill).
    adj = oriented.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    tri = (
        oriented.join(
            adj.select(F.col("lo"), F.col("nbrs").alias("nu")).hint(
                "shuffle_hash"
            ),
            "lo",
        )
        .join(
            adj.select(
                F.col("lo").alias("hi"), F.col("nbrs").alias("nv")
            ).hint("shuffle_hash"),
            "hi",
            "left",
        )
        .select(
            F.when(F.col("nv").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect(F.col("nu"), F.col("nv"))))
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("n_triangles"))
    )
    stats = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            (F.sum("deg") / F.lit(2)).cast("long").alias("n_edges"),
            F.sum(F.expr("deg * (deg - 1) DIV 2")).alias("n_wedges"),
        )
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CAST((3 * n_triangles * 1000000 + n_wedges DIV 2) "
            "DIV n_wedges AS DOUBLE) / 1000000.0"
        ).alias("closure"),
    )


def pagerank_copurchase(
    lineitem: DataFrame,
    n_iters: int = 3,
    damping_pct: int = 85,
    k: int = 20,
    max_basket: int = 64,
) -> DataFrame:
    """Top-``k`` parts by PageRank over the symmetric co-purchase
    graph (edge u—v when some order contains both, deduped).

    Fixed ``n_iters`` value iterations in integer micro-units:
    r₀ = MASS div N;
    rₜ₊₁ = ((100−d)·MASS) div (100·N) + (d·Σ_in (rₜ(src) div deg(src))) div 100
    with d = ``damping_pct``. Dangling nodes can't occur (every node
    has degree ≥ 1 by construction).

    The loop unrolls into one logical plan — per iteration: edges ⋈
    ranks (shuffle on src), groupBy dst (shuffle on dst). At 100 TB
    pre-partition edges and ranks on the node key so the per-iteration
    join is co-located; localCheckpoint every few iterations to cut
    lineage (the 3-iteration default doesn't need it).

    Output: (part, rank) — rank = micro-units/10¹² rounded to 6;
    ties broken by part id.
    """
    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        persisted_ids,
        release_ids,
    )

    spark = lineitem.sparkSession
    with batch_lock(spark):
        pre = persisted_ids(spark)
        edges = _copurchase_edges(
            lineitem, max_basket, ("src", "dst"), directed=True
        )
        edge_ids = persisted_ids(spark) - pre
        out = pagerank_edges(edges, n_iters, damping_pct, k)
        # the result is eager and self-contained (see pagerank_edges)
        # — the inline edge build's blocks are unreferenced now
        release_ids(spark, edge_ids)
        return out


def pagerank_edges(
    edges: DataFrame,
    n_iters: int = 3,
    damping_pct: int = 85,
    k: int = 20,
    broadcast_nodes_max: int = 6_000_000,
) -> DataFrame:
    """PageRank over a PREBUILT directed (src, dst) edge table (see
    ``triangle_count_edges`` for the materialized-table rationale).

    Working-set design (round 7, same pattern as
    ``label_propagation_edges``): the rank table is NODE-grain and
    loop-invariant in size, and the edge-grain checkpoint erases the
    bucketed scan's partitioning — so without intervention every
    iteration re-shuffles the full edge table to join 100×-smaller
    ranks (the 113 GiB sf10ish spill of SCALEPROBE_r06_sf10). Below
    ``broadcast_nodes_max`` the per-iteration ranks are
    localCheckpoint-ed (node-grain, cheap; also cuts the unrolled
    lineage so the broadcast never re-executes prior iterations) and
    BROADCAST into the join: the edge table is never shuffled, and
    the contribution groupBy(dst) combines map-side before its one
    node-grain exchange. Above the threshold the shuffle join
    remains, where per-executor heap bounds the working set on a
    real cluster.

    The 6 M default is MEASURED for the 8 GiB-heap baseline profile,
    not asserted (round 9, SCALEPROBE_r09_crossover_sf40 A–E): at 6 M
    nodes the broadcast path wins 1.65–1.82× over the forced shuffle
    join and runs clean; at 8 M nodes the per-iteration node-map
    broadcast heap-OOMs the shared local JVM in a fresh session at
    8 GiB AND at 16 GiB — in local mode every one of the 32 task
    threads probes the same heap, so the cap is NOT simply
    heap-proportional there; on a real cluster the broadcast map is
    built once per EXECUTOR and the cap scales with executor heap,
    but treat any raise as something to probe, not extrapolate.
    Above the cap the shuffle-join fallback is the landing zone, and
    since round 10 a HEALTHY one: the r9 OOMs at 957 M edges were a
    hidden per-iteration edge-side sort (multi-file buckets void the
    table's sort guarantee — see write_copurchase_edges); with one
    sorted file per bucket and data-proportional bucket count
    (~1 M rows each) the fallback completes at 957 M edges /
    8 M nodes with ZERO spill at BOTH tried concurrencies — 201.6 s
    at 16 threads × 8 GiB, 138.5 s at 32 threads
    (SCALEPROBE_r10_crossover_sf40 A/E).

    Block lifecycle (round 8): iteration i's rank checkpoint is
    released as soon as iteration i+1's materializes (the old blocks
    are no longer referenced), and on return the ≤k-row result is
    checkpointed and EVERYTHING else the call persisted (edges_deg,
    nodes, the final iteration's ranks) is released — a long-lived
    session can call this in a loop without persisted RDDs
    accumulating. The whole window runs under the context's batch
    lock (blocks.py) so the id diffs can't sweep a concurrent
    caller's blocks; the result is therefore EAGER (the iterations
    already were — every checkpoint runs its job at call time)."""
    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        persisted_ids,
        release_ids,
    )

    spark = edges.sparkSession
    with batch_lock(spark):
        base = persisted_ids(spark)
        if "deg" in edges.columns:
            # degree-annotated bucketed table (write_copurchase_edges
            # since round 8): the loop-invariant (src, dst, deg) frame
            # is the scan itself — no join, no edge-grain checkpoint,
            # no pay-once spill. Iterations re-read the bucketed leaf.
            edges_deg = edges
        else:
            deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
            # loop-invariant: (src, dst, deg) is identical every
            # iteration, so join it once and checkpoint — otherwise
            # each of the n_iters plans re-runs the edges⋈deg shuffle
            # (measured 1.67 GB → 0.9 GB total shuffle at the sf1
            # probe).
            edges_deg = _ckpt_edge_grain(edges.join(deg, "src"))
        nodes = (
            edges.select(F.col("src").alias("part"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # node-grain count: one cheap action on the checkpointed frame;
        # inlined as a literal (deterministic) so no per-iteration
        # crossJoin rides the plan.
        # max(n, 1) guards the n=0 constant-fold (empty graph has no rows
        # to evaluate anyway, but Catalyst folds literal denominators at
        # plan time).
        n = max(nodes.count(), 1)
        can_broadcast = n <= broadcast_nodes_max
        # NOTE (round 9): LPA's fallback gained a pre-agg node-grain
        # exchange (see label_propagation_edges) and it measured 1.42-
        # 1.63x faster there -- but the SAME exchange applied here made
        # pagerank WORSE: a dst's contributions repeat across its many
        # in-edges, so map-side combine genuinely reduces volume
        # (unlike LPA's near-unique (node, label) pairs), and moving
        # the agg behind an edge-grain exchange traded a working
        # partial agg for a heap-OOMing shuffle write at the 717 M-edge
        # forced-fallback probe (232 s complete before, OOM after --
        # reverted; SCALEPROBE_r09_graph_sf30_postfix).

        ranks = nodes.select(
            "part", F.lit(MASS // n).cast("long").alias("r")
        )
        prev_iter: set[int] = set()
        for _ in range(n_iters):
            pre_ckpt = persisted_ids(spark)
            ranks = ranks.localCheckpoint(eager=True)
            new_ids = persisted_ids(spark) - pre_ckpt
            # the new checkpoint materialized — the previous
            # iteration's blocks are unreferenced now
            if prev_iter:
                release_ids(spark, prev_iter)
            prev_iter = new_ids
            rk = F.broadcast(ranks) if can_broadcast else ranks
            contrib = (
                edges_deg
                .join(rk, edges_deg["src"] == rk["part"])
                .select("dst", F.expr("r DIV deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("in_sum"))
            )
            ranks = (
                nodes.join(contrib, nodes["part"] == contrib["dst"], "left")
                .select(
                    "part",
                    # all-integer: `/` would detour through double (ANSI)
                    # and its nearest-rounding can cross an integer before
                    # truncation — DIV never does.
                    F.expr(
                        f"CAST({100 - damping_pct} AS BIGINT) "
                        f"* CAST({MASS} AS BIGINT) DIV (100 * {n}) "
                        f"+ (CAST({damping_pct} AS BIGINT) "
                        f"* coalesce(in_sum, CAST(0 AS BIGINT))) DIV 100"
                    ).alias("r"),
                )
            )
        out = (
            ranks.select(
                "part",
                # integer-ppm rounding then one exact IEEE division —
                # engines disagree on the low bit of round(double, 6),
                # never on BIGINT arithmetic (see triangle closure note
                # above).
                F.expr(
                    f"CAST((r * 1000000 + {MASS // 2}) DIV {MASS} AS DOUBLE)"
                    " / 1000000.0"
                ).alias("rank"),
            )
            .orderBy(F.col("rank").desc(), F.col("part"))
            .limit(k)
        )
        # self-contained ≤k-row result; everything else this call
        # persisted is released before returning
        pre_out = persisted_ids(spark)
        out = out.localCheckpoint(eager=True)
        release_ids(spark, pre_out - base)
        return out


def label_propagation_copurchase(
    lineitem: DataFrame, n_rounds: int = 3, max_basket: int = 64
) -> DataFrame:
    """Community detection on the co-purchase graph by synchronous
    label propagation (Raghavan et al. 2007), run for a FIXED
    ``n_rounds`` with a deterministic tie-break — every node adopts
    the most frequent label among its neighbors, ties to the smallest
    label. Fixing the round count (vs. LPA's usual run-to-oscillation)
    is what makes the result engine-replayable: all operations are
    integer counts and argmax, so an external oracle unrolls the same
    rounds and computes identical labels.

    Scale shape per round: one hash join of the (static,
    localCheckpoint-ed) symmetric edge list against the label table +
    one (node, label) count groupBy + one argmax groupBy — all keyed
    shuffles, no broadcast needed, lineage cut per round exactly like
    ``connected_components``. Basket cap as in the other co-purchase
    ops (a degenerate mega-order contributes quadratic edges and no
    community signal).

    Output: (part, community) — community = the surviving label.
    """
    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        persisted_ids,
        release_ids,
    )

    spark = lineitem.sparkSession
    with batch_lock(spark):
        pre = persisted_ids(spark)
        sym = _copurchase_edges(
            lineitem, max_basket, ("node", "nbr"), directed=True
        )
        edge_ids = persisted_ids(spark) - pre
        out = label_propagation_edges(sym, n_rounds, _renamed=True)
        # every round materialized inside the call and the returned
        # plan reads only the final labels checkpoint — the inline
        # edge build's blocks are unreferenced now
        release_ids(spark, edge_ids)
        return out


def label_propagation_edges(
    edges: DataFrame,
    n_rounds: int = 3,
    _renamed: bool = False,
    broadcast_nodes_max: int = 6_000_000,
) -> DataFrame:
    """Label propagation over a PREBUILT directed (src, dst) edge table
    (see ``triangle_count_edges`` for the materialized-table
    rationale).

    Working-set design (round 7 — LPA was the one graph op that
    needed a 48 g heap at sf10ish while pagerank/triangles completed
    at the default 8 g, SCALEPROBE_r06_sf10):

    - The label table is NODE-grain and loop-invariant in size, so
      when the node count is at most ``broadcast_nodes_max`` it is
      broadcast each round: the 100×-larger edge table is then never
      shuffled — the join probes the bucketed edge scan in place and
      the (node, label) aggregation combines map-side before its one
      keyed exchange. Above the threshold (billions of nodes at
      100 TB) the plan falls back to the shuffle join, where
      per-EXECUTOR heap bounds the working set on a real cluster —
      measured at 957 M edges / 8 M nodes (r10, one-sorted-file-per-
      bucket table + the orientation flip below): **226.3 s at
      32 threads × 8 GiB with 53 GiB mem / 5 GiB disk spill**
      (SCALEPROBE_r10_crossover_sf40_E; r9 had no completing
      32-thread configuration at this scale).
      The 6 M default is the MEASURED boundary for the 8 GiB-heap
      baseline (r9 crossover probe: 6 M broadcast wins 1.65–1.82×
      and runs clean; 8 M heap-OOMs the fresh-session broadcast at
      8 GiB and 16 GiB local heaps alike — in a shared local JVM the
      cap does not scale linearly with heap; probe before raising).
    - The argmax is a FIXED-WIDTH aggregate whenever node ids fit in
      31 bits: (count, smallest-label tie-break) packs into one
      BIGINT ``c·2³¹ + (2³¹−1−label)``, so both groupBys run in
      Spark's spill-robust UnsafeFixedWidthAggregationMap instead of
      the object-hash path a struct-ordered ``max_by`` takes. Ids
      beyond 31 bits (or negative) keep the struct form.

    Per round the lineage is cut with a node-grain localCheckpoint —
    small and re-read hot, so default storage (not the edge-grain
    DISK_ONLY rule) is correct. Round i's checkpoint is released as
    soon as round i+1's materializes (blocks.py lifecycle, same as
    ``pagerank_edges``); the call leaves exactly ONE node-grain
    persisted frame — the final labels the returned plan reads."""
    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        persisted_ids,
        release_ids,
    )

    # Orientation flip (round 10): the table stores BOTH directions of
    # every undirected co-purchase edge, so a node's neighbor-label
    # multiset reads identically from (node=dst, nbr=src) — and with
    # nbr = src, the per-round label join lands ON THE BUCKET KEY of
    # the prebuilt table: no edge-side exchange, no edge-side sort
    # (one-sorted-file-per-bucket scan), only the node-grain labels
    # shuffle each round. The old (node=src, nbr=dst) form re-shuffled
    # the full edge table on dst EVERY round. Callers passing a
    # pre-renamed frame (_renamed) keep their own orientation;
    # direction-asymmetric inputs are out of contract for this
    # operator (the reference's LPA is over an undirected graph).
    sym = (
        edges
        if _renamed
        else edges.select(
            F.col("dst").alias("node"), F.col("src").alias("nbr")
        )
    )
    spark = edges.sparkSession
    with batch_lock(spark):
        # eager checkpoint BEFORE the stats action: the agg below and
        # round 1's join would otherwise each re-derive the distinct
        # over the full edge table (pagerank_edges does the same for
        # its nodes).
        pre_ckpt = persisted_ids(spark)
        labels = (
            sym.select("node")
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        prev_round = persisted_ids(spark) - pre_ckpt
        n_nodes, min_node, max_node = labels.agg(
            F.count("*"), F.min("node"), F.max("node")
        ).first()
        can_broadcast = n_nodes <= broadcast_nodes_max
        agg_width = 0
        if not can_broadcast:
            # same fallback-path partial-agg bound as pagerank_edges
            # (see its comment): exchange the raw neighbor-label rows
            # on node at data-proportional width so the (node, label)
            # count's hash map is edges/width-bounded per task instead
            # of near the full pair cardinality inside the join stage.
            # HashPartitioning(node) satisfies both groupBys, so the
            # count AND the argmax run behind the one exchange.
            m_edges = sym.count()
            agg_width = max(batch_width(spark), int(m_edges // 1_000_000) + 1)
        # packing needs label ∈ [0, 2³¹): labels are always node ids,
        # and counts stay < 2³² (a node would need 4 B in-neighbors to
        # carry).
        packable = (
            n_nodes > 0 and min_node >= 0 and max_node < (1 << 31) - 1
        )
        half = F.lit((1 << 31) - 1)
        for _ in range(n_rounds):
            lab = F.broadcast(labels) if can_broadcast else labels
            nbr_labels = sym.join(
                lab.withColumnRenamed("node", "nbr"), "nbr"
            ).select("node", "label")
            if not can_broadcast:
                nbr_labels = nbr_labels.repartition(agg_width, "node")
            counts = nbr_labels.groupBy("node", "label").agg(
                F.count("*").alias("__c")
            )
            pre_ckpt = persisted_ids(spark)
            if packable:
                packed = counts.select(
                    "node",
                    (F.col("__c") * F.lit(1 << 31) + (half - F.col("label")))
                    .alias("__s"),
                )
                labels = (
                    packed.groupBy("node")
                    .agg(F.max("__s").alias("__s"))
                    .select(
                        "node",
                        (half - F.col("__s") % F.lit(1 << 31)).alias("label"),
                    )
                    .localCheckpoint(eager=True)
                )
            else:
                labels = (
                    counts.groupBy("node")
                    .agg(
                        F.max_by(
                            "label",
                            F.struct(
                                F.col("__c"), (-F.col("label")).alias("__t")
                            ),
                        ).alias("label")
                    )
                    .localCheckpoint(eager=True)
                )
            new_ids = persisted_ids(spark) - pre_ckpt
            # the round's checkpoint materialized — the previous
            # round's blocks are unreferenced now
            release_ids(spark, prev_round)
            prev_round = new_ids
    return labels.select(
        F.col("node").alias("part"), F.col("label").alias("community")
    )


def write_copurchase_edges(
    lineitem: DataFrame,
    table: str = "copurchase_edges",
    n_buckets: int = 32,
    max_basket: int = 64,
    path: str | None = None,
    broadcast_nodes_max: int = 6_000_000,
    # 1 M, not 2 M: at 2 M rows/bucket the build's complete dedup
    # aggregate held ~2 M-entry maps on all 32 local threads at once
    # and failed 1-in-3 runs at sf30ish with UNABLE_TO_ACQUIRE_MEMORY
    # (SCALEPROBE_r10_graph_sf30_F) — correct-but-borderline. 1 M
    # halves every per-task map (build dedup AND consumer partial
    # aggs) for ~2× the task count, which is scheduling noise.
    target_rows_per_bucket: int = 1_000_000,
) -> None:
    """Materialize the directed co-purchase edge list as a parquet
    table BUCKETED BY src — the round-4 probe's top remaining
    scale-killer made into a build-once artifact: the edge build
    dominated every graph op (~⅔ of pagerank's 52.3 s and 16.1 GiB of
    spill at sf3, SCALE.md) because each op re-derived it from
    lineitem. Written bucketed, the per-query cost drops to a bucketed
    scan, and every groupBy/join on the src key runs with NO exchange
    (`tests/test_graph_edges.py` pins that plan). Sorted within buckets
    by (src, dst) so sort-merge self-joins skip the sort too.

    Round 10 — the bucket count is DATA-PROPORTIONAL and every bucket
    is exactly ONE sorted file:

    - ``n_buckets`` is now a floor; the effective count is
      ``max(n_buckets, est_edges / target_rows_per_bucket)`` where
      ``est_edges`` = Σ n·(n−1) over capped baskets (an exact
      pre-dedup upper bound computed from the basket-size aggregate,
      one cheap node-grain pass). A CONSTANT bucket count was the r9
      scale wall: 64 buckets at 957 M edges put ~15 M rows in every
      consumer task, and PageRank's per-iteration join stage
      (sort + partial agg sharing one task's memory) exhausted
      execution memory in every local config
      (SCALEPROBE_r09_crossover_sf40). At ~2 M rows/bucket the same
      stage holds a bounded agg map and nothing else.
    - The edge frame is placed with ``repartition(n_buckets, src)``
      (the SAME murmur-pmod function bucketBy uses), so each write
      task holds exactly one bucket and writes exactly ONE file —
      which is the condition under which Spark trusts the
      within-bucket (src, dst) sort
      (``spark.sql.legacy.bucketedTableScan.outputOrdering``,
      session.py). Consumers' sort-merge joins on src then need NO
      edge-side sort and NO edge-side exchange: the per-iteration
      UnsafeExternalSorter that OOM'd the 957 M-edge PageRank
      fallback is gone from the plan, not just smaller.
    - That placement exchange doubles as the DEDUP exchange: the raw
      self-join output repartitions on src once, and
      ``dropDuplicates([src, dst])`` runs clustered behind it
      (hash(src) satisfies the (src, dst) clustering requirement) as
      a single complete aggregate — the old build's separate
      edge-grain distinct exchange is gone, one edge-grain shuffle
      total instead of two.

    At 100 TB the same rule holds: buckets sized to executor memory
    (``target_rows_per_bucket``), re-bucketed only when the graph is
    regenerated — the whole point is paying the edge shuffle once per
    ingest instead of once per query.

    Round 8: the table carries the source's OUT-DEGREE as a third
    column. PageRank's loop-invariant (src, dst, deg) frame was the
    one remaining pay-once cost at sf10ish (the edges⋈deg
    materialization, 21.5 GiB of spill): folding the degree into the
    build makes every pagerank run read it straight off the bucketed
    scan — no join, no edge-grain checkpoint, no spill.

    The deg side is NODE-grain, so below ``broadcast_nodes_max`` it
    BROADCASTS into the edge table (same node-cap rule as the
    pagerank/LPA working-set design — 6 M default, see those
    docstrings for the measured 6 M-good / 8 M-OOM boundary): a
    sort-merge deg join would
    stack a second full-width sort pipeline onto the build; the
    broadcast form adds only a map-side hash probe to the write path.
    Above the threshold (billions of nodes) the shuffle join engages,
    where per-executor memory bounds the sort on a real cluster.

    The build runs at DATA-PROPORTIONAL shuffle parallelism
    (``build_partitions``, default 8×n_buckets): the session default
    (32 here) leaves the self-join's stacked distinct→sort→SMJ
    pipeline holding ~22 M rows per task at the 30× probe's 717 M
    edges, which exhausts execution memory under 32-way concurrency
    (UNABLE_TO_ACQUIRE_MEMORY — AQE coalescing can merge small
    partitions but never split oversized ones at this initial width).
    At 256 the same pipeline holds ~3 M rows/task and spills
    normally. On a real cluster this is the usual rule: size a
    build's shuffle width to the data, not to the interactive
    session's default.
    """
    from pyspark import StorageLevel

    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        ckpt_disk,
        persisted_ids,
        release_ids,
    )
    from myasynstreamjoin_spark.sources.sinks import write_bucketed

    spark = lineitem.sparkSession
    build_partitions = max(batch_width(spark), 8 * n_buckets)
    with override_widths(spark, batch=build_partitions):
        with batch_lock(spark):
            pre = persisted_ids(spark)
            try:
                items = lineitem.select("l_orderkey", "l_partkey").distinct()
                # order-grain basket sizes, checkpointed ONCE: reused by
                # (a) the exact pre-dedup edge-count estimate that sizes
                # the buckets and (b) the mega-basket semi-join filter.
                # The extra pass over lineitem this costs is a one-time
                # build price; the r9 alternative (a constant bucket
                # count) was the scale wall.
                sizes = ckpt_disk(
                    items.groupBy("l_orderkey")
                    .agg(F.count("*").alias("__n"))
                    .where(F.col("__n") <= max_basket)
                )
                est_row = sizes.agg(
                    F.sum(F.expr("__n * (__n - 1)")).alias("e")
                ).collect()[0]
                est_edges = int(est_row["e"] or 0)
                n_buckets_eff = max(
                    n_buckets,
                    -(-est_edges // max(target_rows_per_bucket, 1)),
                )
                ok_orders = sizes.select("l_orderkey")
                bounded = items.join(ok_orders, "l_orderkey", "left_semi")
                a = bounded.select(
                    "l_orderkey", F.col("l_partkey").alias("src")
                )
                b = bounded.select(
                    "l_orderkey", F.col("l_partkey").alias("dst")
                )
                # edge-grain DISK_ONLY checkpoint BEFORE the bucket
                # repartition (round 10): without it, one pipeline
                # stacks the self-join's two per-task sorts UNDER the
                # ~700-way repartition's shuffle writer, and under
                # 32-way local concurrency that trio nondeterministically
                # starves the writer of pages (~1-in-3 sf30 builds died
                # with UNABLE_TO_ACQUIRE_MEMORY,
                # SCALEPROBE_r10_graph_sf30_F/G; shuffle_hash hints are
                # NOT the fix — LongHashedRelation builds cannot spill,
                # probe H). The checkpoint costs one sequential
                # edge-grain disk write and gives each stage exactly one
                # memory-consumer class: sorts in the join stage,
                # writer in the repartition stage.
                raw = ckpt_disk(
                    a.join(b, "l_orderkey")
                    .where(F.col("src") != F.col("dst"))
                    .select("src", "dst")
                )
                # ONE edge-grain exchange: bucket placement and dedup
                # share it. persist (NOT localCheckpoint — a checkpoint
                # erases outputPartitioning, measured round 10) so deg,
                # the size probe, and the write all reuse the
                # materialized frame AND its hash(src, n_buckets_eff)
                # layout, which is what makes every bucket exactly one
                # file downstream.
                edges = (
                    raw.repartition(n_buckets_eff, "src")
                    .dropDuplicates(["src", "dst"])
                    .persist(StorageLevel.DISK_ONLY)
                )
                edges.count()
                deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
                # bounded control read (node count ≪ edge count)
                if deg.count() <= broadcast_nodes_max:
                    deg = F.broadcast(deg)
                write_bucketed(
                    edges.join(deg, "src"), table, ["src"],
                    n_buckets=n_buckets_eff, sort_cols=["src", "dst"],
                    path=path,
                )
                # The one-file-per-bucket layout here comes from the
                # repartition above PROPAGATING through dropDuplicates
                # -> persist -> deg join into the write — implicit, so
                # verify it on the written files and fail loudly if a
                # planner/AQE change regresses it (round-11 advice;
                # multi-file buckets void the trusted sort and
                # reintroduce the r9 per-iteration sort/OOM).
                from myasynstreamjoin_spark.sources.sinks import (
                    assert_single_file_per_bucket,
                )

                assert_single_file_per_bucket(spark, table)
            finally:
                release_ids(spark, persisted_ids(spark) - pre)


def read_copurchase_edges(
    spark: SparkSession, table: str = "copurchase_edges"
) -> DataFrame:
    """Catalog read of a ``write_copurchase_edges`` table. Must go
    through ``spark.table`` (a bare parquet path read loses the bucket
    metadata and with it the exchange-free plans)."""
    return spark.table(table)


def distributed_order_ranks(
    frame: DataFrame, key: str = "node"
) -> tuple[DataFrame, int]:
    """Dense 0-based rank of every ``key`` row in global (md5(key),
    key) order WITHOUT a single-task window: range-partition on the
    sort key, row_number locally per partition, then lift local ranks
    to global ones with per-partition offsets (one (pid, count) row
    per partition — a bounded driver-side control read, cumulated in
    pid order, which on a range partitioning IS key-range order). The
    global order is total and unique, so the lifted ranks are
    bit-identical to ``row_number() OVER (ORDER BY md5(key), key)``
    wherever the range boundaries land — pinned against the naive
    global window by ``tests/test_graph_edges.py``.

    Returns (ranked frame with columns (key, r), row count). The
    ranked frame reads from a node-grain localCheckpoint the CALLER
    is responsible for releasing (link_negative_pairs sweeps it via
    the blocks.py id-diff before returning).
    """
    from pyspark.sql import Window

    spark = frame.sparkSession
    sort_key = F.md5(F.col(key).cast("string"))
    n_parts = batch_width(spark)
    local = (
        frame.repartitionByRange(n_parts, sort_key, key)
        .withColumn("pid", F.spark_partition_id())
        .select(
            key,
            "pid",
            (
                F.row_number().over(
                    Window.partitionBy("pid").orderBy(sort_key, key)
                )
                - 1
            ).alias("lr"),
        )
        .localCheckpoint(eager=True)
    )
    sizes = {
        row["pid"]: row["cnt"]
        for row in local.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    n_rows, offsets = 0, []
    for pid in sorted(sizes):
        offsets.append((pid, n_rows))
        n_rows += sizes[pid]
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
    )
    ranked = local.join(off_df, "pid").select(
        key, (F.col("lr") + F.col("off")).alias("r")
    )
    return ranked, n_rows


def link_negative_pairs(edges: DataFrame) -> DataFrame:
    """Deterministic NEGATIVE sampling for link prediction: pair every
    node with the node half a rotation away in md5 order (rank r ↔
    rank (r + ⌊n/2⌋) mod n — a fixed derangement-style pairing, so
    each node appears in exactly two candidate pairs), then drop the
    candidates that are real edges. The standard train-time negative
    set for a link predictor, with the usual rand() problems solved:
    the same corpus always yields the same negatives, on any engine.

    Scale shape: the node table is |V| rows (graph node sets are
    small next to edge sets), but the rotation rank is still computed
    DISTRIBUTED — a bare ``row_number() OVER (ORDER BY ...)`` funnels
    every node through one task, the one shape in the graph family
    that would not survive a billion-node set. Instead the nodes are
    range-partitioned on the same (md5, node) sort key, ranked
    locally per partition, and local ranks are lifted to global ones
    by adding per-partition offsets (a P-row driver-side control
    read — the cumulative counts). The global order is total and
    unique, so the lifted ranks are bit-identical to the single-task
    window's regardless of where the range boundaries land; the
    external oracle replays the same ``row_number() OVER (ORDER BY
    md5, node)`` and agrees. The candidate→edge check is ONE
    anti-join against the bucketed edge table. Output: (u, v)
    candidate rows that are NOT edges, u < v normalized.

    Block lifecycle: same rule as the other graph ops — the node-
    grain rank checkpoint is swept before returning; the result plan
    re-derives from the (lazy) candidate/anti-join, checkpointed
    eagerly so the sweep cannot strand it.
    """
    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        persisted_ids,
        release_ids,
    )

    spark = edges.sparkSession
    with batch_lock(spark):
        base = persisted_ids(spark)
        nodes = edges.select(F.col("src").alias("node")).distinct()
        ranked, n_nodes = distributed_order_ranks(nodes, "node")
        shift = max(1, n_nodes // 2)
        partner = ranked.select(
            F.col("node").alias("pnode"),
            F.pmod(F.col("r") - F.lit(shift), F.lit(n_nodes)).alias("pr"),
        )
        cand = (
            ranked.join(partner, ranked["r"] == partner["pr"])
            .where(F.col("node") != F.col("pnode"))
            .select(
                F.least("node", "pnode").alias("u"),
                F.greatest("node", "pnode").alias("v"),
            )
            .distinct()
        )
        true_edges = edges.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        out = cand.join(true_edges, ["u", "v"], "left_anti")
        pre_out = persisted_ids(spark)
        out = out.localCheckpoint(eager=True)
        release_ids(spark, pre_out - base)
        return out
