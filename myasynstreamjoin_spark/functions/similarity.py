"""Similarity search over embedding columns (ARRAY<FLOAT>).

Beyond-reference surface (SURVEY.md §7 phase 5):
- brute-force cosine top-k — the exact baseline; one pass over the
  table, dot products in whole-stage codegen (zip_with + aggregate on
  doubles, no Python).
- LSH-bucketed ANN (random hyperplanes) — the scale path: signatures
  partition the table so a query probes one bucket (plus optional
  multi-probe neighbors) instead of scanning 100 TB.
- embedding-cosine near-duplicate pairs via the same buckets.

Float handling: elements are cast to DOUBLE before any arithmetic so
results are reproducible against the DuckDB oracle (single-precision
accumulation would drift).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from myasynstreamjoin_spark.session import batch_width, override_widths
from myasynstreamjoin_spark.sources.tables import rebalance


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (oracle-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields a NULL cosine (excluded
    # from max/threshold counts) instead of an ANSI DIVIDE_BY_ZERO
    # abort — the semantics DuckDB's `/` gives the oracles for free.
    return F.try_divide(dot(a, b), l2norm(a) * l2norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine() with the two norms already materialized as columns.

    Bit-identical to `cosine` (same double ops in the same order: the
    norm folds just run once per VECTOR instead of once per PAIR), so
    oracles written against `cosine` still match. In a pair join this
    removes 2 of the 3 higher-order-function folds per emitted pair —
    the folds are interpreted per-element, so at 10⁶⁺ pairs they are
    the dominant cost (measured: the sf1-probe semantic-dedup pass
    spends ~⅔ of its pair-stage time in the two norm folds)."""
    return F.try_divide(dot(a, b), na * nb)


def cosine_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to the row ``query_id``.

    The query vector is a one-row broadcast joined against the table —
    no collect, so the same plan works when `embeddings` is 100 TB
    (a full scan, which is what exact search costs by definition).
    Ties broken by id for determinism.

    Output: (vec_id, cos) — cos rounded for hash stability.
    """
    q = embeddings.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q"), l2norm(vec_col).alias("__qn")
    )
    # query norm folded once in the 1-row broadcast, not per corpus row
    cos = cosine_with_norms(
        F.col(vec_col), F.col("__q"), l2norm(vec_col), F.col("__qn")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(id_col, F.round(cos, 4).alias("cos"))
    )
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def cosine_topk_filtered(
    embeddings: DataFrame,
    docs: DataFrame,
    predicate: Column,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """FILTERED vector search: exact top-k by cosine to ``query_id``
    among only the vectors whose document passes ``predicate`` — the
    predicate-plus-vector query every retrieval stack serves (find
    similar docs *that are English / high-quality / from source X*).

    Pre-filter, not post-filter: the predicate is evaluated on the
    docs table and semi-joined into the scan BEFORE any dot product,
    so a 1 % selectivity cuts the scored volume 100× (a post-filtered
    top-k would need k / selectivity candidates to be safe — the
    classic filtered-ANN trap). The surviving id set rides a hash
    semi-join keyed on the id (broadcast when small — AQE decides);
    the query vector is the same 1-row broadcast as `cosine_topk`.

    Output: (vec_id, cos) — exact under the filter by construction.
    """
    keep = docs.where(predicate).select(
        F.col(doc_id_col).cast("long").alias(id_col)
    )
    # the query vector comes from the FULL table — a query is a valid
    # probe even when its own document fails the filter
    q = embeddings.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q"), l2norm(vec_col).alias("__qn")
    )
    corpus = embeddings.join(keep, id_col, "semi").where(
        F.col(id_col) != query_id
    )
    cos = cosine_with_norms(
        F.col(vec_col), F.col("__q"), l2norm(vec_col), F.col("__qn")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        id_col, F.round(cos, 4).alias("cos")
    )
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def _random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _bucket_expr(
    vec_col: str, dim: int, n_planes: int, seed: int
) -> Column:
    """Sign-LSH bucket id expression: bit i = [vec · plane_i > 0].

    Built as ONE parsed SQL string (round 11): the Column-by-Column
    form issued ~dim × n_planes py4j round-trips for the plane
    literals alone (~0.4 s of driver time per construction at
    64×10) — the parsed tree is expression-identical (same zip_with/
    aggregate fold as `dot`, same literal doubles via shortest
    round-trip repr + the D suffix, so Double.parseDouble restores
    the exact IEEE754 bits), and bucket ids are verified value-equal.
    """
    planes = _random_hyperplanes(dim, n_planes, seed)

    def d(x: float) -> str:
        return repr(float(x)) + "D"

    terms = []
    for i, p in enumerate(planes):
        lits = ",".join(d(x) for x in p)
        dot_s = (
            f"aggregate(zip_with({vec_col}, array({lits}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"CAST(CASE WHEN {dot_s} > 0 THEN {1 << i} ELSE 0 END AS BIGINT)"
        )
    return F.expr(" + ".join(["CAST(0 AS BIGINT)", *terms]))


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a sign-LSH bucket id: bit i = [vec · plane_i > 0].

    2^n_planes buckets; cosine-close vectors collide with high
    probability (hyperplane LSH). The planes are literal arrays baked
    into the plan — tiny, deterministic, no side channel.
    """
    return embeddings.withColumn(
        "lsh_bucket", _bucket_expr(vec_col, dim, n_planes, seed)
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket, exact
    rerank inside it. Recall < 1 by construction; n_planes trades
    bucket selectivity against recall. At 100 TB the bucket column is
    a partition/bucketing key so the probe prunes the scan.

    Output: (vec_id, cos).
    """
    bucketed = with_lsh_bucket(embeddings, dim, n_planes, seed, vec_col)
    q = bucketed.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q"), F.col("lsh_bucket").alias("__qb")
    )
    scored = (
        bucketed.join(F.broadcast(q), F.col("lsh_bucket") == F.col("__qb"))
        .where(F.col(id_col) != query_id)
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__q")), 4).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def cosine_topk_lsh_multiprobe(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 6,
    probes: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe LSH top-k: probe the query's own sign-LSH bucket
    PLUS the ``probes`` buckets reached by flipping the planes with the
    smallest |query·plane| margin — the planes the query sits closest
    to, where true neighbors most likely landed on the other side.
    Multi-probe buys back most of single-probe LSH's lost recall
    without adding hash tables (state stays one bucket id per row).

    Fully declarative: margins, the flip ranking, and the probe-bucket
    array are column expressions on the broadcast 1-row query frame —
    no driver collect. Margins use the same sequential-fold dot as the
    bucket bits, rounded to 6 before ranking (ties by plane index), so
    the probe set replays bit-identically in the DuckDB oracle. At
    100 TB, collect the ≤ probes+1 bucket ids instead and push them as
    an IN-list so a bucket-partitioned scan prunes.

    Output: (vec_id, cos) — exact rerank within the probed buckets.
    """
    planes = _random_hyperplanes(dim, n_planes, seed)
    bucketed = with_lsh_bucket(embeddings, dim, n_planes, seed, vec_col)
    margins = F.array(
        *[
            F.struct(
                F.round(
                    F.abs(dot(F.col("__q"), F.array(*[F.lit(float(x)) for x in p]))),
                    6,
                ).alias("am"),
                F.lit(i).alias("i"),
                F.lit(1 << i).cast("long").alias("bit"),
            )
            for i, p in enumerate(planes)
        ]
    )
    flips = F.slice(F.array_sort(margins), 1, probes)
    probe_arr = F.concat(
        F.array(F.col("__qb")),
        F.transform(flips, lambda s: F.col("__qb").bitwiseXOR(s["bit"])),
    )
    q = (
        bucketed.where(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("__q"), F.col("lsh_bucket").alias("__qb"))
        .select("__q", probe_arr.alias("__probes"))
    )
    scored = (
        bucketed.join(
            F.broadcast(q), F.array_contains(F.col("__probes"), F.col("lsh_bucket"))
        )
        .where(F.col(id_col) != query_id)
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__q")), 4).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def ivf_assign(
    embeddings: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """IVF (inverted-file) index: partition vectors into n_lists cells
    by nearest centroid.

    Centroids are the n_lists lowest-id vectors — a deterministic
    seeding (k-means|| would refine them; one Lloyd iteration is a
    cheap follow-up, but cell *assignment*, not centroid quality, is
    what the scale path needs). Assignment is a broadcast cross-join +
    argmax-by-cosine, all column expressions.

    Returns ``(assigned, centroids)`` where assigned = embeddings +
    ``ivf_cell`` and centroids = (cell, centroid vector). At 100 TB the
    cell becomes a partition/bucket key so a probe prunes the scan to
    nprobe/n_lists of the data.
    """
    w_id = F.col(id_col)
    centroids = (
        embeddings.orderBy(w_id).limit(n_lists)
        .select(w_id.alias("cell_seed"), F.col(vec_col).alias("cvec"))
        .withColumn("cell", F.row_number().over(Window.orderBy("cell_seed")) - 1)
        .select("cell", "cvec")
    )
    # round-6 before the argmax (the semantic_dedup rule): a 1-ulp
    # cross-engine drift must not flip a cell assignment, which is what
    # lets an external oracle replay the index exactly
    assigned = assign_to_centroids(embeddings, centroids, vec_col, id_col)
    return assigned, centroids


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment (broadcast cross-join + argmax by
    rounded cosine, ties to the lower cell) — the one definition shared
    by the inline ``ivf_assign`` and the frozen-centroid append path of
    the persisted index, so an appended vector lands in exactly the
    cell a full rebuild would give it."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        id_col, vec_col,
        F.struct(F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("cos"),
                 (-F.col("cell")).alias("neg_cell")).alias("__sc"),
        "cell",
    )
    best = scored.groupBy(id_col).agg(F.max("__sc").alias("best"))
    return (
        embeddings.join(best, id_col)
        .select(id_col, vec_col, (-F.col("best.neg_cell")).cast("int").alias("ivf_cell"))
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via IVF: rank centroids by similarity to the
    query, keep the nprobe best cells, exact-rerank only vectors in
    those cells. Recall grows with nprobe (nprobe = n_lists ⇒ exact).

    Output: (vec_id, cos).
    """
    assigned, centroids = ivf_assign(embeddings, n_lists, vec_col, id_col)
    q = embeddings.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("__q"))
    probe_cells = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "cell",
            # round-6: cell ranking replayable, same rule as assignment
            F.round(cosine(F.col("cvec"), F.col("__q")), 6).alias("ccos"),
        )
        .orderBy(F.desc("ccos"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    return (
        assigned.join(F.broadcast(probe_cells), assigned["ivf_cell"] == F.col("cell"))
        .crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(id_col, F.round(cosine(F.col(vec_col), F.col("__q")), 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def exact_embedding_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact embedding-cosine pair search: every pair with
    round(cos, 4) ≥ threshold. O(n²) by definition — this is the
    correctness baseline the LSH variant (`embedding_neardup_pairs`)
    approximates; at scale use that one, this one oracles it.

    Output: (id_a, id_b, cos) with id_a < id_b.
    """
    # Rebalance the probe side: the build side broadcasts, so the n²/2
    # cosine evaluations run at the probe's scan parallelism — one task,
    # for a small-on-disk embeddings file — unless spread first.
    a = rebalance(embeddings).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2norm(vec_col).alias("na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2norm(vec_col).alias("nb"),
    )
    cos = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def _round_half_up_np(a, decimals):
    """numpy HALF_UP rounding matching SQL ``F.round``: ``np.round`` is
    half-to-EVEN, which flips comparisons/argmaxes for values landing
    exactly on a .5·10⁻ᵈ boundary — the cross-engine tie-fragility
    rule every Arrow kernel in this module follows."""
    m = 10.0 ** decimals
    return np.sign(a) * np.floor(np.abs(a) * m + 0.5) / m


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "arrow",
    bench_matrix: "np.ndarray | None" = None,
) -> DataFrame:
    """SEMANTIC train/eval decontamination: score every corpus vector
    by its maximum cosine against the held-out benchmark embeddings —
    the embedding-space complement of the exact n-gram
    `decontaminate`/Bloom path (paraphrased eval leakage that shares
    no 8-gram still lands next to its source in embedding space).

    Scale shape: the benchmark side is holdout-suite-sized, so it
    BROADCASTS; the corpus×bench cosines fold through a map-side
    partial max/count, and only |corpus| one-row-per-doc results reach
    the exchange — at 100 TB this is a map-only scan of the corpus
    embeddings plus an |corpus|-row agg, no candidate generation
    needed. Exact by construction (no recall loss to explain to an
    auditor, unlike an LSH prefilter here).

    Output: (vec_id, max_cos, n_hits) per corpus vector, where n_hits
    counts benchmark vectors at round(cos,4) ≥ threshold; max_cos is
    rounded like every cosine this module emits.

    ``kernel="arrow"`` — the DEFAULT since round 9, and the 100 TB
    path — replaces the SQL crossJoin-fold with one map-only
    `mapInPandas` matmul pass: the
    benchmark matrix ships in the UDF closure (holdout-suite-sized, an
    ordinary broadcast) and each Arrow batch computes its block of
    X·Bᵀ with numpy, so NOTHING reaches an exchange at all. The work
    is O(|corpus|·|bench|) either way — both sides grow with the
    corpus, so the constant factor IS the scale story: at the 30×
    probe the SQL fold took 47 min against the Arrow kernel's
    seconds-scale pass (same 41× class as semantic_dedup's kernels).
    Same HALF_UP 4-decimal rounding, so flags agree except where two
    float64 summation orders straddle a 10⁻⁴ boundary (pytest pins
    equality on the fixtures). Pin ``kernel="sql"`` ONLY where a SQL
    oracle must replay the computation bit-for-bit (the registered
    q_semantic_decontaminate does).
    """
    if kernel == "arrow":
        return _semantic_decontaminate_arrow(
            corpus, benchmark, threshold, vec_col, id_col,
            bench_matrix=bench_matrix,
        )
    if kernel != "sql":
        raise ValueError(
            f"unknown kernel {kernel!r} (expected 'sql' or 'arrow')"
        )
    a = rebalance(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("va"),
        l2norm(vec_col).alias("na"),
    )
    b = benchmark.select(
        F.col(vec_col).alias("vb"), l2norm(vec_col).alias("nb")
    )
    cos = F.round(
        cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4
    )
    return (
        a.crossJoin(F.broadcast(b))
        .select("vec_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.max("cos").alias("max_cos"),
            # CASE-shaped (0 for null cosines) so an all-zero-norm
            # group counts 0 hits, matching the oracle's CASE WHEN
            # and the Arrow kernel — sum(cast(bool)) would be null.
            F.sum(F.when(F.col("cos") >= threshold, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )


def collect_benchmark_matrix(
    benchmark: DataFrame, vec_col: str = "embedding"
) -> "np.ndarray":
    """Pull the holdout-suite-sized benchmark embeddings to the driver
    ONCE as a float64 matrix, for callers that score many corpora (or
    micro-batches) against the same benchmark — the streaming twin
    collects here once instead of once per micro-batch (round-9
    advice). Bounded control read: the benchmark is constant-size by
    the operator's contract (see `semantic_decontaminate`)."""
    return np.array(
        [r[0] for r in benchmark.select(vec_col).collect()],
        dtype=np.float64,
    )


def _semantic_decontaminate_arrow(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    bench_matrix: "np.ndarray | None" = None,
) -> DataFrame:
    """Arrow-kernel body of `semantic_decontaminate`: one map-only
    matmul pass, no exchange. The corpus block is chunked so a single
    Arrow batch (up to 10 k rows) never materializes a rows×|bench|
    score matrix larger than ~32 M doubles (~256 MiB) per task.

    Divergence-parity with the SQL kernel (round 9): an EMPTY
    benchmark yields an empty result (the SQL crossJoin-fold produces
    no groups), zero-norm cosines are null and excluded from the max
    (Spark's Divide returns null on a 0 divisor, and max() skips
    nulls — numpy's NaN would instead poison the max), and the id
    column keeps the INPUT's type instead of a hard-coded int64 cast
    (the SQL kernel only aliases it)."""
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"vec_id {id_type}, max_cos double, n_hits long"
    B = (
        bench_matrix
        if bench_matrix is not None
        else collect_benchmark_matrix(benchmark, vec_col)
    )
    if B.size == 0:
        return corpus.sparkSession.createDataFrame([], out_schema)
    Bn = np.linalg.norm(B, axis=1)
    chunk = max(1, (32 << 20) // max(1, len(B)))

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col]
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Xn = np.linalg.norm(X, axis=1)
            max_cos = np.full(len(ids), np.nan, dtype=np.float64)
            n_hits = np.zeros(len(ids), dtype=np.int64)
            for s in range(0, len(ids), chunk):
                e = min(s + chunk, len(ids))
                denom = np.outer(Xn[s:e], Bn)
                with np.errstate(divide="ignore", invalid="ignore"):
                    C = _round_half_up_np((X[s:e] @ B.T) / denom, 4)
                C[denom == 0] = np.nan  # null cosine, like SQL's x/0
                valid = ~np.all(np.isnan(C), axis=1)
                if valid.any():
                    max_cos[s:e][valid] = np.nanmax(C[valid], axis=1)
                with np.errstate(invalid="ignore"):
                    n_hits[s:e] = np.nansum(C >= threshold, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids.reset_index(drop=True),
                    # nullable Float64 so all-null rows (zero-norm
                    # corpus vectors) reach Spark as null, not NaN
                    "max_cos": pd.array(max_cos, dtype="Float64"),
                    "n_hits": n_hits,
                }
            )

    return rebalance(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema=out_schema
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: pairs are
    only compared within a bucket (plus nothing else — multi-probe
    would raise recall at 2× cost), so the join is bucket-local instead
    of a full cross product.

    ``n_planes=None`` (the DEFAULT — a static count is only for
    replayable oracles and tests) auto-scales the plane count so expected bucket
    size ≈ ``target_bucket`` (one bounded count as the control-plane
    read): a STATIC plane count is a scale-killer — bucket population
    grows linearly with the corpus and the bucket-local self-join goes
    quadratic in it (measured on the sf3 probe: 4 static planes = 16
    buckets at 60 k vectors → ~112 M pair folds, 165 s; auto → ~20× 
    less pair work). More planes trade recall for boundedness — the
    published fix is multi-table OR-ing (`lsh_topk_multi`); for a
    dedup sweep the single-table recall loss is acceptable and the
    audit is `ann_recall`.

    Output: (id_a, id_b, cos) with id_a < id_b, cos ≥ threshold.
    """
    if n_planes is None:
        n = embeddings.count()
        # integer-exact ceil(log2(max(2, n/target))): smallest k ≥ 1
        # with target·2^k ≥ n. bit_length instead of float log2 so a
        # SQL oracle can replay the choice without cross-libm
        # rounding concerns (round 8 — the auto path is now the
        # REGISTERED contract, q_embed_neardup_lsh).
        m = max(2, -(-n // target_bucket))
        n_planes = max(4, (m - 1).bit_length())
    # Persisted: both sides of the self-join read it, and the bucket
    # projection (n_planes dot products per row) is the expensive part.
    # Rebalanced first: embedding tables are bytes-dense but row-cheap,
    # so scan partitioning (maxPartitionBytes) under-parallelizes the
    # per-row dot products AND — because the small build side broadcasts —
    # the per-pair cosines downstream, which inherit the probe side's
    # partitioning (measured 3.3× at sf0.1: 5.3s → 1.6s).
    bucketed = (
        with_lsh_bucket(rebalance(embeddings), dim, n_planes, seed, vec_col)
        .withColumn("__n", l2norm(vec_col))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__n").alias("na"),
        "lsh_bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__n").alias("nb"),
        "lsh_bucket",
    )
    cos = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, "lsh_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def cosine_topk_multi(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one pass — the shape
    a real retrieval pipeline uses (queries arrive in batches, and one
    corpus scan amortizes over all of them).

    The query set broadcasts (it is small by definition); the corpus
    scans once; ranking is a per-query window. At 100 TB this is
    #queries dot products per corpus row — still a single scan, versus
    #queries separate scans for repeated single-query calls.

    Output: (query_id, vec_id, cos, rank), rank 1..k per query.
    """
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        l2norm(vec_col).alias("__qn"),
    )
    # per-query norms folded once in the broadcast; per-row norm folded
    # once per (row × query) — hoisting it per-row as well would need a
    # pre-projection, not worth it at |queries| ≥ 2 since the saving is
    # the same single fold either way
    cos = cosine_with_norms(
        F.col(vec_col), F.col("__q"), l2norm(vec_col), F.col("__qn")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, F.round(cos, 4).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos", "rank")
    )


# Measured LSH operating points (round-10 16-query recall@10 sweep at
# sf0.1, recorded in SCALE.md): "default" = (3 planes, 8 tables) =
# 0.89 recall at the baseline explode volume; "high-recall" =
# (3, 16) = 0.98 recall at 2x the explode volume. Promoted from
# SCALE.md prose to a first-class dial (round-11 verdict #5) so
# callers pick a measured point instead of guessing plane/table
# counts; bench.py records both profiles' recall AND wall every round.
ANN_PROFILES: dict[str, dict[str, int]] = {
    "default": {"n_planes": 3, "n_tables": 8},
    "high-recall": {"n_planes": 3, "n_tables": 16},
}


def lsh_topk_multi(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    profile: str = "default",
) -> DataFrame:
    """Batched multi-table LSH top-k: ``n_tables`` independent
    hyperplane tables; a corpus vector is a candidate for a query if
    they share a bucket in ANY table; candidates are exact-reranked.

    Single-table sign-LSH recall collapses for moderate-similarity
    neighbors (collision prob ≈ (1−θ/π)^n_planes per table — measured
    0.075 recall@10 with one 6-plane table on the fixture); OR-ing L
    tables lifts it to 1−(1−p)^L while each probe still scans only its
    bucket. The default is 8×3-plane tables, MEASURED (round 10,
    16-query recall@10 sweep at sf0.1): (4,8) = 0.70, (4,16) = 0.89,
    (3,8) = 0.89, (3,16) = 0.98 — dropping a plane doubles each
    bucket's candidate pool for the same explode volume and buys the
    same recall as doubling the table count. The (table, bucket)
    explode + equi-join is the same shuffle shape as MinHash banding:
    #rows × n_tables small rows, never a cross product.

    ``profile`` names a measured operating point from ``ANN_PROFILES``
    ("default" 0.89 recall / "high-recall" 0.98 at 2x explode);
    explicit ``n_planes``/``n_tables`` override the profile.

    Output: (query_id, vec_id, cos, rank).
    """
    prof = ANN_PROFILES[profile]
    n_planes = prof["n_planes"] if n_planes is None else n_planes
    n_tables = prof["n_tables"] if n_tables is None else n_tables
    tables_cols = [
        F.struct(
            F.lit(t).alias("tbl"),
            _bucket_expr(vec_col, dim, n_planes, seed + 1000 * t).alias("bkt"),
        )
        for t in range(n_tables)
    ]
    with_buckets = embeddings.select(
        id_col, vec_col, F.explode(F.array(*tables_cols)).alias("tb")
    ).select(id_col, vec_col, "tb.tbl", "tb.bkt")
    q = with_buckets.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q"), "tbl", "bkt"
    )
    cand = (
        with_buckets.join(F.broadcast(q), ["tbl", "bkt"])
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, vec_col, "__q")
        .dropDuplicates(["query_id", id_col])
    )
    scored = cand.select(
        "query_id",
        id_col,
        F.round(cosine(F.col(vec_col), F.col("__q")), 4).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos", "rank")
    )


def ivf_topk_multi(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched IVF top-k: rank centroids per query, probe the nprobe
    best cells per query, exact rerank inside probed cells.

    Output: (query_id, vec_id, cos, rank).
    """
    assigned, centroids = ivf_assign(embeddings, n_lists, vec_col, id_col)
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q")
    )
    cw = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        # round-6 before ranking: same replayability rule as ivf_topk
        .select(
            "query_id",
            "cell",
            F.round(cosine(F.col("cvec"), F.col("__q")), 6).alias("ccos"),
        )
        .withColumn("crank", F.row_number().over(cw))
        .where(F.col("crank") <= nprobe)
        .select("query_id", "cell")
        .join(q, "query_id")
    )
    scored = (
        assigned.join(F.broadcast(probe), assigned["ivf_cell"] == F.col("cell"))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__q")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos", "rank")
    )


def ann_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_lists: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    profile: str = "default",
) -> DataFrame:
    """Recall@k of the approximate searchers against the exact answer,
    averaged over the query batch — the measurement that makes the
    rows-only ANN operators auditable (an index with unmeasured recall
    is not an index).

    LSH plane/table counts default to ``ANN_PROFILES[profile]`` — the
    SHIPPED ``lsh_topk_multi`` config — so the audit always tracks
    what the engine actually runs (round-11 advice: the old explicit
    ``n_planes=4`` default kept auditing a config the searcher no
    longer used after the r10 re-tune to 3).

    Output: one row (k, n_queries, recall_lsh, recall_ivf).
    """
    exact = cosine_topk_multi(embeddings, query_ids, k, vec_col, id_col)
    lsh = lsh_topk_multi(embeddings, query_ids, k, n_planes=n_planes,
                         n_tables=n_tables, vec_col=vec_col, id_col=id_col,
                         profile=profile)
    ivf = ivf_topk_multi(embeddings, query_ids, k, n_lists=n_lists,
                         nprobe=nprobe, vec_col=vec_col, id_col=id_col)

    def hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            exact.select("query_id", id_col)
            .join(approx.select("query_id", id_col), ["query_id", id_col], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias(name))
        )

    per_q = (
        exact.select("query_id").distinct()
        .join(hits(lsh, "h_lsh"), "query_id", "left")
        .join(hits(ivf, "h_ivf"), "query_id", "left")
        .na.fill(0)
    )
    return per_q.agg(
        F.lit(k).alias("k"),
        F.count("*").alias("n_queries"),
        F.round(F.avg(F.col("h_lsh") / k), 4).alias("recall_lsh"),
        F.round(F.avg(F.col("h_ivf") / k), 4).alias("recall_ivf"),
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 10,
    tol: float = 1e-4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — the
    iterative-refinement upgrade of ivf_assign's one-shot seeding, and
    the engine's genuinely iterative algorithm (assign → re-center →
    repeat until centroids move < tol).

    Per iteration: assignment is a broadcast of k centroid rows +
    argmin squared-L2 (column expressions, no UDF); re-centering is
    posexplode to (cell, dim, value) → per-(cell, dim) avg → re-pack —
    one narrow shuffle of n·d scalar rows with map-side combine.
    Lineage is cut with localCheckpoint per round (as in
    connected_components) so plan depth stays O(1), not O(iters).
    Centroid state (k·d floats) is the only driver-resident data —
    model state, not rows, exactly like MLlib's own k-means.

    Deterministic: seeds are the k lowest-id vectors and ties in
    assignment break toward the lower cell id, so the fit is
    reproducible run-to-run on any engine.

    ``shuffle_partitions`` bounds the re-centering shuffle for the
    iteration loop: the per-(cell, dim) aggregate has only k·d groups,
    and a vanilla 200-partition session pays ~200 empty tasks per
    iteration (measured 11.7 s → 4 s at sf0.01). Pass None on a real
    cluster and size the session instead.

    Output: (cell, n_vectors, inertia) — one row per cluster.
    """
    spark = embeddings.sparkSession
    width = None
    if shuffle_partitions is not None:
        width = min(batch_width(spark), shuffle_partitions)
    with override_widths(spark, batch=width):
        return _kmeans_fit_inner(
            embeddings, k, n_iters, tol, vec_col, id_col
        )


def _kmeans_fit_inner(embeddings, k, n_iters, tol, vec_col, id_col):
    import math

    seeds = [
        r[0]
        for r in embeddings.orderBy(F.asc(id_col)).limit(k).select(vec_col).collect()
    ]
    pts = embeddings.select(id_col, vec_col).localCheckpoint(eager=True)

    def assigned_with(cents: list[list[float]]) -> DataFrame:
        cent_lit = F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in cents
        ])
        # squared L2 to each centroid; argmin with low-cell tiebreak
        dists = F.transform(
            cent_lit,
            lambda c: F.aggregate(
                F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        best = F.array_position(dists, F.array_min(dists)) - 1
        return pts.withColumn("cell", best.cast("int"))

    cents = [list(map(float, c)) for c in seeds]
    for _ in range(n_iters):
        asg = assigned_with(cents)
        new_rows = (
            asg.select("cell", F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("ms"))
            .select("cell", F.col("ms.m").alias("cvec"))
            .collect()
        )
        new_cents = list(cents)
        for r in new_rows:
            new_cents[r["cell"]] = list(map(float, r["cvec"]))
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
            for old, new in zip(cents, new_cents)
        )
        cents = new_cents
        if shift < tol:
            break

    final = assigned_with(cents)
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.element_at(cent_lit, F.col("cell") + 1),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        final.select("cell", d2.alias("__d2"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum("__d2"), 4).alias("inertia"),
        )
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    n_seeds: int | None = None,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "arrow",
) -> DataFrame:
    """SemDeDup-shaped semantic near-duplicate pairs (Abbas et al.
    2023, arXiv:2303.09540): partition the embedding space into
    clusters, then search for high-cosine pairs ONLY within a cluster —
    all-pairs work bounded by the largest cluster instead of N².

    This variant is deterministic and oracle-replayable: the cluster
    "centroids" are the ``n_seeds`` lowest-id vectors (a fixed seed
    set, not iterated k-means — `kmeans_fit` is the iterative path),
    each vector is assigned to its highest-cosine seed (ties to the
    lowest seed id; cosines rounded to 6 before the argmax so a 1-ulp
    cross-engine drift cannot flip an assignment), and pairs are
    verified with exact cosine at ``threshold``.

    Scale: seeds are a broadcast nested-loop against the scan (no
    shuffle, |seeds| rows per vector); the argmax is a partial-agg
    groupBy (shuffles N combined rows, not N×seeds); the pair join
    shuffles each cluster to one place — same skew exposure as an LSH
    bucket, so a hot cluster wants the bucket-cap treatment
    `embedding_neardup_pairs` documents. Per-vector norms are computed
    ONCE before the joins (`cosine_with_norms`) — the norm folds are
    the dominant per-pair cost otherwise.

    ``n_seeds=None`` (the DEFAULT — pin a literal only in replayable
    oracles and tests) auto-scales to ~√N (one bounded count as the
    control-plane read): expected cluster size √N makes assignment
    work (N·√N dots) and pair work (N·√N/2 dots) balance, which is
    what bounds the quadratic term. A STATIC seed count is a
    scale-killer — measured 128 s at 20 k vectors with 8 seeds
    (2.5 k-vector clusters → 25 M pair cosines) vs ~4 s auto-scaled.

    ``kernel="arrow"`` (the DEFAULT — round 9 flipped it so
    production callers get the 41×-class path without reading this
    paragraph) runs both stages as Arrow-batched numpy kernels
    (`mapInPandas` matmul assignment + per-cluster `applyInPandas`
    pair matmul) — the 100 TB path: the SQL kernel's per-element
    interpreted folds dominate at ≥10⁶ pairs (measured 23.8 s SQL vs
    ~3 s arrow on the 20 k-vector sf1 probe; sf30 242.1 s vs 5.9 s).
    numpy sums pairwise instead of sequentially, so
    assignments/cosines can drift by ~1 ulp vs the SQL kernel — pin
    ``kernel="sql"`` ONLY where an external oracle replays the
    arithmetic bit-for-bit (the registered q_semantic_dedup does;
    parity between the kernels is pytest-pinned).

    Output: (cluster, id_a, id_b, cos).
    """
    if n_seeds is None:
        import math

        n_seeds = max(8, math.isqrt(embeddings.count()))
    if kernel == "arrow":
        return _semantic_dedup_pairs_arrow(
            embeddings, n_seeds, threshold, vec_col, id_col
        )
    if kernel != "sql":
        raise ValueError(f"unknown kernel {kernel!r} (expected 'sql' or 'arrow')")
    seeds = F.broadcast(
        embeddings.orderBy(id_col)
        .limit(n_seeds)
        .select(
            F.col(id_col).alias("seed_id"),
            F.col(vec_col).alias("seed_vec"),
            l2norm(vec_col).alias("seed_n"),
        )
    )
    # The assignment fold is the work-amplifying stage (N·√N·d fold
    # ops off an N·d-byte scan): without an explicit rebalance it
    # inherits the parquet scan's BYTE-sized partitioning — a 50 MB
    # embedding file is 1 scan task, and the 10⁹-op fold runs serial
    # no matter how many cores the cluster has (measured: the sf30ish
    # probe held load ~4 on 32 cores before this rebalance). The
    # round-robin shuffle moves only the narrow input rows.
    from myasynstreamjoin_spark.sources.tables import rebalance

    assigned = (
        rebalance(embeddings).select(
            id_col, vec_col, l2norm(vec_col).alias("__n")
        )
        .crossJoin(seeds)
        .select(
            id_col,
            vec_col,
            "__n",
            "seed_id",
            F.round(
                cosine_with_norms(
                    F.col(vec_col), F.col("seed_vec"), F.col("__n"), F.col("seed_n")
                ),
                6,
            ).alias("c"),
        )
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("c"),
                    (-F.col("seed_id")).alias("ns"),
                    F.col("seed_id").alias("sid"),
                )
            )["sid"].alias("cluster"),
            F.any_value(F.col(vec_col)).alias("v"),
            F.any_value(F.col("__n")).alias("n"),
        )
    )
    a = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    cos = F.round(
        cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4
    )
    return (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cluster", "id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def _semantic_dedup_pairs_arrow(
    embeddings: DataFrame,
    n_seeds: int,
    threshold: float,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Arrow-kernel body of `semantic_dedup_pairs`: same algorithm,
    numpy matmuls instead of SQL folds.

    The seed matrix is a bounded driver read (n_seeds·dim floats —
    √N·d even in auto mode) shipped to executors inside the UDF
    closure, i.e. an ordinary broadcast. Assignment is one
    `mapInPandas` pass (batch × seeds matmul); pairs are one
    `applyInPandas` per cluster (within-group matmul), so the shuffle
    is the same single exchange-on-cluster as the SQL kernel.
    """
    import pandas as pd

    seed_rows = (
        embeddings.orderBy(id_col).limit(n_seeds).select(id_col, vec_col).collect()
    )
    seed_ids = np.array([r[0] for r in seed_rows], dtype=np.int64)
    S = np.array([r[1] for r in seed_rows], dtype=np.float64)
    Sn = np.linalg.norm(S, axis=1)

    _round_half_up = _round_half_up_np  # module-level HALF_UP rule

    def assign(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Xn = np.linalg.norm(X, axis=1)
            C = _round_half_up((X @ S.T) / np.outer(Xn, Sn), 6)
            # argmax returns the FIRST max index; seed_ids is sorted
            # ascending, so ties resolve to the lowest seed id — the
            # same rule as the SQL kernel's struct-max.
            idx = C.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "cluster": seed_ids[idx],
                    "id": pdf[id_col].to_numpy(dtype="int64"),
                    "v": pdf[vec_col],
                }
            )

    # carry the INPUT's element type through the intermediate schema —
    # a hardcoded array<float> would silently truncate array<double>
    # vectors to float32 before the pair-stage cosine and break the
    # pytest-pinned pair-set equality with the SQL kernel
    vec_type = embeddings.schema[vec_col].dataType.simpleString()
    # same scan-parallelism rule as the SQL kernel: the matmul pass is
    # work-amplifying, so don't let it inherit byte-sized scan splits
    from myasynstreamjoin_spark.sources.tables import rebalance

    assigned = rebalance(embeddings.select(id_col, vec_col)).mapInPandas(
        assign, schema=f"cluster long, id long, v {vec_type}"
    )

    def pairs(pdf):
        ids = pdf["id"].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        X = np.array(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"cluster": [], "id_a": [], "id_b": [], "cos": []}
            ).astype({"cluster": "int64", "id_a": "int64", "id_b": "int64",
                      "cos": "float64"})
        Xn = np.linalg.norm(X, axis=1)
        C = _round_half_up((X @ X.T) / np.outer(Xn, Xn), 4)
        ia, ib = np.triu_indices(n, k=1)
        keep = C[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "cluster": np.full(int(keep.sum()), pdf["cluster"].iloc[0]),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos": C[ia[keep], ib[keep]],
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        pairs, schema="cluster long, id_a long, id_b long, cos double"
    )


def ndcg_discounts_ppm(k: int) -> list[int]:
    """The fixed NDCG rank discounts 1/log₂(i+1) in exact integer ppm
    for i = 1..k. Factored out so oracle SQL builders embed the SAME
    literals — the discounts are constants of the metric, so no log is
    ever evaluated at query time and the whole metric stays in exact
    integer arithmetic."""
    import math

    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_metrics(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Ranking-quality evaluation of the exact retriever: per query,
    NDCG@k, MRR and precision@k against label-match relevance (a
    retrieved vector is relevant iff it carries the query's label) —
    the judged-ranking discipline `ann_recall` applies to candidate
    recall, extended to ORDER quality. The metric every RAG/retrieval
    pipeline reports before swapping retrievers.

    All-integer: rank discounts are ppm literals (`ndcg_discounts_ppm`
    — no runtime log), relevance is 0/1, NDCG closes with one exact
    integer DIV against the ideal prefix sum, MRR is 1e6 DIV
    first-hit rank. Fully SQL-replayable.

    Scale shape: one corpus scan for the batched top-k
    (`cosine_topk_multi`), one broadcast of per-label totals (the
    ideal-ranking size), windows only over k·|queries| rows.

    Output: (query_id, n_rel_corpus, hits_at_k, dcg_ppm, ndcg_ppm,
    mrr_ppm, p_at_k_ppm).
    """
    d = ndcg_discounts_ppm(k)
    prefix = [sum(d[: i + 1]) for i in range(k)]
    ranked = cosine_topk_multi(
        embeddings, query_ids, k=k, vec_col=vec_col, id_col=id_col
    )
    labels = embeddings.select(id_col, label_col)
    qlab = labels.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    # corpus relevant-set size per label (minus the query itself) —
    # the ideal ranking's length, broadcast-sized (|labels| rows)
    lcnt = labels.groupBy(label_col).agg(F.count("*").alias("__lc"))
    rel = (F.col(label_col) == F.col("__ql")).cast("long")
    disc = F.element_at(
        F.array(*[F.lit(x) for x in d]), F.col("rank")
    ).cast("long")
    scored = (
        ranked.join(labels, id_col)
        .join(F.broadcast(qlab), "query_id")
        .select(
            "query_id",
            "__ql",
            "rank",
            rel.alias("__rel"),
            (rel * disc).alias("__gain"),
        )
    )
    per_q = scored.groupBy("query_id", "__ql").agg(
        F.sum("__rel").alias("hits_at_k"),
        F.sum("__gain").alias("dcg_ppm"),
        F.min(F.when(F.col("__rel") == 1, F.col("rank"))).alias("__first"),
    )
    # greatest(1, ·) keeps element_at in range when a query's label is
    # unique in the corpus (no relevant docs); __num is NULL there, so
    # NDCG still reports 0 regardless of the clamped ideal
    ideal = F.element_at(
        F.array(*[F.lit(x) for x in prefix]),
        F.greatest(F.lit(1), F.least(F.lit(k), F.col("__lc") - 1)).cast(
            "int"
        ),
    ).cast("long")
    return (
        per_q.join(
            F.broadcast(lcnt), per_q["__ql"] == lcnt[label_col]
        )
        .select(
            "query_id",
            (F.col("__lc") - 1).cast("long").alias("n_rel_corpus"),
            F.col("hits_at_k").cast("long").alias("hits_at_k"),
            F.col("dcg_ppm").cast("long").alias("dcg_ppm"),
            F.when(F.col("__lc") - 1 >= 1, F.expr(
                "dcg_ppm * 1000000L"
            )).otherwise(None).alias("__num"),
            ideal.alias("__idcg"),
            F.col("__first"),
        )
        .select(
            "query_id",
            "n_rel_corpus",
            "hits_at_k",
            "dcg_ppm",
            F.coalesce(
                F.expr("__num DIV __idcg"), F.lit(0)
            ).cast("long").alias("ndcg_ppm"),
            F.coalesce(
                F.expr("1000000L DIV __first"), F.lit(0)
            ).cast("long").alias("mrr_ppm"),
            F.expr(f"hits_at_k * 1000000L DIV {int(k)}").cast("long").alias(
                "p_at_k_ppm"
            ),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """HARD negative mining for contrastive training: per anchor, the
    top-k most-similar vectors carrying a DIFFERENT label — the
    near-miss negatives that actually move a contrastive loss, versus
    `negative_pairs`' random negatives. The standard retrieval-training
    companion to `retrieval_metrics`.

    Same one-scan shape as `cosine_topk_multi` (anchors broadcast,
    corpus scans once); the label inequality filters BEFORE the
    ranking window, so the k hardest negatives are exact, not
    top-k-then-filter survivors (which can return fewer than k when
    the neighborhood is same-label).

    Output: (query_id, vec_id, neg_label, cos, rank), rank 1..k.
    """
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        F.col(label_col).alias("__ql"),
        l2norm(vec_col).alias("__qn"),
    )
    cos = cosine_with_norms(
        F.col(vec_col), F.col("__q"), l2norm(vec_col), F.col("__qn")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .where(
            (F.col(id_col) != F.col("query_id"))
            & (F.col(label_col) != F.col("__ql"))
        )
        .select(
            "query_id",
            id_col,
            F.col(label_col).alias("neg_label"),
            F.round(cos, 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "neg_label", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted IVF index (cell-partitioned; probing = partition pruning)
# ---------------------------------------------------------------------------


def write_ivf_index(
    embeddings: DataFrame,
    table: str = "ivf_index",
    n_lists: int = 16,
    path: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF assignment as a parquet table PARTITIONED BY
    ``ivf_cell`` plus a centroid sidecar table — the third member of
    the persisted-index family (exact fp index, MinHash band index,
    and this): the corpus pays the broadcast assignment pass once, and
    a probe of nprobe cells becomes PARTITION PRUNING — the scan reads
    nprobe/n_lists of the files and the other cells' bytes are never
    opened (plan-locked via inputFiles in
    tests/test_ivf_index.py). At 100 TB with n_lists sized so a cell
    is a few hundred GB, a 4-probe search touches only those
    partitions; re-centering is a rewrite, but appending new vectors
    assigns against the FROZEN sidecar centroids (``append=True``) so
    ingest never moves old files — the standard IVF freeze/retrain
    trade.

    ``{table}``           — (vec_id, embedding, ivf_cell), partitioned;
    ``{table}_centroids`` — (cell, cvec), n_lists rows.
    """
    assigned, centroids = ivf_assign(embeddings, n_lists, vec_col, id_col)
    w = assigned.write.mode("overwrite").partitionBy("ivf_cell")
    if path is not None:
        import os

        w = w.option("path", os.path.join(path, "cells"))
    w.format("parquet").saveAsTable(table)
    cw = centroids.write.mode("overwrite")
    if path is not None:
        import os

        cw = cw.option("path", os.path.join(path, "centroids"))
    cw.format("parquet").saveAsTable(f"{table}_centroids")


def ivf_search_index(
    spark,
    table: str,
    query_vecs: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched ANN search against a ``write_ivf_index`` table.
    ``query_vecs`` is (query_id, __q). Per query: rank the sidecar
    centroids (broadcast-sized), keep the nprobe best cells, then scan
    ONLY those cells — the probed cell set is collected driver-side
    (≤ n_lists ints, a control read) and pushed into the scan as an
    ``ivf_cell IN (...)`` partition filter, so pruning is static and
    visible in the plan. Scoring rules are identical to
    ``ivf_topk_multi`` (round-6 replayable rounding), and results are
    pinned equal to it by pytest.

    Output: (query_id, vec_id, cos, rank).
    """
    centroids = spark.table(f"{table}_centroids")
    cw = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("cell")
    )
    probe = (
        centroids.crossJoin(F.broadcast(query_vecs))
        .select(
            "query_id",
            "cell",
            F.round(cosine(F.col("cvec"), F.col("__q")), 6).alias("ccos"),
        )
        .withColumn("crank", F.row_number().over(cw))
        .where(F.col("crank") <= nprobe)
        .select("query_id", "cell")
        .join(query_vecs, "query_id")
    )
    cells = sorted(
        r["cell"] for r in probe.select("cell").distinct().collect()
    )
    pruned = spark.table(table).where(F.col("ivf_cell").isin(cells))
    scored = (
        pruned.join(F.broadcast(probe), pruned["ivf_cell"] == F.col("cell"))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("embedding"), F.col("__q")), 4).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos", "rank")
    )


def append_ivf_index(
    new_embeddings: DataFrame,
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Admit new vectors into a ``write_ivf_index`` table WITHOUT
    touching existing files: assign against the FROZEN sidecar
    centroids (broadcast, map-only) and append into the matching cell
    partitions. Old partitions' files never move — the standard IVF
    freeze/retrain trade: recall degrades only as the corpus drifts
    away from the frozen centroids, and re-centering is an explicit
    rebuild (``write_ivf_index`` again), not an ingest cost."""
    spark = new_embeddings.sparkSession
    centroids = spark.table(f"{table}_centroids")
    assigned = assign_to_centroids(
        new_embeddings, centroids, vec_col, id_col
    )
    assigned.write.mode("append").partitionBy("ivf_cell").format(
        "parquet"
    ).saveAsTable(table)


def matryoshka_recall(
    embs: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32),
    k: int = 10,
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval evaluation: for
    each query, compare the exact cosine top-k computed on only the
    FIRST d embedding components against the full-dimension top-k —
    the measurement that decides how far an MRL-trained index can
    truncate its vectors (d/64 of the storage and FLOPs) before recall
    degrades. Emits, per (query, d): the overlap count with the
    full-dim top-k and a vec_id-sum checksum of the truncated top-k
    itself, so an oracle verifies WHICH neighbors survive truncation.

    Ranking rule shared with every retrieval op here: cosine rounded
    to 4 decimals, ties by vec_id — replayable externally.

    Scale shape: queries broadcast (|Q| rows); ONE corpus pass scores
    every (query, d) pair via slices of the same embedding array
    (whole-stage codegen zip_with/aggregate, no UDF); per-(query, d)
    top-k is one window over rows already partitioned by the
    broadcast-join fan-out — corpus shuffles once into the window.

    Output: (query_id, dim, n_overlap, topk_id_sum).
    """
    from pyspark.sql import Window

    full_dim = embs.select(F.size("embedding").alias("d")).first()["d"]
    if full_dim in dims:
        # the full dim is the REFERENCE ranking, not a truncation —
        # including it would silently drop those rows from the output
        raise ValueError(
            f"dims must be proper truncations; {full_dim} is the full dim"
        )
    qv = (
        embs.where(F.col("vec_id").isin(*query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__q"),
        )
    )
    pairs = embs.crossJoin(F.broadcast(qv)).where(
        F.col("vec_id") != F.col("query_id")
    )
    variants = []
    for d in tuple(dims) + (full_dim,):
        a = F.slice("embedding", 1, d)
        b = F.slice("__q", 1, d)
        variants.append(
            F.struct(
                F.lit(d).cast("int").alias("dim"),
                F.round(cosine(a, b), 4).alias("cos"),
            )
        )
    long = pairs.select(
        "query_id",
        "vec_id",
        F.explode(F.array(*variants)).alias("v"),
    ).select("query_id", "vec_id", "v.dim", "v.cos")
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    topk = (
        long.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "dim", "vec_id")
        .localCheckpoint(eager=True)
    )
    full = topk.where(F.col("dim") == full_dim).select(
        F.col("query_id").alias("__fq"), F.col("vec_id").alias("__fv")
    )
    trunc = topk.where(F.col("dim") != full_dim)
    overlap = trunc.join(
        full,
        (F.col("query_id") == F.col("__fq"))
        & (F.col("vec_id") == F.col("__fv")),
        "left_semi",
    )
    return (
        trunc.groupBy("query_id", "dim")
        .agg(F.sum("vec_id").cast("long").alias("topk_id_sum"))
        .join(
            overlap.groupBy("query_id", "dim").agg(
                F.count("*").cast("long").alias("n_overlap")
            ),
            ["query_id", "dim"],
            "left",
        )
        .select(
            "query_id",
            "dim",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            "topk_id_sum",
        )
    )
