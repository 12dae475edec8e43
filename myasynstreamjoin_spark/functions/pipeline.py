"""Training-data pipeline operators: dataset splitting and sequence
packing.

Beyond-reference surface (SURVEY.md §7 phase 5). Both operators are
pure column expressions / window functions — no Python in the hot
path, no rand(): a re-executed stage on a 100 TB run must produce the
SAME split and the SAME packing, and an external oracle must be able
to replay them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.relational import hash_bucket
from myasynstreamjoin_spark.session import batch_width


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    n_buckets: int = 10_000,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by
    deterministic hash bucket of ``key_col``.

    Properties a training pipeline needs that ``randomSplit`` lacks:
    - reproducible across runs, engines, and stage re-executions
      (randomSplit resamples per task attempt);
    - stable under data growth: a key keeps its split when new rows
      arrive, so yesterday's test set never leaks into today's train;
    - ``salt`` derives independent splits from the same keys (e.g. a
      fresh fold) without touching the data.

    Fractions must sum to 1 (±1e-9). Bucket ranges are assigned in
    sorted split-name order; the last range absorbs integer-rounding
    remainder so every row gets a split. Pure scan-stage projection:
    no shuffle.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    key: Column = F.col(key_col).cast("string")
    if salt:
        key = F.concat(key, F.lit(salt))
    bucket = hash_bucket(key, n_buckets)

    names = sorted(splits)
    cuts: list[tuple[int, str]] = []  # (exclusive upper bucket, name)
    acc = 0
    for name in names:
        acc += int(round(splits[name] * n_buckets))
        cuts.append((acc, name))
    cuts[-1] = (n_buckets, names[-1])  # absorb rounding remainder

    # buckets are ordered, so the first matching `< hi` wins — build the
    # chain from the smallest cut outward
    chain = None
    for hi, name in cuts:
        cond = bucket < hi
        chain = F.when(cond, name) if chain is None else chain.when(cond, name)
    return df.withColumn(split_col, chain)


def domain_mixture_sample(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    target_total: int,
    id_col: str = "doc_id",
    salt: str = "mix",
    n_buckets: int = 65_536,
) -> DataFrame:
    """Sample each source (domain) at the rate that makes the OUTPUT
    approximate a target mixture — the domain-reweighting step of a
    training-data pipeline ("20% code, 30% web, 50% books" over sources
    with wildly different raw sizes).

    Per source s: rate_s = min(1, weight_s · target_total / count_s);
    a row survives iff its deterministic md5 bucket of (id + salt)
    falls below rate_s · n_buckets. ``n_buckets`` must stay ≤ 65536 —
    hash_bucket draws 16 bits, so larger values silently lose
    resolution. Properties:
    - reproducible across runs/engines (hash, not rand()) — the oracle
      replays the exact survivor set;
    - a source too small for its target weight keeps ALL its rows
      (rate capped at 1) rather than upsampling — the standard
      epoch-repeat decision is left to the caller;
    - changing ``salt`` draws an independent sample.

    Scale shape: one tiny per-source count aggregation broadcast back
    onto the scan — the corpus itself never shuffles; the filter runs
    scan-side. Sources absent from ``weights`` are dropped (rate 0).

    Output: the surviving rows of ``df`` (schema unchanged).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if n_buckets > 65_536:
        # hash_bucket draws 16 bits; a larger bucket count would make
        # `bucket < rate * n_buckets` true for rates ≥ 65536/n_buckets
        # — silently keeping everything instead of sampling.
        raise ValueError(f"n_buckets must be <= 65536, got {n_buckets}")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"{source_col} string, __w double",
    )
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    rates = counts.join(wdf, source_col).select(
        source_col,
        F.least(
            F.lit(1.0), F.col("__w") * F.lit(float(target_total)) / F.col("__n")
        ).alias("__rate"),
    )
    bucket = hash_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)), n_buckets
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .where(bucket < F.col("__rate") * n_buckets)
        .drop("__rate")
    )


def temperature_mixture_sample(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.3,
    target_total: int = 300,
    id_col: str = "doc_id",
    salt: str = "mix",
    n_buckets: int = 65_536,
) -> DataFrame:
    """Temperature-scaled domain mixture (the mT5/Pile α-sampling
    rule): target weight of source s is n_s^α / Σ_t n_t^α, flattening
    the natural size distribution toward uniform as α → 0 — the
    standard fix for head domains drowning out tail domains in a
    pretraining mix. The α-weights are derived FROM the data, then the
    same deterministic md5-bucket survivor rule as
    ``domain_mixture_sample`` applies.

    Cross-engine determinism: n_s^α is fixed-pointed to integer
    MICRO-UNITS before normalizing, so the Σ n^α total is an integer
    sum (order-free) and each weight is one IEEE division of exact
    integers — a float Σ of pow() results would differ across engines
    by association. Rates round to 9 decimals before the bucket
    comparison so both engines compare identical doubles.

    Scale shape: identical to ``domain_mixture_sample`` — one
    |sources|-row aggregate broadcast onto the scan; the corpus never
    shuffles.

    Output: the surviving rows of ``df`` (schema unchanged).
    """
    if n_buckets > 65_536:
        raise ValueError(f"n_buckets must be <= 65536, got {n_buckets}")
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    p = F.round(F.pow(F.col("__n").cast("double"), F.lit(alpha)) * F.lit(1e6)).cast(
        "long"
    )
    scaled = counts.select(source_col, "__n", p.alias("__p"))
    tot = scaled.agg(F.sum("__p").alias("__tot"))
    rates = scaled.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("__p") / F.col("__tot"))
                * F.lit(float(target_total))
                / F.col("__n"),
            ),
            9,
        ).alias("__rate"),
    )
    bucket = hash_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)), n_buckets
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .where(bucket < F.col("__rate") * n_buckets)
        .drop("__rate")
    )


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Deterministic fixed-size sample: keep (at most) ``k`` rows per
    group, chosen by hash order — the per-domain document cap a corpus
    pipeline applies so no single source dominates, with every property
    rand()-based sampling lacks: reproducible across runs/engines/stage
    retries, and stable under data growth for rows that keep their hash
    rank.

    The complement of ``domain_mixture_sample`` (rate-based, output
    mixture targets): this bounds ABSOLUTE per-group size. Uses the
    portable md5 ordering (hash string, then id tiebreak) so an
    external oracle replays the exact survivor set.

    Scale shape: one window rank per group — a single shuffle on the
    group key; groups are domains/sources (few, large), so AQE's skew
    handling applies to any hot group. For k ≫ memory-per-task use a
    two-phase rank (bucket pre-filter) instead; at the document-cap
    sizes this is built for (k ≤ millions) the window is fine.

    Output: the surviving rows (schema unchanged).
    """
    from pyspark.sql import Window

    order_key = F.md5(
        F.encode(F.concat(F.col(id_col).cast("string"), F.lit(salt)), "UTF-8")
    )
    w = Window.partitionBy(group_col).orderBy(order_key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def wrs_key(
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wrs",
    n_buckets: int = 65_536,
) -> Column:
    """The Efraimidis–Spirakis selection key ln(u)/w with the exact
    rational u = (md5-bucket + 0.5)/n_buckets — factored out so the
    batch sampler and the streaming reservoir compute the IDENTICAL
    key (the order-free merge property 'top-k of a union = top-k of
    the per-part top-ks' only holds when both sides agree on the key
    bit-for-bit)."""
    if n_buckets > 65_536:
        # hash_bucket draws 16 bits; more buckets would silently skew
        # u toward 0 (same guard as domain_mixture_sample)
        raise ValueError(f"n_buckets must be <= 65536, got {n_buckets}")
    u = (
        hash_bucket(
            F.concat(F.col(id_col).cast("string"), F.lit(salt)), n_buckets
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(n_buckets))
    return F.log(u) / F.col(weight_col)


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wrs",
    n_buckets: int = 65_536,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis): keep the ``k`` rows maximizing u^(1/w),
    where u is a hash-derived uniform — higher-weight rows win
    proportionally more often. This is quality-weighted data selection
    (sample training docs ∝ quality score) with every property rand()
    lacks: reproducible across runs, engines, and stage retries.

    u = (md5-bucket + 0.5) / n_buckets is an exact rational from the
    row id, and the selection key is ln(u)/w (monotone in u^(1/w),
    cheaper); ties break by id. Rows with weight ≤ 0, NULL, or NaN
    never sample (NaN compares GREATER than any number in Spark SQL —
    unguarded, a single corrupt weight would hijack the whole top-k).
    Scale shape: the key evaluates scan-side and the global
    top-k is TakeOrderedAndProject (per-partition heaps + k-row driver
    merge) — no global sort, no shuffle of the corpus.

    Output: the selected rows (schema unchanged).
    """
    key = wrs_key(weight_col, id_col, salt, n_buckets)
    w = F.col(weight_col)
    return (
        df.where((w > 0) & ~F.isnan(w.cast("double")))
        .withColumn("__wkey", key)
        .orderBy(F.desc("__wkey"), F.asc(id_col))
        .limit(k)
        .drop("__wkey")
    )


def negative_pairs(
    df: DataFrame,
    k: int = 4,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: pair
    every anchor row with ``k`` pseudo-random partners, without a cross
    join and without rand().

    Mechanism: rows hash into ``n_buckets`` buckets; each bucket elects
    a representative (min id — deterministic); an anchor's negatives
    are the representatives of its next ``k`` cyclically-offset
    buckets. Hash placement makes the pairing effectively random w.r.t.
    any data attribute, while staying reproducible across runs/engines/
    retries (the oracle replays it exactly) — the property rand()-based
    negative samplers lack, and the reason a re-executed stage can't
    silently change the training set.

    Scale shape: representatives are one tiny aggregate (``n_buckets``
    rows) broadcast to the k-exploded anchors — the corpus itself
    never shuffles. Self-pairs are dropped (an anchor that IS its
    offset bucket's representative yields k-1 pairs).

    Output: (anchor_id, neg_id, slot) with slot in [1, k].
    """
    bucket = hash_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)), n_buckets
    )
    with_b = df.select(F.col(id_col), bucket.alias("__b"))
    reps = with_b.groupBy("__b").agg(F.min(id_col).alias("neg_id"))
    anchors = with_b.select(
        F.col(id_col).alias("anchor_id"),
        "__b",
        F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias("slot"),
    ).withColumn("__nb", (F.col("__b") + F.col("slot")) % n_buckets)
    return (
        anchors.join(
            F.broadcast(reps.withColumnRenamed("__b", "__nb")), "__nb"
        )
        .where(F.col("neg_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_id", "slot")
    )


def pack_sequences(
    docs: DataFrame,
    token_col: Column | str,
    budget: int = 512,
    n_shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay documents head to
    tail in a deterministic order and cut every ``budget`` tokens — the
    standard way training pipelines turn variable-length documents into
    fixed-length samples.

    Each document is assigned the sequence where it STARTS
    (``seq_id = exclusive-prefix-tokens DIV budget``) plus its offset
    within that sequence; a downstream writer materializes the chunks.

    Scale shape: packing is embarrassingly parallel ACROSS shards —
    ``n_shards`` independent streams, each packed by one running-sum
    window (a single shuffle on ``shard``). At 100 TB you set
    ``n_shards`` ≫ executor count so no shard outgrows a task, and the
    within-shard sort is by ``id_col`` (already clustered if the table
    is written bucketed by id — see sources/sinks.py).

    Output: (doc_id, shard, n_tokens, seq_id, seq_offset).
    """
    tok: Column = F.col(token_col) if isinstance(token_col, str) else token_col
    d = docs.select(
        id_col,
        hash_bucket(F.col(id_col).cast("string"), n_shards).alias("shard"),
        tok.cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return d.select(
        id_col,
        "shard",
        "n_tokens",
        F.expr(f"prefix DIV {int(budget)}").alias("seq_id"),
        (F.col("prefix") % budget).alias("seq_offset"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping fixed-size token chunks —
    the "context window" preprocessing step between cleaning and
    sequence packing in a training pipeline (pack_sequences assumes
    bounded per-row token counts; this is what bounds them).

    Chunk i covers tokens [i·stride, i·stride + chunk_size) with
    stride = chunk_size − overlap; the final chunk is allowed to be
    short. Pure array expressions (sequence → posexplode → slice): the
    explode amplifies rows ~n_tokens/stride×, so at scale feed it a
    rebalanced input the same way the shingle pipeline does.

    Output: (doc_id, chunk_no, chunk_start, n_chunk_tokens,
    first_tok, last_tok) — one row per chunk; chunk text itself is
    reconstructable as slice(tokens, chunk_start, n_chunk_tokens).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    from myasynstreamjoin_spark.functions.text import tokens

    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - chunk_size).cast("double") / stride).cast("int")
    )
    exploded = docs.select(
        id_col, toks.alias("__t"), n.alias("__n"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no", "__i"),
    )
    start = F.col("chunk_no") * stride + 1  # 1-based for slice/element_at
    end = F.least(start + chunk_size - 1, F.col("__n"))
    return exploded.select(
        id_col,
        "chunk_no",
        start.cast("long").alias("chunk_start"),
        (end - start + 1).cast("long").alias("n_chunk_tokens"),
        F.element_at("__t", start.cast("int")).alias("first_tok"),
        F.element_at("__t", end.cast("int")).alias("last_tok"),
    )


def span_corruption_pairs(
    docs: DataFrame,
    span_len: int = 5,
    n_spans: int = 2,
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic T5-style span corruption: mask ``n_spans``
    non-overlapping ``span_len``-token spans per document, emitting the
    masked input (sentinels in place of spans) and the target (the
    spans behind their sentinels) — the (input, target) pair generator
    of a denoising-objective pretraining pipeline.

    Span starts are pseudo-random but md5-derived from (doc_id, span
    index): reproducible across runs, engines, and retries, so the
    oracle replays the exact corruption (the same reason
    ``hash_split`` avoids rand()). The i-th span starts at
    ``md5_32(doc_id:i) % slot_width`` inside its own 1/n_spans slice
    of the document, which guarantees non-overlap when ``slot_width ≥
    span_len`` (docs shorter than ``min_tokens`` pass through
    unmasked with a NULL target — they're left for the packing stage).

    Map-only: one projection over the token array (slice + concat, no
    UDF, no shuffle) — at 100 TB it pipelines with the scan.

    Output: (doc_id, input_text, target_text).
    """
    from myasynstreamjoin_spark.functions.text import tokens
    from myasynstreamjoin_spark.operators.relational import hash_bucket

    if min_tokens < n_spans * span_len:
        # the non-overlap guarantee needs slot_width (= n//n_spans for
        # the shortest masked doc) ≥ span_len; below this, spans could
        # collide and the pair would no longer reconstruct the doc
        raise ValueError(
            f"min_tokens={min_tokens} must be ≥ n_spans·span_len="
            f"{n_spans * span_len} to keep spans non-overlapping"
        )
    toked = docs.where(F.col(text_col).isNotNull()).select(
        id_col, tokens(text_col).alias("__t")
    )
    t = F.col("__t")
    n = F.size(t)
    slot = (n / n_spans).cast("int")  # double→int truncation == floor (n≥0)
    pieces_in = []
    pieces_tgt = []
    prev_end = F.lit(1)  # 1-based token position after the previous span
    for i in range(n_spans):
        # start of span i (1-based), within slot i
        off = hash_bucket(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(i))),
            10_000,
        )
        start = (F.lit(i) * slot) + F.pmod(off, F.greatest(slot - span_len + 1, F.lit(1))) + 1
        pieces_in.append(
            F.concat_ws(" ", F.slice(t, prev_end, (start - prev_end).cast("int")))
        )
        pieces_in.append(F.lit(f"<extra_id_{i}>"))
        pieces_tgt.append(F.lit(f"<extra_id_{i}>"))
        pieces_tgt.append(F.concat_ws(" ", F.slice(t, start, span_len)))
        prev_end = start + span_len
    pieces_in.append(
        F.concat_ws(" ", F.slice(t, prev_end, (n - prev_end + 1).cast("int")))
    )
    # explicit empty-piece filter: Spark's concat_ws keeps '' elements
    # (leading/trailing separators when a span sits at a document
    # edge) while DuckDB's skips them — filtering makes both engines,
    # and the output text itself, unambiguous.
    masked = F.array_join(
        F.filter(F.array(*pieces_in), lambda x: x != F.lit("")), " "
    )
    target = F.array_join(
        F.filter(F.array(*pieces_tgt), lambda x: x != F.lit("")), " "
    )
    return toked.select(
        id_col,
        F.when(n >= min_tokens, masked)
        .otherwise(F.concat_ws(" ", t))
        .alias("input_text"),
        F.when(n >= min_tokens, target).alias("target_text"),
    )


def plan_data_budget(
    docs: DataFrame,
    budget_tokens: int,
    max_repeat: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget waterfilling across domains: split a training
    budget of ``budget_tokens`` over the corpus's domains as evenly as
    possible, but never allocate a domain more than ``max_repeat`` ×
    its own tokens (repeating a small domain past a few epochs hurts
    more than it helps) — the static data-mixing planner a pretraining
    run executes before sampling.

    Closed-form waterfilling, EXACT integers: domains sort by
    (cap, source); ascending caps make "this domain saturates" a
    prefix property — domain k is capped iff
    ``cap_k · (n − k + 1) ≤ budget − Σ_{i<k} cap_i`` — so the fill
    level needs no iteration, just two window passes and one tiny
    aggregate. The uncapped remainder splits with DIV; the first
    ``remainder mod u`` uncapped domains (in sort order) take one
    extra token. No floats anywhere except the final repeat-factor
    division of two exact longs, so any engine replays the plan
    bit-for-bit.

    Scale shape: one corpus pass for per-domain token counts; all
    planning math runs on the |domains|-row table (windows over a
    model-sized frame, broadcast of a 1-row aggregate).

    Output: (source, n_tokens, cap, alloc, repeat_factor), one row per
    domain; Σ alloc = min(budget, Σ cap).
    """
    from pyspark.sql import Window

    from myasynstreamjoin_spark.functions.text import tokens

    # Eager checkpoint of the |domains|-row aggregate: it feeds four
    # branches below (window pass, total count, saturation aggregate,
    # final projection), and without the cut each branch would re-run
    # the full corpus tokenize+groupBy — SCALE.md's multi-branch rule.
    t = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(source_col).alias("source"), F.size(tokens(text_col)).alias("__n"))
        .groupBy("source")
        .agg(F.sum("__n").cast("long").alias("n_tokens"))
        .withColumn("cap", F.lit(max_repeat) * F.col("n_tokens"))
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("cap", "source")
    o = t.select(
        "source",
        "n_tokens",
        "cap",
        F.row_number().over(w).alias("__k"),
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__pprev"),
    )
    tot = t.agg(F.count("*").alias("__ndom"))
    f = o.join(F.broadcast(tot)).withColumn(
        "__capped",
        F.col("cap") * (F.col("__ndom") - F.col("__k") + 1)
        <= F.lit(budget_tokens) - F.col("__pprev"),
    )
    agg = f.agg(
        F.sum(F.when(F.col("__capped"), 1).otherwise(0)).alias("__m"),
        F.coalesce(
            F.sum(F.when(F.col("__capped"), F.col("cap"))), F.lit(0)
        ).alias("__scap"),
    )
    x = f.join(F.broadcast(agg))
    u = F.col("__ndom") - F.col("__m")
    r = F.lit(budget_tokens) - F.col("__scap")
    x = x.withColumn("__u", u).withColumn("__r", r)
    extra_cut = F.pmod(F.col("__r"), F.greatest(F.col("__u"), F.lit(1)))
    alloc = (
        F.when(F.col("__capped"), F.col("cap"))
        .when(
            F.col("__u") > 0,
            F.least(
                F.col("cap"),
                F.expr("__r DIV __u")
                + F.when(
                    F.col("__k") - F.col("__m") <= extra_cut, F.lit(1)
                ).otherwise(F.lit(0)),
            ),
        )
        .otherwise(F.col("cap"))
        .cast("long")
    )
    return x.select(
        "source",
        "n_tokens",
        "cap",
        alloc.alias("alloc"),
        (alloc.cast("double") / F.col("n_tokens").cast("double")).alias(
            "repeat_factor"
        ),
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-shard manifest of a training-corpus export:
    each document is hash-assigned to a shard (`hash_bucket`, the
    engine-portable md5 bucket every sampling op here uses), and the
    manifest reports per shard the doc count, total whitespace-token
    count, and an ORDER-INDEPENDENT content checksum — the artifact a
    downstream trainer checks before reading a single shard, and the
    invariant a re-export must reproduce bit-for-bit.

    checksum = Σ md5_32(normalized(text)) as BIGINT: a sum of 32-bit
    values is order-free (no float, no concat ordering) and overflows
    only past 2³¹ docs PER SHARD — far beyond any real shard. NULL
    texts hash as '' and count 0 tokens; export never DROPS rows (an
    exporter that silently loses data is worse than one that ships an
    empty doc).

    Scale shape: one map-side-combined groupBy on the shard id —
    n_shards rows out regardless of corpus size.

    Output: (shard, n_docs, n_tokens, checksum).
    """
    from myasynstreamjoin_spark.functions.dedup import md5_32
    from myasynstreamjoin_spark.functions.text import normalized, tokens

    t = F.coalesce(F.col(text_col), F.lit(""))
    return (
        docs.select(
            hash_bucket(F.col(id_col).cast("string"), n_shards).alias("shard"),
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(tokens(text_col)))
            .cast("long")
            .alias("__nt"),
            md5_32(normalized(t)).alias("__h"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.sum("__h").alias("checksum"),
        )
    )


def export_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Write the corpus as ``n_shards`` hash-assigned parquet shard
    directories (``shard=N/``) with a DETERMINISTIC pseudo-shuffled
    within-shard row order — the export step at the end of a training
    -data pipeline. The order key is md5(doc_id || ':shuffle'): a
    reproducible corpus shuffle (same bytes every run, every engine),
    which is what training-data reads want instead of rand() — the
    run is replayable and the shard a given doc lands in never moves.

    Scale shape: one repartition on the shard id, sort within
    partitions only (never a global sort); shard directories prune on
    read (`shard = N` touches one directory — asserted in
    tests/test_export_shards.py). At 100 TB pick n_shards so a shard
    fits a reader node, and verify the written tree against
    `shard_manifest` before deleting upstream state.
    """
    staged = docs.withColumn(
        "shard", hash_bucket(F.col(id_col).cast("string"), n_shards)
    ).withColumn(
        "sort_key",
        F.md5(
            F.encode(
                F.concat(F.col(id_col).cast("string"), F.lit(":shuffle")),
                "UTF-8",
            )
        ),
    )
    (
        staged.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "sort_key")
        # the order key did its job at sort time — exported files carry
        # the source schema + shard only (a projection preserves the
        # within-partition sort)
        .drop("sort_key")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


# Modulus for the order-sensitive epoch-shuffle checksum: a prime
# small enough that rank × residue sums stay far from BIGINT overflow
# at any realistic per-shard row count.
_EPOCH_CHECKSUM_MOD = 1_000_003


def epoch_shuffle(
    docs: DataFrame,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
    digest_col: str = "shuffle_key",
    shard_col: str = "shard",
    rank_col: str = "shard_rank",
) -> DataFrame:
    """Deterministic SEEDED global corpus shuffle — the per-epoch
    reshuffle every pre-training data loader performs before packing.

    Each row's md5(id || ':epoch' || seed) digest drives BOTH the
    shard assignment (first 16 bits mod ``n_shards``) and the
    within-shard order (full digest), so changing ``seed`` moves
    documents ACROSS shards and permutes them WITHIN shards — a fresh
    pseudo-random permutation per epoch that is bit-reproducible
    across runs, engines, and stage re-executions (``export_shards``'
    order key is the unseeded special case of this; rand() would
    resample on every task retry).

    Scale shape: one hash exchange on the shard id + an in-partition
    sort (row_number windowed by shard) — never a global sort, no
    driver-side state. At 100 TB pick ``n_shards`` ≥ cluster
    parallelism so each shard sorts independently.

    Output: input columns + (``digest_col``, ``shard_col``,
    ``rank_col``) where rank is 1-based within the shard in shuffle
    order.
    """
    staged = _epoch_stage(docs, seed, n_shards, id_col, digest_col, shard_col)
    w = Window.partitionBy(shard_col).orderBy(digest_col, id_col)
    return staged.withColumn(rank_col, F.row_number().over(w).cast("long"))


def _epoch_stage(
    docs: DataFrame,
    seed: int,
    n_shards: int,
    id_col: str,
    digest_col: str = "shuffle_key",
    shard_col: str = "shard",
) -> DataFrame:
    """Shared map-only stage of the epoch family: the seeded digest
    and the shard it assigns. No shuffle — callers add their own
    rank/order windows."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(f":epoch{int(seed)}"))
    staged = docs.withColumn(digest_col, F.md5(F.encode(key, "UTF-8")))
    return staged.withColumn(
        shard_col,
        F.conv(F.substring(digest_col, 1, 4), 16, 10).cast("int") % n_shards,
    )


def epoch_shuffle_manifest(
    docs: DataFrame,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Per-shard manifest of an epoch shuffle with an ORDER-SENSITIVE
    checksum, so the permutation itself — not just shard membership —
    is verifiable (and replayable by an external SQL oracle).

    checksum = Σ rank × (id mod P): any swap of two rows in a shard
    changes it, while ``shard_manifest``'s order-free checksum would
    not. first/last doc pin the permutation's endpoints for cheap
    spot checks. n_docs/sum weight are seed-invariant (a reshuffle
    must lose nothing) — the pair of invariants a trainer asserts
    between epochs.

    Same single-exchange plan as ``epoch_shuffle``: the groupBy reuses
    the window's hash partitioning on the shard id (asserted in
    tests/test_plans.py), so the whole manifest is one shuffle with
    n_shards rows out.

    Output: (shard, n_docs, sum_weight, order_checksum, first_doc,
    last_doc).
    """
    shuffled = epoch_shuffle(docs, seed=seed, n_shards=n_shards, id_col=id_col)
    return shuffled.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(weight_col).cast("long")).alias("sum_weight"),
        F.sum(
            F.col("shard_rank") * (F.col(id_col) % F.lit(_EPOCH_CHECKSUM_MOD))
        ).alias("order_checksum"),
        F.min_by(id_col, "shard_rank").alias("first_doc"),
        F.max_by(id_col, "shard_rank").alias("last_doc"),
    )


def export_epoch(
    docs: DataFrame,
    path: str,
    seed: int = 0,
    n_shards: int = 64,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize one epoch's shuffled read order as ``shard=N/``
    parquet directories whose ROW ORDER IS the permutation — the
    artifact a trainer's data loader actually consumes. ``shard_rank``
    is kept in the files so a resumed run can seek to its checkpoint
    step (``shard_rank > n``) and so the written tree can be verified
    against ``epoch_shuffle_manifest``'s order-sensitive checksum
    without re-deriving the digest (asserted in
    tests/test_export_shards.py).

    ``export_shards`` is the unseeded single-corpus special case; this
    writes a fresh tree per (epoch, seed) while the source corpus
    stays untouched. Same scale shape: one repartition on the shard
    id, sort within partitions only.
    """
    staged = epoch_shuffle(docs, seed=seed, n_shards=n_shards, id_col=id_col)
    (
        staged.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "shuffle_key", id_col)
        # the digest did its job at sort time; rank stays for seeking
        .drop("shuffle_key")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def read_epoch(
    spark,
    path: str,
    shard: int | None = None,
    from_rank: int = 0,
) -> DataFrame:
    """Read an `export_epoch` tree: optionally one shard (directory-
    pruned) and optionally seeking past a checkpoint step
    (``shard_rank > from_rank`` — the resume path of a trainer data
    loader). Within a single shard file Spark preserves row order on
    read; across shards/files, order By shard_rank explicitly if a
    total per-shard order matters to the consumer."""
    df = spark.read.parquet(path)
    if shard is not None:
        df = df.where(F.col("shard") == shard)
    if from_rank:
        df = df.where(F.col("shard_rank") > from_rank)
    return df


# Stride scale for the integer virtual clock: 720720 = lcm(1..16),
# so rank*SCALE DIV weight is exact for any weight up to 16 and the
# interleave positions carry no float anywhere.
_STRIDE_SCALE = 720_720


def epoch_interleave(
    docs: DataFrame,
    weight: Column,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic WEIGHTED source interleave (stride scheduling) on
    top of the epoch shuffle — the data-mixing read order a trainer
    consumes: within every shard, source ``s``'s k-th document runs at
    integer virtual time k·SCALE DIV w_s, so a weight-3 source appears
    3× as often as a weight-1 source in EVERY prefix of the stream
    (bounded-error proportionality, the stride-scheduling invariant),
    not just in expectation. Sampling is without replacement: every
    document appears exactly once per epoch.

    ``weight`` is an integer Column (≥ 1) evaluated per row — derive
    it from the source name, a broadcast-joined mixture table
    (``temperature_mixture_sample``'s weights), or a literal CASE.
    All-integer arithmetic: no float enters the sort key, so the
    order is bit-reproducible across engines and an external SQL
    oracle can replay it.

    Scale shape: two hash exchanges — (shard, source) for the
    per-source arrival rank, then shard for the merged order — each
    with in-partition sorts only; never a global sort, no driver
    state. Shards stay independent, so n_shards ≥ parallelism keeps
    every core busy at any corpus size.

    Output: input columns + (shuffle_key, shard, __src_rank, vtime,
    interleave_rank) where interleave_rank is the 1-based read order
    within the shard.
    """
    shuffled = _epoch_stage(docs, seed, n_shards, id_col)
    w1 = Window.partitionBy("shard", source_col).orderBy("shuffle_key", id_col)
    staged = (
        shuffled.withColumn("__w", weight.cast("long"))
        .withColumn("__src_rank", F.row_number().over(w1).cast("long"))
        .withColumn(
            "vtime", F.expr(f"(__src_rank * {_STRIDE_SCALE}L) DIV __w")
        )
    )
    w2 = Window.partitionBy("shard").orderBy("vtime", "shuffle_key", id_col)
    return staged.drop("__w").withColumn(
        "interleave_rank", F.row_number().over(w2).cast("long")
    )


def epoch_interleave_manifest(
    docs: DataFrame,
    weight: Column,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-shard manifest of the interleaved read order, checksummed
    ORDER-SENSITIVELY (Σ rank × (id mod P), as epoch_shuffle_manifest)
    plus the first source read per shard — together they pin the
    exact mixing order an external oracle must reproduce.

    Output: (shard, n_docs, order_checksum, first_source).
    """
    mixed = epoch_interleave(
        docs,
        weight,
        seed=seed,
        n_shards=n_shards,
        id_col=id_col,
        source_col=source_col,
    )
    return mixed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.col("interleave_rank")
            * (F.col(id_col) % F.lit(_EPOCH_CHECKSUM_MOD))
        ).alias("order_checksum"),
        F.min_by(source_col, "interleave_rank").alias("first_source"),
    )


def pack_chunks(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the packed training samples `pack_sequences` only
    ASSIGNS: documents lie head-to-tail per shard in deterministic
    id order and every output row is one sequence of EXACTLY
    ``budget`` whitespace tokens (each shard's trailing partial
    sequence is dropped — the standard convention; its tokens are the
    packing waste the assignment op already lets you audit).

    Scale shape: the explode is one row per corpus TOKEN — inherent to
    materializing samples — but everything after it is a single keyed
    shuffle: global position = seq_id·budget + seq_offset + pos is a
    scan-stage projection, and the groupBy (shard, seq_id) collects
    exactly ``budget`` (off, tok) pairs per output row, so no group
    outgrows a task whatever the document length distribution. At
    100 TB this runs once per tokenizer change and writes straight to
    the bucketed/sharded sinks.

    Output: (shard, seq_id, n_docs, tokens) — n_docs = documents
    contributing to the sample (packing mixes doc tails/heads);
    tokens = the budget-length array in order.
    """
    from myasynstreamjoin_spark.functions.text import tokens as _tokens

    toked = docs.select(id_col, _tokens(text_col).alias("__t"))
    return _pack_token_arrays(toked, budget, n_shards, id_col)


def _pack_token_arrays(
    enc: DataFrame, budget: int, n_shards: int, id_col: str
) -> DataFrame:
    """Shared materializer behind `pack_chunks` (whitespace tokens) and
    `pack_token_ids` (BPE ids): ``enc`` is (id_col, __t array<T>); the
    element type rides through to the output ``tokens`` column.

    ``enc`` branches into the assignment and the join probe — without
    a checkpoint both branches re-scan the corpus and re-run the
    tokenizer (SCALE.md persist-vs-checkpoint rule; verified 2 parquet
    scans, 0 ReusedExchange un-checkpointed). DISK_ONLY blocks
    (corpus-grain rule): the token-array table is corpus-scale bytes."""
    from myasynstreamjoin_spark.blocks import ckpt_disk

    enc = ckpt_disk(enc)
    # Data-proportional width for the sample-collect exchange (round
    # 8): the collect_list agg below is an OBJECT aggregate — its
    # sort-based fallback holds every (off, tok) struct of a task in
    # one UnsafeKVExternalSorter, and at the session's interactive
    # width (32) a 30×-probe token stream leaves ~7 M structs per task
    # under 32-way concurrency in one heap (UNABLE_TO_ACQUIRE_MEMORY).
    # Per-GROUP size is bounded by ``budget``; per-TASK volume is what
    # must be sized. enc is already checkpointed, so the token count
    # is a cheap bounded read; below ~64 M tokens the session width
    # wins and the plan is unchanged.
    n_tokens = enc.agg(F.sum(F.size("__t"))).first()[0] or 0
    session_w = batch_width(enc.sparkSession)
    pack_width = min(4096, max(session_w, -(-n_tokens // 2_000_000)))
    base = pack_sequences(
        enc, F.size("__t"), budget=budget, n_shards=n_shards, id_col=id_col
    )
    joined = base.join(enc, id_col)
    placed = joined.select(
        id_col,
        "shard",
        F.posexplode("__t").alias("pos", "tok"),
        (
            F.col("seq_id") * F.lit(budget) + F.col("seq_offset")
        ).alias("__start"),
    ).select(
        id_col,
        "shard",
        "tok",
        F.expr(f"(__start + pos) DIV {int(budget)}").alias("seq_id"),
        ((F.col("__start") + F.col("pos")) % budget).alias("off"),
    )
    if pack_width > session_w:
        placed = placed.repartition(pack_width, "shard", "seq_id")
    return (
        placed.groupBy("shard", "seq_id")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("off", "tok"))),
                lambda s: s["tok"],
            ).alias("tokens"),
        )
        .where(F.size("tokens") == budget)
    )


def pack_token_ids(
    encoded: DataFrame,
    budget: int = 512,
    n_shards: int = 64,
    ids_col: str = "token_ids",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize fixed-length TRAINING SAMPLES from an encoded corpus
    (`bpe_encode`'s (doc_id, token_ids)): documents lie head-to-tail
    per shard in deterministic id order and every output row is one
    sequence of EXACTLY ``budget`` token IDS (each shard's trailing
    partial sequence is dropped — the standard convention).
    `pack_chunks` is the whitespace-token twin; this one packs the
    REAL ids a trainer consumes, closing the chain bpe_train →
    bpe_encode → pack_token_ids → epoch_shuffle/export.

    Same scale shape as `pack_chunks`: one row per corpus token at the
    explode (inherent to materializing samples), then a single keyed
    shuffle; no group outgrows ``budget`` elements.

    Output: (shard, seq_id, n_docs, tokens array<int>).
    """
    enc = encoded.select(id_col, F.col(ids_col).alias("__t"))
    return _pack_token_arrays(enc, budget, n_shards, id_col)


def quota_sample(
    docs: DataFrame,
    total: int,
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-quota stratified sample: apportion a document budget of
    ``total`` across the ``by`` groups by LARGEST-REMAINDER (Hamilton)
    apportionment — quota_g = ⌊total·n_g/N⌋ plus one for the groups
    with the largest remainders until the budget is exact — then take
    each group's quota deterministically (smallest md5(id:quota)
    first, the same engine-portable hash order every sampling op here
    uses). Σ quotas == total EXACTLY (never the ±k drift of
    per-group fractional rounding), each group's share is within one
    doc of proportional, and the whole draw is replayable by an
    external SQL engine — all-integer arithmetic, no rand().

    Scale shape: one map-side-combined groupBy for the counts (rows =
    groups, cluster-trivial), the quota table broadcast-joins back,
    and the draw is ONE hash exchange on the group key with an
    in-partition rank — the same window discipline as epoch_shuffle.
    Groups are assumed far fewer than docs (sources, languages,
    domains); a heavily skewed group only sorts its own partitionful.

    Output: the sampled rows — input columns + (n_group, quota,
    draw_rank).
    """
    n_total = F.sum("n_group").over(Window.partitionBy())
    base = F.expr(f"({int(total)}L * n_group) DIV __n")
    rem = F.expr(f"({int(total)}L * n_group) % __n")
    counts = (
        docs.groupBy(by)
        .agg(F.count("*").alias("n_group"))
        .withColumn("__n", n_total)
        .withColumn("__base", base)
        .withColumn("__rem", rem)
    )
    # top-up the (total - Σ base) largest remainders, ties by group asc
    w_rem = Window.orderBy(F.desc("__rem"), F.asc(by))
    short = F.sum("__base").over(Window.partitionBy())
    quotas = (
        counts.withColumn("__rr", F.row_number().over(w_rem))
        .withColumn("__short", F.lit(total) - short)
        .select(
            by,
            "n_group",
            (
                F.col("__base")
                + F.when(F.col("__rr") <= F.col("__short"), 1).otherwise(0)
            ).cast("long").alias("quota"),
        )
    )
    order = F.md5(
        F.encode(
            F.concat(F.col(id_col).cast("string"), F.lit(":quota")), "UTF-8"
        )
    )
    w_draw = Window.partitionBy(by).orderBy(order.alias("__o"), id_col)
    return (
        docs.join(F.broadcast(quotas), by)
        .withColumn("draw_rank", F.row_number().over(w_draw).cast("long"))
        .where(F.col("draw_rank") <= F.col("quota"))
    )


def compact_plan(
    manifest: DataFrame,
    budget_tokens: int,
    shard_col: str = "shard",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Deterministic shard → bin assignment for small-file compaction:
    shards in id order are virtually concatenated and split at
    ``budget_tokens`` boundaries — ``bin = exclusive-prefix-sum DIV
    budget``. Bins are therefore CONTIGUOUS shard ranges (a compacted
    read order is the original read order), bin ids are dense from 0,
    and every bin's total stays under ``budget + max(shard tokens)``
    (the classic next-fit bound). All-integer arithmetic, so an
    external SQL oracle replays the exact assignment.

    Scale shape: runs on the MANIFEST (one row per shard), so the
    unpartitioned window is over a cluster-trivial frame — thousands
    of rows when the corpus is 100 TB — and costs nothing regardless
    of corpus size. The expensive part is the rewrite
    (`compact_shards`), which this plan keeps to ONE hash exchange.

    Output: manifest columns + ``bin``.
    """
    w = Window.orderBy(shard_col).rowsBetween(Window.unboundedPreceding, -1)
    return (
        manifest.withColumn(
            "__prefix",
            F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long"),
        )
        .withColumn("bin", F.expr(f"__prefix DIV {int(budget_tokens)}L"))
        .drop("__prefix")
    )


def compact_shards(
    spark,
    src_path: str,
    dst_path: str,
    budget_tokens: int = 1 << 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Rewrite an `export_shards` tree into budget-bounded compacted
    bins — the SMALL-FILE maintenance pass every long-lived 100 TB
    corpus store needs: exports sized for write parallelism (or
    incrementally appended) leave shards far below the size a reader
    wants, and a name-node / object store melts under the file count.

    The per-shard token totals are recomputed FROM THE FILES (trust
    nothing about the tree's history), the n_shards-row `compact_plan`
    broadcast-joins onto the rows (no shuffle to plan), and the data
    moves through exactly ONE hash exchange on ``bin`` with an
    in-partition sort (bin, shard, id) that preserves the original
    shard-concatenation read order. `compacted_manifest` + the
    order-free checksum prove the rewrite lossless; bins are hive
    directories (``bin=N/``) so they prune on read like the shards
    they replace (asserted in tests/test_compact.py).

    Returns the plan (shard, n_tokens, bin) for audit.
    """
    return _compact_frame(
        spark.read.parquet(src_path), dst_path, budget_tokens,
        text_col, id_col, mode,
    )


def _compact_frame(
    docs: DataFrame,
    dst_path: str,
    budget_tokens: int,
    text_col: str,
    id_col: str,
    mode: str,
) -> DataFrame:
    """Frame-level compaction core shared by `compact_shards` (a batch
    export tree) and `streaming.export.compact_export` (the committed
    b{N} dirs of a continuous export): ``docs`` must carry a ``shard``
    column; see `compact_shards` for the scale shape."""
    from myasynstreamjoin_spark.functions.text import tokens as _tokens

    docs = docs.withColumn("shard", F.col("shard").cast("long"))
    per_shard = (
        docs.select(
            "shard",
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(_tokens(text_col)))
            .cast("long")
            .alias("__nt"),
        )
        .groupBy("shard")
        .agg(F.sum("__nt").alias("n_tokens"))
    )
    plan = compact_plan(per_shard, budget_tokens)
    assigned = docs.join(F.broadcast(plan.select("shard", "bin")), "shard")
    (
        assigned.repartition(F.col("bin"))
        .sortWithinPartitions("bin", "shard", id_col)
        .write.mode(mode)
        .partitionBy("bin")
        .parquet(dst_path)
    )
    return plan


def compacted_manifest(
    spark, path: str, text_col: str = "text"
) -> DataFrame:
    """Per-bin manifest of a compacted tree, recomputed from the FILES
    with `shard_manifest`'s order-free integer checksum — because the
    checksum is an associative Σ of 32-bit hashes, each bin's value
    must equal the sum of its constituent shards' manifest values, so
    source-manifest vs compacted-manifest agreement proves the rewrite
    dropped and duplicated nothing.

    Output: (bin, n_shards, n_docs, n_tokens, checksum); one
    map-side-combined groupBy, n_bins rows out.
    """
    from myasynstreamjoin_spark.functions.dedup import md5_32
    from myasynstreamjoin_spark.functions.text import normalized
    from myasynstreamjoin_spark.functions.text import tokens as _tokens

    docs = spark.read.parquet(path)
    t = F.coalesce(F.col(text_col), F.lit(""))
    return (
        docs.select(
            F.col("bin").cast("long").alias("bin"),
            F.col("shard").cast("long").alias("shard"),
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(_tokens(text_col)))
            .cast("long")
            .alias("__nt"),
            md5_32(normalized(t)).alias("__h"),
        )
        .groupBy("bin")
        .agg(
            F.countDistinct("shard").alias("n_shards"),
            F.count("*").alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.sum("__h").alias("checksum"),
        )
    )


def dataset_card(docs: DataFrame) -> DataFrame:
    """Per-source dataset card: the one-table summary a corpus ships
    with (HF dataset-card / Datasheets-for-Datasets shape) — doc and
    token volumes, mean quality, English fraction, mean character
    entropy, and the corpus-level duplicated-span fraction, per
    ``source``. Composed from the per-doc operators this package
    already verifies (quality_score, lang_id, char_entropy,
    dup_span_stats, text_stats) joined on doc_id and rolled up.

    Determinism for the three mean columns follows the house rule for
    averages of engine-identical rounded doubles: each per-doc value
    is converted to integer MICRO-units (round ×1e6 — exact, because
    the per-doc values are already 6-decimal-rounded and hash-equal
    across engines), summed as BIGINT (order-free), and divided ONCE
    by count·10⁶ — never a float SUM/AVG, whose association differs
    per engine. dup_frac is the ratio of two integer sums.

    Docs char_entropy/dup_span_stats exclude (NULL/empty text) drop
    from the card via the inner joins — identically in the oracle.

    Scale shape: five doc-keyed joins of per-doc frames that each
    reduce or scan the corpus once, then ONE |sources|-row aggregate;
    at 100 TB the joins co-locate on doc_id and the rollup is a
    map-side-combined groupBy of a handful of integer columns.

    Output: (source, n_docs, n_tokens, n_chars, n_en, avg_quality,
    avg_entropy, dup_frac).
    """
    from myasynstreamjoin_spark.functions.dedup import dup_span_stats
    from myasynstreamjoin_spark.functions.text import (
        char_entropy,
        lang_id,
        quality_score,
        text_stats,
    )

    micro = lambda c: F.round(F.col(c) * F.lit(1e6)).cast("long")  # noqa: E731
    j = (
        docs.select("doc_id", "source")
        .join(quality_score(docs), "doc_id")
        .join(lang_id(docs).select("doc_id", "lang_guess"), "doc_id")
        .join(char_entropy(docs).select("doc_id", "n_chars", "entropy"), "doc_id")
        .join(
            dup_span_stats(docs).select("doc_id", "n_spans", "n_dup_spans"),
            "doc_id",
        )
        .join(text_stats(docs).select("doc_id", "n_tokens"), "doc_id")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(
                F.when(F.col("lang_guess") == "en", 1).otherwise(0)
            ).cast("long").alias("n_en"),
            F.sum(micro("quality")).alias("__q"),
            F.sum(micro("entropy")).alias("__e"),
            F.sum("n_dup_spans").alias("__d"),
            F.sum("n_spans").alias("__s"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_en",
            F.expr("CAST(__q AS DOUBLE) / (n_docs * 1000000.0)").alias(
                "avg_quality"
            ),
            F.expr("CAST(__e AS DOUBLE) / (n_docs * 1000000.0)").alias(
                "avg_entropy"
            ),
            F.expr("CAST(__d AS DOUBLE) / CAST(__s AS DOUBLE)").alias(
                "dup_frac"
            ),
        )
    )


def epoch_curriculum(
    docs: DataFrame,
    stage: Column,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum-ordered epoch: within every shard the read order is
    (stage ASC, seeded shuffle) — easy documents first, hard ones
    later, shuffled *within* each stage so the trainer still sees a
    random stream inside every difficulty band. ``stage`` is any
    integer Column (a quality-score band, a length bucket, a
    perplexity decile from `lm_perplexity` joined in upstream); lower
    runs earlier. The anti-curriculum is ``-stage``.

    Same machinery and guarantees as `epoch_shuffle` (one hash
    exchange on the shard id + in-partition sort, bit-reproducible
    digest order, no float in the sort key) — the stage column simply
    becomes the leading sort key, so stage blocks are contiguous in
    every shard by construction and a resumed loader can seek to a
    stage boundary the same way it seeks to a rank.

    Output: input columns + (shuffle_key, shard, stage,
    curriculum_rank) with rank 1-based within the shard.
    """
    staged = _epoch_stage(docs, seed, n_shards, id_col).withColumn(
        "stage", stage.cast("long")
    )
    w = Window.partitionBy("shard").orderBy("stage", "shuffle_key", id_col)
    return staged.withColumn(
        "curriculum_rank", F.row_number().over(w).cast("long")
    )


def epoch_curriculum_manifest(
    docs: DataFrame,
    stage: Column,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(shard, stage) manifest of a curriculum epoch with the
    order-sensitive checksum (Σ rank × (id mod P), the
    epoch_shuffle_manifest recipe) plus each stage block's rank span.
    Because stages are contiguous within a shard, (rank_from, rank_to)
    spans must tile [1, n_docs] exactly — the invariant a trainer
    checks before trusting a schedule, and together with the checksum
    it pins the complete permutation for an external SQL oracle.

    Same single exchange as the shuffle itself: the groupBy reuses the
    window's hash partitioning on the shard id.

    Output: (shard, stage, n_docs, order_checksum, rank_from,
    rank_to).
    """
    cur = epoch_curriculum(
        docs, stage, seed=seed, n_shards=n_shards, id_col=id_col
    )
    return cur.groupBy("shard", "stage").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.col("curriculum_rank")
            * (F.col(id_col) % F.lit(_EPOCH_CHECKSUM_MOD))
        ).alias("order_checksum"),
        F.min("curriculum_rank").alias("rank_from"),
        F.max("curriculum_rank").alias("rank_to"),
    )


def export_sorted(
    docs: DataFrame,
    path: str,
    order: Column,
    n_shards: int = 16,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus in GLOBAL ``order`` as ``shard=N/``
    parquet directories where shard N's every key precedes shard
    N+1's — the serving layout for ordered consumption (quality-ranked
    curriculum serving, score-bucketed eval slices, merge-ready runs).

    This is the engine's one deliberate RANGE exchange:
    ``repartitionByRange`` samples split points and sorts within
    partitions — a total order WITHOUT a single-reducer global sort,
    the terasort shape. Sampling makes shard MEMBERSHIP run-dependent
    (unlike the hash exports), which is why the verification artifact
    is `sorted_manifest`'s cross-shard boundary invariant rather than
    a per-shard checksum: (min, max) per shard must tile the order
    with no overlap. Ties broken by ``id_col`` so the order itself is
    still deterministic end to end.
    """
    (
        docs.withColumn("__ord", order)
        .repartitionByRange(n_shards, F.col("__ord"), F.col(id_col))
        .sortWithinPartitions("__ord", id_col)
        .withColumn("shard", F.spark_partition_id())
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def sorted_manifest(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Verify an `export_sorted` tree: per shard, row count and the
    (min, max) of the order key — consumers assert max(shard N) ≤
    min(shard N+1) (strict < on the (key, id) pair), which proves the
    global order without re-sorting anything. One scan of the
    statistics columns; shard dirs prune individually."""
    df = spark.read.parquet(path)
    return df.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.min("__ord").alias("min_key"),
        F.max("__ord").alias("max_key"),
        F.min_by(id_col, F.struct("__ord", id_col)).alias("first_id"),
        F.max_by(id_col, F.struct("__ord", id_col)).alias("last_id"),
    )


def select_to_budget(
    docs: DataFrame,
    budget_tokens: int,
    max_repeat: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the waterfilling plan: `plan_data_budget` decides
    how many tokens each domain contributes; this op SELECTS the
    actual documents — per domain, take whole docs in (quality DESC,
    doc_id) order while the running token total has not yet reached
    the domain's effective allocation min(alloc, n_tokens) (the doc
    that crosses the boundary is kept: greedy whole-document cut, the
    rule curation pipelines use because splitting a doc mid-budget is
    worse than a few % overshoot). Allocations beyond one epoch
    (repeat_factor > 1) are an epoch-count concern, not a selection
    one — selection saturates at the domain's own corpus.

    Scale shape: the plan is a |domains|-row broadcast; scoring +
    token counts are map-only; the greedy cut is ONE exchange on the
    domain key with an in-partition cumulative-sum window over NARROW
    doc-grain rows. Output per domain: (source, n_docs_sel,
    tokens_sel, sel_id_sum) with the doc_id checksum pinning WHICH
    docs were chosen, not just how many.
    """
    from pyspark.sql import Window

    from myasynstreamjoin_spark.functions.text import quality_score, tokens

    plan = plan_data_budget(
        docs, budget_tokens, max_repeat, source_col, text_col
    ).select(
        "source",
        F.least(F.col("alloc"), F.col("n_tokens")).alias("__eff"),
    )
    per_doc = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            "doc_id",
            F.col(source_col).alias("source"),
            F.size(tokens(text_col)).cast("long").alias("__toks"),
        )
        .join(quality_score(docs), "doc_id")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = (
        per_doc.join(F.broadcast(plan), "source")
        .withColumn("__cum_prev", F.coalesce(F.sum("__toks").over(w), F.lit(0)))
        .where(F.col("__cum_prev") < F.col("__eff"))
    )
    return sel.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs_sel"),
        F.sum("__toks").cast("long").alias("tokens_sel"),
        F.sum("doc_id").cast("long").alias("sel_id_sum"),
    )


def augment_docs(
    docs: DataFrame,
    p_swap_pct: int = 10,
    p_delete_pct: int = 10,
    salt: str = "aug",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic EDA-style text augmentation (Wei & Zou 2019's
    random-swap + random-deletion, the thesaurus-free pair): produce
    one augmented variant per document with every property rand()
    lacks — reproducible across runs, engines, and stage retries, and
    REPLAYABLE by the oracle, because each decision is an md5 bucket
    of (doc_id, position, salt).

    Semantics (order matters, pinned): (1) SWAP — each disjoint
    adjacent pair (positions 1-2, 3-4, … 1-based) swaps iff the pair's
    first position draws < p_swap_pct of 100; (2) DELETE — each
    position of the swapped stream is dropped iff its own draw <
    p_delete_pct (different salt role, so swap and delete decisions
    are independent). A fully-deleted doc yields ''. Changing ``salt``
    draws an independent variant — run it k times for k-fold
    augmentation.

    Map-only: both stages are higher-order functions over the token
    array (no shuffle, no UDF); the per-token md5 is the same
    replayable draw `hash_split`/`weighted_sample_k` build on.

    Output: (doc_id, n_tokens, n_swapped_pairs, n_deleted, text_aug).
    """
    from myasynstreamjoin_spark.functions.text import tokens

    t_col = tokens(text_col)
    base = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id", t_col.alias("__t")
    )
    t = F.col("__t")
    n = F.size(t)

    def draw(pos: Column, role: str) -> Column:
        # md5 bucket in [0, 100) of (doc_id:pos:role:salt) — exactly
        # reproducible in SQL as CAST('0x'||substr(md5(..),1,8) AS
        # BIGINT) % 100
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            pos.cast("string"),
                            F.lit(role),
                            F.lit(salt),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
        )

    # stage 1: swap disjoint adjacent pairs; position i (1-based) takes
    # its partner's token when the pair fires
    pair_head = lambda i: i - ((i + 1) % 2)  # noqa: E731  (1,2)->1 (3,4)->3
    fire = lambda i: (  # noqa: E731
        draw(pair_head(i), "swap") < F.lit(int(p_swap_pct))
    )
    swapped = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(
            ((i % 2) == 1) & (i < n) & fire(i), F.element_at(t, i + 1)
        )
        .when(((i % 2) == 0) & fire(i), F.element_at(t, i - 1))
        .otherwise(F.element_at(t, i)),
    )
    n_swapped = F.size(
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: ((i % 2) == 1) & (i < n) & fire(i),
        )
    )
    # stage 2: per-position deletion over the swapped stream
    kept_idx = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: draw(i, "del") >= F.lit(int(p_delete_pct)),
    )
    sw = F.col("__sw")
    return (
        base.withColumn("__sw", swapped)
        .withColumn("__n_swapped", n_swapped)
        .select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            F.col("__n_swapped").cast("long").alias("n_swapped_pairs"),
            (n - F.size(kept_idx)).cast("long").alias("n_deleted"),
            F.concat_ws(
                " ",
                F.transform(kept_idx, lambda i: F.element_at(sw, i)),
            ).alias("text_aug"),
        )
    )
