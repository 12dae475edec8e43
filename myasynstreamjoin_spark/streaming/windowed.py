"""Structured Streaming versions of the async-join queries.

This replaces the reference's entire forked mapWithState stack
(SURVEY.md §2.6 T2-T8, ~810 LoC of copied Spark internals at
state/org/apache/spark/streaming/*) with engine-managed primitives:

  punctuation records (T2, state/cluster/naive/HashJoin.scala:54-63)
      → withWatermark (out-of-band, global min across sources)
  trigger time-table min (T3, state/timetable/MyStateJoinUtils.scala:10-66)
      → engine watermark propagation
  emit-on-trigger + state eviction (T4/T5,
      MyMapWithStateWithIndexRDD.scala:62-148)
      → append output mode on a windowed aggregation
  mandatory checkpointing (T8) → checkpointLocation
  in-order assumption (T10) → watermark delay tolerance (strictly better)

The aggregation is keyed by (key, window) — the reference's "optimized
state layout" (state/cluster/optimized/HashJoin.scala:70-108) is how
Structured Streaming keys window state natively.

Zero emission (the else-branch of the reference's completeness check,
state/cluster/naive/HashJoin.scala:91-119) needs no custom state
either: the window's state row holds one conditional count per source,
so ``least`` of them is 0 exactly when some source never reported.
``stream_min_count_per_window(..., emit_zero_if_incomplete=True)``
emits every window some source touched, with that 0; the default keeps
only complete windows. Either way a window is emitted once, when the
watermark passes its end, and its state is evicted with it.

Emission timing differs (micro-batch watermark vs per-partition
punctuation), but the *final* table is identical; tests assert
streaming/batch equivalence on the converged result (SURVEY.md §7
phase 3 risk note).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig
from myasynstreamjoin_spark.session import override_widths, replay_state_partitions
from myasynstreamjoin_spark.sources.tables import normalize_epoch_ns
from myasynstreamjoin_spark.streaming.commits import drain

# The ENGINE's logical events schema: ts is BIGINT epoch-ns (the
# reference's BigInt time model, state/cluster/naive/HashJoin.scala:50).
# Used for engine-written files and createDataFrame fixtures. The
# driver's parquet physical type for ts has drifted across
# regenerations (nanos-as-long vs timestamp[us]); ``stream_events``
# infers the on-disk schema from the parquet footer and normalizes to
# this logical schema, so do NOT use EVENTS_SCHEMA to read driver files.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),  # epoch-ns (engine logical type)
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream (the test-rig replacement for
    the reference's Kafka direct stream, stateless/cluster/HashJoin.scala:64-65;
    in production, swap for readStream.format("kafka") and decode its
    ``value`` column as ``payload`` with fixtures.decode_packed_lines,
    the form ``stream_grammar_min_count`` uses).

    readStream requires an explicit schema; rather than hardcoding the
    parquet physical type (which the driver has changed between rounds),
    take the on-disk schema from the parquet footer, then normalize
    ``ts`` to the engine's BIGINT epoch-ns. Footer-only read — no data
    scan.
    """
    # Served by the load_table cache entry (keyed on file identity, so
    # a driver regeneration re-infers) — the footer is read once, not
    # per streaming construction inside the bench's timed region.
    from myasynstreamjoin_spark.sources.tables import table_file_schema

    file_schema = table_file_schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", 1)
        # events.parquet is a single file; FileStreamSource forces
        # basePath to the source path unless it's a glob, and then
        # requires basePath to be a directory — so glob the file name.
        .option("basePath", sf_dir)
        .parquet(f"{sf_dir}/events.parquet*")
    )
    return normalize_epoch_ns(raw, ("ts",))


def stage_stream_file(df: DataFrame, feed, name: str, mtime: int) -> None:
    """Stage ``df`` as ONE parquet file ``{feed}/{name}`` with a pinned
    mtime: the feed recipe of every maxFilesPerTrigger=1 file-stream
    replay (the streaming twins and their tests). A file stream lists
    its files in mtime order, so the mtimes ARE the micro-batch order."""
    feed = str(feed)
    tmp = feed + f".{name}.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    dst = os.path.join(feed, name)
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (mtime, mtime))


def _event_columns(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The events stream as the min-count operators read it:
    (etime TIMESTAMP, source INT, key STRING), source = user_id mod
    the port count."""
    return events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"),
        (F.col("user_id") % cfg.n_sources).cast("int").alias("source"),
        F.col("event_type").alias("key"),
    )


def stream_min_count_per_window(
    events: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    emit_zero_if_incomplete: bool = False,
) -> DataFrame:
    """Streaming flagship: per (key, tumbling event-time window), min
    across sources of per-source counts, in append mode (emission on
    watermark passage + state eviction — the reference's T4/T5
    semantics). ``emit_zero_if_incomplete`` has the meaning of the
    batch ``operators.asyn_join.min_count_per_window``: False emits
    only complete windows, True also emits the others with min 0.

    Single stateful aggregation: per-source counts are pivoted into one
    conditional-count row per (key, window) — `least` of the source
    counts is the min, zero means incomplete. Output schema matches the
    batch operator: (key, ltw, min_cnt).
    """
    return _windowed_min_count(
        _event_columns(events, cfg), cfg, emit_zero_if_incomplete
    )


def _windowed_min_count(
    with_time: DataFrame, cfg: EngineConfig, emit_zero_if_incomplete: bool = False
) -> DataFrame:
    """The flagship windowed-min-count aggregation over any
    (etime TIMESTAMP, source INT, key STRING) stream — shared by the
    events file stream and the grammar DataSource stream.

    Built as ONE spark.sql string over the watermarked stream (round
    12, guide §7.3): the DataFrame chain paid an analyzer pass per
    transformation plus a py4j round trip per Column
    — measured 138 ms vs 48 ms per construction, and the bench pays
    construction on every timed pass. Expression trees are identical
    (count(CASE WHEN) ≡ count(when()); `/` on longs is double in both;
    schema equality asserted in tests). The source is bound as a
    ``spark.sql`` argument: PySpark registers it under a fresh uuid view
    name, the plan resolves eagerly (Spark Classic), and the view is
    dropped when ``spark.sql`` returns, so two threads building on one
    session never bind each other's source and no view outlives the
    query. Streaming semantics unchanged: the watermark is attached to
    the source's plan BEFORE the stateful aggregation."""
    spark = with_time.sparkSession
    src = with_time.withWatermark("etime", cfg.watermark_delay)
    counts = ", ".join(
        f"count(CASE WHEN source = {r} THEN 1 END) AS c{r}"
        for r in range(cfg.n_sources)
    )
    complete = " AND ".join(f"c{r} > 0" for r in range(cfg.n_sources))
    where = "" if emit_zero_if_incomplete else f"WHERE {complete}"
    least = ", ".join(f"c{r}" for r in range(cfg.n_sources))
    return spark.sql(f"""
      SELECT key,
             CAST(FLOOR(unix_millis(w.start) / {cfg.lgw_ms}) AS LONG) AS ltw,
             CAST(least({least}) AS LONG) AS min_cnt
      FROM (
        SELECT key, window(etime, '{cfg.lgw_ms} milliseconds') AS w, {counts}
        FROM {{src}}
        GROUP BY key, window(etime, '{cfg.lgw_ms} milliseconds')
      )
      {where}
    """, src=src)


def stream_grammar_min_count(
    spark: SparkSession,
    cfg: EngineConfig = DEFAULT_CONFIG,
    **grammar_opts: str,
) -> DataFrame:
    """S1 end-to-end as a STREAM: the reference's packed Kafka wire
    format served by the partitioned grammar DataSourceStreamReader
    (executors generate; driver only plans offsets), decoded by the
    packed-line codec, aggregated by the flagship windowed min-count.
    This is the closest in-sandbox analog of the reference's actual
    topology (Kafka direct stream → flatMap parse → windowed state,
    stateless/cluster/HashJoin.scala:64-66) with engine-managed
    watermarks instead of punctuations."""
    from myasynstreamjoin_spark.sources.fixtures import decode_packed_lines
    from myasynstreamjoin_spark.sources.grammar_source import (
        register_grammar_source,
    )

    register_grammar_source(spark)
    raw = spark.readStream.format("ref_grammar").options(**grammar_opts).load()
    pw = decode_packed_lines(raw.select(F.col("value").alias("payload")))
    with_time = pw.select(
        F.expr("timestamp_millis(ts)").alias("etime"),
        F.col("source").cast("int").alias("source"),
        "key",
    )
    return _windowed_min_count(with_time, cfg)


def stream_min_count_join(
    events: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The J1-as-join formulation (SURVEY.md §2.5, BASELINE.json's
    declared "Structured Streaming joins" approach): each source port
    becomes its own stream, windowed-aggregated to per-source counts,
    and the P aggregated streams are inner-joined on (key, window) —
    the join's inner-ness IS the completeness check (a window missing
    any source produces no row), and `least` across the joined count
    columns is the async-join min.

    This replaces the reference's merged-stream + forked-mapWithState
    pipeline (state/cluster/naive/HashJoin.scala:69-131) with chained
    stateful operators (windowed agg → multi-way stream-stream join),
    which Spark supports natively since the multiple-stateful-operator
    work (spark.sql.streaming.statefulOperator.allowMultiple, set in
    session.py). Scale notes: each per-source agg shuffles on
    (key, window) and so does the join — co-partitioned state, no extra
    exchange; state per side is one row per live (key, window), evicted
    by the watermark.

    Output schema matches the batch/agg formulations: (key, ltw, min_cnt).
    """
    with_time = _event_columns(events, cfg)

    def per_source(r: int) -> DataFrame:
        return (
            with_time.where(F.col("source") == r)
            .withWatermark("etime", cfg.watermark_delay)
            .groupBy("key", F.window("etime", f"{cfg.lgw_ms} milliseconds").alias("w"))
            .agg(F.count("*").alias(f"c{r}"))
        )

    joined = per_source(0)
    for r in range(1, cfg.n_sources):
        joined = joined.join(per_source(r), ["key", "w"], "inner")
    return joined.select(
        "key",
        F.floor(F.unix_millis(F.col("w.start")) / cfg.lgw_ms).cast("long").alias("ltw"),
        F.least(*[F.col(f"c{r}") for r in range(cfg.n_sources)]).cast("long").alias("min_cnt"),
    )


def stream_max_per_window(
    events: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Reference A4 (grouped max via state, one-group-state/cluster/
    RRGrouping.scala:88-96) as a watermarked windowed aggregation: per
    (key, tumbling window) the max of ``value``, emitted and evicted in
    append mode once the watermark passes the window end.

    Output: (key, ltw, val).
    """
    parsed = events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"),
        F.col("event_type").alias("key"),
        "value",
    ).withWatermark("etime", cfg.watermark_delay)
    return (
        parsed.groupBy(
            "key", F.window("etime", f"{cfg.lgw_ms} milliseconds").alias("w")
        )
        .agg(F.max("value").alias("val"))
        .select(
            "key",
            F.floor(F.unix_millis(F.col("w.start")) / cfg.lgw_ms)
            .cast("long")
            .alias("ltw"),
            "val",
        )
    )


def _replay_widths(spark: SparkSession, input_bytes: int | None):
    """The state width a finite replay of ``input_bytes`` starts under
    (see ``run_stream_to_table``)."""
    return override_widths(
        spark, state=replay_state_partitions(spark, input_bytes or 0)
    )


def run_stream_to_parquet(
    streaming_df: DataFrame,
    spark: SparkSession,
    out_path: str,
    partition_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
    input_bytes: int | None = None,
) -> DataFrame:
    """Run a (finite) streaming DataFrame to completion into a
    partitioned parquet sink and return the written data as a batch
    DataFrame — the durable-sink counterpart of ``run_stream_to_table``
    (reference S3/S4: console prints + HDFS checkpoint dir were its
    only persistence).

    Append mode + exactly-once file sink semantics (the checkpoint's
    file manifest, not directory listing, defines the committed set);
    partitioning by a window/date column keeps downstream reads pruned.
    The state width comes from ``input_bytes`` as in
    ``run_stream_to_table``.
    """
    w = (
        streaming_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    drain(w, checkpoint_dir, _replay_widths(spark, input_bytes))
    return spark.read.parquet(out_path)


def run_stream_to_table(
    streaming_df: DataFrame,
    spark: SparkSession,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
    input_bytes: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion over its (finite) file
    source and return the materialized result as a batch DataFrame
    (memory sink + processAllAvailable). The memory sink's temp view
    is dropped before returning: the returned frame's plan already holds
    the sink's rows, so the view would only outlive the query.

    The state width is ``session.replay_state_partitions`` of
    ``input_bytes`` (the replayed volume when the caller knows it, e.g.
    the size of the replayed parquet file; none counts as 0): 1
    partition for small replays, ~1 more per 64 MB, up to the scheduler
    parallelism. Stateful operators commit one state-store file per
    partition per micro-batch, so a finite local replay at the
    200-partition default pays ~50× the state-commit overhead of a
    4-partition run for the same data. Through the FileSystem-API
    checkpoint manager (session.SESSION_CONFS) a commit costs ~4 ms per
    partition per micro-batch on a 4-core box, so at small widths the
    count matters less than it did: the flagship replay at sf0.1 on
    local[4] took 0.55 / 0.63 / 0.60 / 0.59 s (min of 4) at 1 / 2 / 4 /
    8 partitions. The width is set for the query's start only, which
    locks it into the checkpoint; the session value is restored
    afterwards, and a restart from a caller's checkpoint keeps the
    width it was started with.
    """
    name = f"sink_{uuid.uuid4().hex[:12]}"
    try:
        drain(
            streaming_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name),
            checkpoint_dir,
            _replay_widths(spark, input_bytes),
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def stream_sessions(
    events: DataFrame,
    gap: str = "4 hours",
    gap_ms: int = 14_400_000,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming gap-based sessionization: the identical
    `session_window` call as the batch operator (operators/sessions.py)
    under a watermark — session state merges as events arrive and is
    emitted + evicted once the watermark passes session end + gap
    (append mode). A window shape the reference cannot express at all
    (tumbling-only ltw, SURVEY.md §2.6 T1), and in Spark the streaming
    form is the same single-exchange plan as batch.

    Output: (user_id, session_start, session_end, n_events) — epoch-µs
    bounds, one row per closed session.
    """
    parsed = events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"),
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
    ).withWatermark("etime", cfg.watermark_delay)
    return (
        parsed.groupBy("user_id", F.session_window("etime", gap).alias("__sw"))
        .agg(
            F.min("ts_us").alias("session_start"),
            F.max("ts_us").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("__sw")
    )


def stream_sliding_counts(
    events: DataFrame,
    hops: int = 2,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming sliding-window counts: per key, overlapping windows of
    ``hops``·lgw width sliding by lgw — each event lands in ``hops``
    windows. The reference's window model is tumbling-only (T1,
    state/cluster/naive/HashJoin.scala:50); sliding windows fall out of
    the same engine-managed state machinery: Spark expands each row
    into its ``hops`` window assignments BEFORE the stateful agg, and
    append mode emits/evicts a window once the watermark passes its
    end — identical semantics to the batch operator
    (operators/grouping.py sliding path) restricted to closed windows.

    State scale: live state is (#keys × hops) rows per open slide
    position — bounded by the watermark exactly like tumbling state.

    Output: (key, win_start_ms, n).
    """
    width_ms = cfg.lgw_ms * hops
    parsed = events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"),
        F.col("event_type").alias("key"),
    ).withWatermark("etime", cfg.watermark_delay)
    return (
        parsed.groupBy(
            "key",
            F.window(
                "etime", f"{width_ms} milliseconds", f"{cfg.lgw_ms} milliseconds"
            ).alias("w"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            "key",
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "n",
        )
    )


def stream_enriched_segment_counts(
    events: DataFrame,
    customer: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Stream-static enrichment join → windowed aggregation: the
    streaming events enrich against the static customer dimension
    (broadcast hash join — the stream side never shuffles for the
    join), then aggregate per (market segment, tumbling window) under
    the watermark in append mode.

    This is the canonical production composition the reference could
    not express (its only "dimension" was the port id baked into each
    record): in Spark the static side is planned per micro-batch, so a
    dimension table updated in place is re-read batch-over-batch
    without restarting the query. State is bounded exactly as in any
    windowed agg; the join itself is stateless.

    Output: (c_mktsegment, ltw, n_events, total_value).
    """
    parsed = events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"),
        "user_id",
        "value",
    ).withWatermark("etime", cfg.watermark_delay)
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        parsed.join(F.broadcast(dim), parsed["user_id"] == dim["c_custkey"])
        .groupBy(
            "c_mktsegment",
            F.window("etime", f"{cfg.lgw_ms} milliseconds").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "c_mktsegment",
            F.floor(F.unix_millis(F.col("w.start")) / cfg.lgw_ms)
            .cast("long")
            .alias("ltw"),
            "n_events",
            "total_value",
        )
    )


def stream_type_topk(events: DataFrame, k: int = 3) -> DataFrame:
    """Complete-output-mode streaming: running top-k event types by
    total count over the whole stream. Complete mode re-emits the full
    aggregate each trigger, which is what makes sort+limit legal in a
    streaming query — neither is allowed in append mode.

    WRITTEN BOUND (do not use where it doesn't hold): state and
    per-trigger re-emission are O(|distinct key|) — here event_type,
    cardinality ≤ ~10. This operator is for LOW-CARDINALITY running
    leaderboards only and is deliberately excluded from the headline
    bench set. For high-cardinality keys (user_id at 100 TB) complete
    mode is the wrong tool: use update-mode windowed counts
    (``stream_update_type_counts``) compacted batch-side, or a
    foreachBatch top-k merge over watermark-evicted window aggregates —
    both keep state bounded by live windows, not total key count.

    Output: (key, n) — k rows, the final trigger's table.
    """
    return (
        events.select(F.col("event_type").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(k)
    )


def stream_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Genuine stream-stream inner join with a time-interval condition:
    each left event (click) pairs with every right event (purchase) by
    the same user landing in [left_ts, left_ts + within). The reference
    never materializes joined rows at all (SURVEY.md §2.5 — join
    results are only counted); this is the full row-producing join,
    streaming.

    Both sides carry watermarks and the join condition bounds
    right-time against left-time, which is exactly what lets Spark
    evict join state: a buffered left row is droppable once the right
    watermark passes left_ts + within. Without the interval bound the
    state would be unbounded — the condition is the scale design.

    Output: (user_id, click_id, purchase_id, click_ts_us, purchase_ts_us).
    """
    left = (
        events.where(F.col("event_type") == left_type)
        .select(
            F.expr("timestamp_micros(ts DIV 1000)").alias("l_time"),
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("click_id"),
            F.expr("ts DIV 1000").alias("click_ts_us"),
        )
        .withWatermark("l_time", cfg.watermark_delay)
    )
    right = (
        events.where(F.col("event_type") == right_type)
        .select(
            F.expr("timestamp_micros(ts DIV 1000)").alias("r_time"),
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("purchase_id"),
            F.expr("ts DIV 1000").alias("purchase_ts_us"),
        )
        .withWatermark("r_time", cfg.watermark_delay)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_time") >= F.col("l_time"))
        & (F.col("r_time") < F.col("l_time") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(
        F.col("l_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts_us",
        "purchase_ts_us",
    )


def stream_interval_join_outer(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Left-outer variant of stream_interval_join: clicks with no
    purchase in [click, click + within) still emit — with NULL
    purchase columns — once the watermark proves no future match can
    arrive (wm past click + within). Matched pairs emit as they join.

    The outer side is why the watermark is mandatory here, not just a
    state-size optimization: without it the engine could never declare
    a left row unmatched. Finite-replay consequence (mirrored in the
    oracle): unmatched clicks in the last watermark-delay + within of
    the stream never expire and are withheld, exactly as a live query
    would hold them.

    Output: (user_id, click_id, purchase_id?, click_ts_us, purchase_ts_us?).
    """
    left = (
        events.where(F.col("event_type") == left_type)
        .select(
            F.expr("timestamp_micros(ts DIV 1000)").alias("l_time"),
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("click_id"),
            F.expr("ts DIV 1000").alias("click_ts_us"),
        )
        .withWatermark("l_time", cfg.watermark_delay)
    )
    right = (
        events.where(F.col("event_type") == right_type)
        .select(
            F.expr("timestamp_micros(ts DIV 1000)").alias("r_time"),
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("purchase_id"),
            F.expr("ts DIV 1000").alias("purchase_ts_us"),
        )
        .withWatermark("r_time", cfg.watermark_delay)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_time") >= F.col("l_time"))
        & (F.col("r_time") < F.col("l_time") + F.expr(f"INTERVAL {within}")),
        "left_outer",
    ).select(
        F.col("l_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts_us",
        "purchase_ts_us",
    )


def stream_update_type_counts(
    events: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Update-output-mode windowed counts: per (key, tumbling lgw
    window), the running count, re-emitted every trigger the count
    changes. Append mode (the rest of this module) only releases a
    window once the watermark closes it; update mode streams the
    window's evolving value — the reference has no analog (its state
    emits exactly once, on punctuation), so this is engine-forward
    surface: the mode a live dashboard over the same state would use.

    The sink sees an upsert LOG (memory/file sinks append each
    update); the latest row per (key, window) is the truth. Because a
    count under in-order replay is monotone nondecreasing, max(n)
    compacts the log exactly — `compact_update_log` below does this
    batch-side, which is also the 100 TB pattern: update sinks feed a
    keyed store (or a log compacted by `latest_event`-style max_by),
    never a plain append table.

    Output (pre-compaction): (key, ltw, n) — one row per update.
    """
    parsed = events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"),
        F.col("event_type").alias("key"),
    ).withWatermark("etime", cfg.watermark_delay)
    return (
        parsed.groupBy(
            "key", F.window("etime", f"{cfg.lgw_ms} milliseconds").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .select(
            "key",
            (F.unix_millis(F.col("w.start")) / F.lit(cfg.lgw_ms))
            .cast("long")
            .alias("ltw"),
            "n",
        )
    )


def compact_update_log(log: DataFrame) -> DataFrame:
    """Collapse an update-mode sink log to its final value per
    (key, ltw). Counts are monotone under in-order replay, so max(n)
    IS the last update — an O(1)-state aggregate, no window/sort
    needed (same reasoning as operators/relational.py latest_event_maxby).
    """
    return log.groupBy("key", "ltw").agg(F.max("n").alias("n"))


def stream_window_expectations(
    events: DataFrame,
    checks: list[tuple[str, Column]],
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming data-quality monitoring: the batch `expectations`
    operator windowed — per tumbling event-time window, the violation
    count of every rule, emitted in append mode when the watermark
    closes the window (the shape a pipeline alerts on: "bad-row rate
    per window", not a global scan).

    One stateful aggregation regardless of rule count (each rule is a
    conditional count in the same agg — state per window is one row of
    counters); the long-form (check, n_violations) explosion happens
    AFTER the stateful agg, so it adds no state.

    Output: (ltw, check, n_violations, n_events).
    """
    # carry every source column — Catalyst prunes to the ones the
    # predicates actually reference
    with_time = events.select(
        F.expr("timestamp_micros(ts DIV 1000)").alias("etime"), "*"
    )
    # when(pred, 0).otherwise(1) — NOT count(when(~pred, 1)) — so a
    # NULL predicate counts as a violation, matching the batch
    # `expectations` operator exactly (a row you can't validate is a
    # bad row, in both engines and both modes).
    aggs = [
        F.sum(F.when(pred, 0).otherwise(1)).cast("long").alias(f"__v_{name}")
        for name, pred in checks
    ] + [F.count(F.lit(1)).cast("long").alias("n_events")]
    agg = (
        with_time.withWatermark("etime", cfg.watermark_delay)
        .groupBy(F.window("etime", f"{cfg.lgw_ms} milliseconds").alias("w"))
        .agg(*aggs)
    )
    rows = [
        F.struct(
            F.lit(name).alias("check"),
            F.col(f"`__v_{name}`").alias("n_violations"),
        )
        for name, _ in checks
    ]
    return agg.select(
        F.floor(F.unix_millis(F.col("w.start")) / cfg.lgw_ms).cast("long").alias("ltw"),
        F.explode(F.array(*rows)).alias("e"),
        "n_events",
    ).select("ltw", "e.check", "e.n_violations", "n_events")

