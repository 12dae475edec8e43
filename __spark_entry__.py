"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator family from SURVEY.md §2 (plus
the beyond-reference data-pipeline operators), implemented in
``myasynstreamjoin_spark`` and checked against the matching
``oracle_sql()`` DuckDB statement (row-count + schema +
order-insensitive value hash at sf0.01).

Conventions keeping the two engines hash-identical:
- events.ts is normalized to BIGINT epoch-ns at the load boundary
  (sources.tables.normalize_epoch_ns handles both timestamp[us] and
  nanos-as-long parquet — the driver has shipped both); DuckDB's
  type-agnostic epoch_ns(ts) matches on either. Window ids are integer
  division: ltw = floor(ts_ns / lgw_ns), lgw = 1 h (reference
  semantics with the stream.json 1000 ms slot rescaled to the
  fixture's 30-day span).
- double→int conversions use floor() (Spark casts truncate, DuckDB
  casts round); money math runs in DECIMAL and is rounded, then cast
  to DOUBLE; every float output column is round()ed.
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import EngineConfig
from myasynstreamjoin_spark.session import prepare_session
from myasynstreamjoin_spark.sources import fixtures, tables

CFG = EngineConfig()  # lgw = 1 h, 3 sources, m = 12, θ = 0.2
LGW_NS = CFG.lgw_ns
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _prep(spark: SparkSession) -> SparkSession:
    return prepare_session(spark)


def _sql_views(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, str]:
    """View-name map for the single-string SQL query forms (round 12):
    each driver table is registered once per (session, file identity)
    via ``tables.table_view`` and referenced by name thereafter, so a
    warm query construction is ONE py4j call (the ``spark.sql``)
    instead of a py4j round trip per Column/Dataset — guide §7.3, the
    r11-measured ~5× cheaper analysis path. Data still scans from
    parquet on every action; only the name binding is cached."""
    return {n: tables.table_view(spark, sf_dir, n) for n in names}


# --------------------------------------------------------------------
# entry: flagship query (stateful async join, SURVEY.md §7 phase 1)
# --------------------------------------------------------------------

@functools.cache
def _twin_root() -> str:
    """The one dir of this process that every streaming twin stages
    under, removed at interpreter exit: a twin's frame reads lazily
    from its dir, so no twin dir can go before the process does. A
    forked child inherits the root but leaves its removal to the
    owner."""
    import atexit
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="stream_twins_")
    owner = os.getpid()

    def remove() -> None:
        if os.getpid() == owner:
            shutil.rmtree(root, ignore_errors=True)

    atexit.register(remove)
    return root


def _by_parity(df: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
    """Even then odd ``col``: an unordered two-batch split."""
    return df.where(F.col(col) % 2 == 0), df.where(F.col(col) % 2 == 1)


def _at_median(df: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
    """``col`` up to its median, then above it: an ascending split."""
    mid = df.agg(F.expr(f"percentile({col}, 0.5)")).collect()[0][0]
    return df.where(F.col(col) <= mid), df.where(F.col(col) > mid)


def _stream_twin(
    name: str,
    frames,
    run: Callable[[DataFrame, str], object],
    read: Callable[[str], DataFrame],
) -> DataFrame:
    """The recipe of every foreachBatch streaming twin: stage
    ``frames`` as single-file parquet micro-batches with strictly
    increasing mtimes in a new ``stream_{name}_`` dir of the twin root,
    open a maxFilesPerTrigger=1 file stream over them with the first
    frame's schema (which replays them as ordered micro-batches), drain
    it with ``run(stream, work_dir)``, and return ``read(work_dir)``."""
    import os
    import tempfile

    from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

    tmp = tempfile.mkdtemp(prefix=f"stream_{name}_", dir=_twin_root())
    feed = os.path.join(tmp, "feed")
    os.makedirs(feed)
    for i, frame in enumerate(frames):
        stage_stream_file(
            frame, feed, f"f{i}.parquet", 1_700_000_000 + 100 * i
        )
    stream = (
        frames[0].sparkSession.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    work = os.path.join(tmp, "work")
    run(stream, work)
    return read(work)


def entry(spark: SparkSession) -> DataFrame:
    """Per (key, 1h event-time window): min across 3 sources of the
    per-source count, only for windows where every source reported —
    the reference's stateful async stream join
    (state/cluster/naive/HashJoin.scala:69-131)."""
    from myasynstreamjoin_spark.operators.asyn_join import min_count_per_window

    _prep(spark)
    pw = fixtures.ported_words(spark, SMOKE_SF_DIR, CFG)
    return min_count_per_window(pw, CFG)


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------

def _q_min_count_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.asyn_join import min_count_per_key

    _prep(spark)
    return min_count_per_key(fixtures.ported_words(spark, sf_dir, CFG))


def _q_min_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.asyn_join import min_count_per_window

    _prep(spark)
    return min_count_per_window(fixtures.ported_words(spark, sf_dir, CFG), CFG)


def _q_min_count_window_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.asyn_join import min_count_per_window

    _prep(spark)
    return min_count_per_window(
        fixtures.ported_words(spark, sf_dir, CFG), CFG, emit_zero_if_incomplete=True
    )


def _q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.grouping import count_per_key

    _prep(spark)
    return count_per_key(fixtures.keyed_values(spark, sf_dir, CFG))


def _q_salted_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.skew import salted_agg

    _prep(spark)
    kv = fixtures.keyed_values(spark, sf_dir, CFG)
    return salted_agg(kv, ["key"], {"cnt": ("count", "*")}, fanout=16)


def _q_split_skew_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.skew import split_skew_agg

    _prep(spark)
    kv = fixtures.keyed_values(spark, sf_dir, CFG)
    return split_skew_agg(kv, ["key"], {"cnt": ("count", "*")}, fanout=16, cfg=CFG)


def _q_collect_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.grouping import collect_count_per_key

    _prep(spark)
    return collect_count_per_key(fixtures.keyed_values(spark, sf_dir, CFG))


def _q_max_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.grouping import agg_per_window

    _prep(spark)
    return agg_per_window(fixtures.keyed_values(spark, sf_dir, CFG), "max", CFG)


def _q_sum_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.grouping import agg_per_window

    _prep(spark)
    return agg_per_window(fixtures.keyed_values(spark, sf_dir, CFG), "sum", CFG)


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.stats import heavy_hitters

    _prep(spark)
    return heavy_hitters(fixtures.keyed_values(spark, sf_dir, CFG), "key", CFG)


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's sketched form: Count-Min heavy-hitter detection audited
    against the exact 0.2·total/m rule (CMS never under-counts, so
    every exact heavy key must be detected)."""
    from myasynstreamjoin_spark.operators.stats import cms_heavy_hitters_audit

    _prep(spark)
    return cms_heavy_hitters_audit(
        fixtures.keyed_values(spark, sf_dir, CFG), "key", CFG
    )


def _q_skew_p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.stats import skew_p1

    _prep(spark)
    return skew_p1(fixtures.keyed_values(spark, sf_dir, CFG), "key")


def _q_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.stats import batch_stats

    _prep(spark)
    return batch_stats(fixtures.keyed_values(spark, sf_dir, CFG), "key", CFG)


def _q_star_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.star_join import star_cardinality

    _prep(spark)
    return star_cardinality(fixtures.star_rel(spark, sf_dir, CFG))


def _q_star_count_hypercube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.star_join import star_cardinality_hypercube

    _prep(spark)
    return star_cardinality_hypercube(fixtures.star_rel(spark, sf_dir, CFG), cfg=CFG)


def _q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import star_join_count_sql

    _prep(spark)
    return star_join_count_sql(
        spark, _sql_views(spark, sf_dir, "lineitem", "orders", "customer")
    )


def _q_star_join_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing hypercube star join (DuplicateHHJoin.scala:75-115
    with the row replication finished): per-key cardinality of the
    ACTUALLY MATERIALIZED 3-way join over distinct filtered payloads —
    the restriction bounds the per-key cross product so the row
    materialization is feasible at any SF; the oracle is the
    counts-product over the same restricted set."""
    from myasynstreamjoin_spark.operators.star_join import star_join_hypercube_rows

    _prep(spark)
    d = (
        fixtures.star_rel(spark, sf_dir, CFG)
        .select("key", "rel", "value")
        .where(F.col("value") % 8 == 0)
        .distinct()
    )
    return (
        star_join_hypercube_rows(d, cfg=CFG)
        .groupBy("key")
        .agg(F.count("*").alias("card"))
    )


def _q_parse_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P7 parse pipeline: encode F1 rows into the reference's packed
    "ts source key;…" Kafka payloads, decode with explode+split+cast,
    aggregate — proves the text-grammar codec round-trips."""
    from myasynstreamjoin_spark.operators.grouping import count_per_key

    _prep(spark)
    pw = fixtures.ported_words(spark, sf_dir, CFG)
    packed = fixtures.encode_packed_lines(pw.withColumn("pack", F.col("ts") % 64), "pack")
    decoded = fixtures.decode_packed_lines(packed)
    return decoded.groupBy("key").agg(F.count("*").alias("cnt"))


def _q_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 BUILDING orders by revenue (join + agg +
    deterministic top-k). DECIMAL money math, tie-broken by key."""
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import topk_revenue_sql

    _prep(spark)
    return topk_revenue_sql(
        spark, _sql_views(spark, sf_dir, "lineitem", "orders", "customer")
    )


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (DECIMAL-exact, rounded to DOUBLE).
    Single-string SQL form (one py4j call to construct); the DuckDB
    oracle in oracle_sql() is its check."""
    from myasynstreamjoin_spark.operators.sql_forms import tpch_q1_sql

    _prep(spark)
    return tpch_q1_sql(spark, _sql_views(spark, sf_dir, "lineitem"))


def _q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import rollup_pricing

    _prep(spark)
    return rollup_pricing(tables.load_table(spark, sf_dir, "lineitem"))


def _q_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.grouping import count_per_sliding_window

    _prep(spark)
    return count_per_sliding_window(tables.load_table(spark, sf_dir, "events"))


def _q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import promo_revenue

    _prep(spark)
    return promo_revenue(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
    )


def _q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import profile_columns

    _prep(spark)
    return profile_columns(
        tables.load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"],
    )


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.json_ops import props_stats

    _prep(spark)
    return props_stats(tables.load_table(spark, sf_dir, "events"))


def _q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.sessions import event_gaps

    _prep(spark)
    return event_gaps(tables.load_table(spark, sf_dir, "events"))


def _q_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import cube_pricing

    _prep(spark)
    return cube_pricing(tables.load_table(spark, sf_dir, "lineitem"))


def _q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-log compaction: latest event per user, deterministic
    tiebreak."""
    from myasynstreamjoin_spark.operators.relational import latest_snapshot

    _prep(spark)
    # Order on µs, not raw ns: DuckDB truncates parquet NANOS to µs, so
    # a sub-µs-only ordering difference would pick different survivors.
    ev = tables.load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts DIV 1000")
    )
    return latest_snapshot(ev, order_cols=("ts_us", "event_id")).select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
    )


def _q_latest_event_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same compaction via the O(1)-state max_by aggregate — must pick
    the identical survivors as the window form (shared oracle)."""
    from myasynstreamjoin_spark.operators.relational import latest_snapshot_maxby

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts DIV 1000")
    )
    return latest_snapshot_maxby(ev, order_cols=("ts_us", "event_id")).select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
    )


def _q_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import balance_rank_features

    _prep(spark)
    return balance_rank_features(tables.load_table(spark, sf_dir, "customer"))


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import pricing_grouping_sets

    _prep(spark)
    return pricing_grouping_sets(tables.load_table(spark, sf_dir, "lineitem"))


def _q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.stats import approx_percentile_audit

    _prep(spark)
    return approx_percentile_audit(tables.load_table(spark, sf_dir, "events"))


def _q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import national_market_share

    _prep(spark)
    return national_market_share(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
        tables.load_table(spark, sf_dir, "region"),
        tables.load_table(spark, sf_dir, "part"),
    )


def _q_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality monitoring: per-window violation counts of
    three rules over the events stream, append-mode (final-watermark
    emission rule in the oracle)."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_window_expectations,
    )

    _prep(spark)
    checks = [
        ("value_nonneg", F.col("value") >= 0),
        ("value_under_100", F.col("value") <= 100),
        ("type_known", F.col("event_type").isNotNull()),
    ]
    return run_stream_to_table(
        stream_window_expectations(stream_events(spark, sf_dir), checks),
        spark,
    )


def _q_stream_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-output-mode windowed counts, run to completion and
    compacted to the final value per (key, window). Unlike every
    append-mode streaming query here, the oracle has NO watermark
    cutoff: update mode emits evolving counts for still-open windows
    too, so the compacted log equals the full batch aggregate."""
    from myasynstreamjoin_spark.streaming.windowed import (
        compact_update_log,
        run_stream_to_table,
        stream_events,
        stream_update_type_counts,
    )

    _prep(spark)
    log = run_stream_to_table(
        stream_update_type_counts(stream_events(spark, sf_dir)),
        spark,
        output_mode="update",
    )
    return compact_update_log(log)


def _q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (reference: tumbling only) run to
    completion; oracle = batch hop-expansion restricted to windows the
    final watermark closed."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_sliding_counts,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_sliding_counts(stream_events(spark, sf_dir)), spark
    )


def _q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment join → windowed agg; oracle =
    the same join in batch, restricted to watermark-closed windows."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_enriched_segment_counts,
        stream_events,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_enriched_segment_counts(
            stream_events(spark, sf_dir),
            tables.load_table(spark, sf_dir, "customer"),
        ),
        spark,
    )


def _q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode running leaderboard (sort+limit in a
    streaming query); the final trigger's table equals the batch
    answer over the full stream — no watermark cutoff."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_type_topk,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_type_topk(stream_events(spark, sf_dir)),
        spark,
        output_mode="complete",
    )


def _q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-interval bound; the finite
    ts-ordered replay has no late data, so every qualifying pair emits
    and the final table equals the batch interval join."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_interval_join,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_interval_join(stream_events(spark, sf_dir)), spark
    )


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change log → SCD2 validity intervals (full-history counterpart
    of q_latest_event's keep-last compaction)."""
    from myasynstreamjoin_spark.operators.relational import scd2_intervals

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts DIV 1000")
    )
    return scd2_intervals(ev)


def _q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer interval stream-stream join. The oracle's null rows
    are cut at the engine's GLOBAL watermark — the min across BOTH
    filtered streams' watermark nodes (the last click, not the last
    event, governs here), minus the interval bound; Spark truncates
    event-time stats to ms before subtracting the delay."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_interval_join_outer,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_interval_join_outer(stream_events(spark, sf_dir)), spark
    )


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed k-means fit (rows-only: DuckDB can't
    replay Lloyd iterations; invariants pinned in tests/test_kmeans.py)."""
    from myasynstreamjoin_spark.functions.similarity import kmeans_fit

    _prep(spark)
    return kmeans_fit(
        tables.load_table(spark, sf_dir, "embeddings"), k=8, n_iters=6
    )


def _q_grammar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: the reference's packed Kafka text grammar served
    by the custom Python DataSource, decoded by the tested codec, and
    aggregated by the stateless async-join operator. The generator's
    key choice is a per-record md5 (grammar_source._records), so the
    DuckDB oracle regenerates the identical record set in SQL and
    verifies the aggregate values — not just that rows ran."""
    from myasynstreamjoin_spark.operators.asyn_join import min_count_per_key
    from myasynstreamjoin_spark.sources.grammar_source import (
        register_grammar_source,
    )

    _prep(spark)
    register_grammar_source(spark)
    raw = (
        spark.read.format("ref_grammar")
        .options(messages="200", records_per_message="8", partitions="4")
        .load()
    )
    pw = fixtures.decode_packed_lines(
        raw.select(F.col("value").alias("payload"))
    )
    return min_count_per_key(pw)


def _q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse relational time-series cosine: similar users by daily
    activity series (threshold boundary is a float compare — crafted
    to sit far from any pair at fixture scale)."""
    from myasynstreamjoin_spark.operators.timeseries import series_cosine_pairs

    _prep(spark)
    return series_cosine_pairs(
        tables.load_table(spark, sf_dir, "events"), threshold=0.8
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (src2+) sharing an 8-gram
    with a 'benchmark' doc (src0/src1)."""
    from myasynstreamjoin_spark.functions.dedup import contamination_pairs

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    return contamination_pairs(
        docs.where(~F.col("source").isin(*bench_sources)),
        docs.where(F.col("source").isin(*bench_sources)),
        k=8,
    )


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark leak report: the train corpus screened against
    TWO suites (src0, src1) in one broadcast pass — per suite, its doc
    count, leaked-train-doc count, and distinct-gram hit count
    (functions/dedup.py::contamination_report)."""
    from myasynstreamjoin_spark.functions.dedup import contamination_report

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    bench = docs.where(F.col("source").isin(*bench_sources)).withColumn(
        "bench", F.col("source")
    )
    return contamination_report(
        docs.where(~F.col("source").isin(*bench_sources)), bench, k=8
    )


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.text import repetition_stats

    _prep(spark)
    return repetition_stats(tables.load_table(spark, sf_dir, "documents"))


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.pipeline import chunk_documents

    _prep(spark)
    return chunk_documents(
        tables.load_table(spark, sf_dir, "documents"), chunk_size=64, overlap=8
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N mapInPandas frame-sampling plumbing: per media, frame count
    and final sampled offset (both derivable from payload length, so
    the Python-worker path is value-checked end to end)."""
    from myasynstreamjoin_spark.functions.multimodal import (
        documents_as_media,
        sample_frames,
    )

    _prep(spark)
    media = documents_as_media(tables.load_table(spark, sf_dir, "documents"))
    return sample_frames(media, every_n_bytes=64).groupBy("media_id").agg(
        F.count("*").alias("n_frames"), F.max("offset").alias("last_offset")
    )


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end: documents become genuine WAV/PPM/
    BMP payloads (text bytes as the body, correct binary headers), and
    ``decode_media_headers`` parses the actual bytes — no fake path, no
    codec stub. Every extracted field is an arithmetic function of
    octet_length(text), so the oracle predicts the full output."""
    from myasynstreamjoin_spark.functions.multimodal import (
        decode_media_headers,
        synthetic_media,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return decode_media_headers(synthetic_media(docs))


def _q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup over REAL decoded pixels: aHash (8×8
    integer block means) of each PPM/BMP payload, 4×16-bit banded
    Hamming LSH for candidates, exact bit_count verify — lossless for
    distance ≤ 3 by pigeonhole
    (functions/multimodal.py::image_neardup_pairs). rows-only: no SQL
    engine decodes the binary pixels; the hash matches a pure-Python
    reference and the candidate scheme matches brute force in
    tests/test_multimodal_decode.py."""
    from myasynstreamjoin_spark.functions.multimodal import (
        image_neardup_pairs,
        synthetic_media,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return image_neardup_pairs(synthetic_media(docs), max_dist=3)


def _q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: a 97-doc budget apportioned
    across sources by largest remainder (Σ quotas == 97 exactly, each
    source within one doc of proportional), drawn deterministically in
    md5(id:quota) order — all-integer, fully SQL-replayable
    (functions/pipeline.py::quota_sample)."""
    from myasynstreamjoin_spark.functions.pipeline import quota_sample

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 7 != 0
    )
    return quota_sample(docs, 97).select(
        "doc_id", "source", "n_group", "quota", "draw_rank"
    )


def _q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio near-dup over REAL decoded PCM: 64 energy-
    trend bits per WAV (integer frame energies, chromaprint's core
    idea), banded Hamming LSH candidates, exact bit_count verify —
    the audio member of the text/image/audio dedup triple
    (functions/multimodal.py::audio_neardup_pairs). rows-only: no SQL
    engine parses RIFF; the fingerprint matches a pure-Python
    reference and the candidates match brute force in
    tests/test_multimodal_decode.py. The corpus' random-text WAVs have
    genuinely distinct energy trends (zero natural pairs ≤ 12 bits —
    measured), so the query plants exact duplicates (doc_id+9999, a
    multiple of 3 keeps the WAV format class) and must recall every
    one at distance 0."""
    from myasynstreamjoin_spark.functions.multimodal import (
        audio_neardup_pairs,
        synthetic_media,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    dups = docs.where(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 300)
    ).select((F.col("doc_id") + 9999).alias("doc_id"), "text")
    return audio_neardup_pairs(synthetic_media(docs.union(dups)), max_dist=3)


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import topk_per_group

    _prep(spark)
    return topk_per_group(tables.load_table(spark, sf_dir, "customer"), k=3)


def _q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase: top-20 part pairs by shared-order
    count, baskets deduped and bounded."""
    from myasynstreamjoin_spark.operators.relational import copurchase_pairs

    _prep(spark)
    return copurchase_pairs(tables.load_table(spark, sf_dir, "lineitem"), k=20)


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph, 3 integer-microunit value
    iterations unrolled into one plan (operators/graph.py). Consumes
    the once-materialized bucketed edge table — the loop-invariant
    edges⋈deg join is exchange-free on the edges side."""
    from myasynstreamjoin_spark.operators.graph import pagerank_edges

    _prep(spark)
    return pagerank_edges(_graph_edges(spark, sf_dir), n_iters=3, k=20)


def _q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_minhash_pairs: documents arrive in two
    micro-batches (even ids, then odd ids); each batch is checked
    against the accumulated MinHash band index and the per-batch pair
    sinks union to EXACTLY the batch operator's pair set — so the
    stream satisfies the same replayable oracle
    (streaming/neardup.py)."""
    from myasynstreamjoin_spark.streaming.neardup import (
        read_neardup_pairs,
        run_stream_neardup,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return _stream_twin(
        "neardup",
        _by_parity(docs, "doc_id"),
        lambda stream, work: run_stream_neardup(
            stream, spark, work,
            n_hashes=32, bands=8, k=3, threshold=0.2, replayable=True,
        ),
        lambda work: read_neardup_pairs(spark, work),
    )


def _q_stream_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_remove_spans: documents arrive in two
    ASCENDING doc_id ranges, so first-seen canonical order equals the
    batch operator's (doc_id, pos) order and the per-batch cleaned
    sinks union to EXACTLY the batch answer — shared DuckDB oracle
    (streaming/spanremove.py)."""
    from myasynstreamjoin_spark.streaming.spanremove import (
        read_clean_docs,
        run_stream_remove_spans,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return _stream_twin(
        "spans",
        _at_median(docs, "doc_id"),
        lambda stream, work: run_stream_remove_spans(stream, spark, work, k=8),
        lambda work: read_clean_docs(spark, work),
    )


def _q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the decontamination gate: train docs arrive in
    two micro-batches and are filtered against the static src0/src1
    benchmark gram set at ingest; the per-batch clean sinks union to
    EXACTLY the batch operator's clean set (shared oracle)."""
    from myasynstreamjoin_spark.streaming.decontaminate import (
        read_clean_ids,
        run_stream_decontaminate,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    train = docs.where(~F.col("source").isin(*bench_sources)).select(
        "doc_id", "text"
    )
    bench = docs.where(F.col("source").isin(*bench_sources)).select(
        "doc_id", "text"
    )
    return _stream_twin(
        "decon",
        _by_parity(train, "doc_id"),
        lambda stream, work: run_stream_decontaminate(
            stream, spark, bench, work, k=8
        ),
        lambda work: read_clean_ids(spark, work),
    )


def _q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of events.value between the even-id
    epoch (reference) and the odd-id epoch (current) — the standard
    drift monitor, nano-unit integer sums (operators/stats.py)."""
    from myasynstreamjoin_spark.operators.stats import (
        population_stability_index,
    )

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    return population_stability_index(
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
    )


def _q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares TREND of value over hour index —
    exact-BIGINT sufficient statistics, one IEEE division per output
    (no float ever accumulates); x is rebased to the table's own min
    hour so Σx² stays far inside BIGINT at any scale
    (operators/stats.py::linear_trend)."""
    from myasynstreamjoin_spark.operators.stats import linear_trend

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    base = ev.where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.expr("ts DIV 3600000000000L").alias("h"),
        F.round(F.col("value") * 1000).cast("long").alias("yq"),
    )
    mn = base.agg(F.min("h").alias("mn"))
    return linear_trend(
        base.crossJoin(F.broadcast(mn)),
        "event_type",
        F.col("h") - F.col("mn"),
        F.col("yq"),
    )


def _q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema: orphan + null-fk
    counts for the TPC-H key chain (lineitem→orders→customer→nation→
    region, lineitem→part/supplier) plus the synthetic links
    (events.user_id→customer, embeddings.vec_id→documents) — the
    trust-the-joins preflight (operators/relational.py::
    fk_orphan_audit)."""
    from myasynstreamjoin_spark.operators.relational import fk_orphan_audit

    _prep(spark)
    t = {
        n: tables.load_table(spark, sf_dir, n)
        for n in (
            "lineitem orders customer supplier part nation region "
            "events documents embeddings"
        ).split()
    }
    return fk_orphan_audit(
        [
            ("lineitem->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
            ("lineitem->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
            ("lineitem->supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
            ("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
            ("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
            ("supplier->nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
            ("nation->region", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
            ("events->customer", t["events"], "user_id", t["customer"], "c_custkey"),
            ("embeddings->documents", t["embeddings"], "vec_id", t["documents"], "doc_id"),
        ]
    )


def _q_drift_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift TIMELINE: every 1-hour event-time window of
    events.value scored against its predecessor window in ONE corpus
    pass (global fixed-point bucket bounds, per-(window, bucket)
    counts, self-join on window−1) — the continuous monitoring form of
    q_psi; nano-unit integer fold closed with one DIV
    (operators/stats.py::drift_timeline)."""
    from myasynstreamjoin_spark.operators.stats import drift_timeline

    _prep(spark)
    return drift_timeline(tables.load_table(spark, sf_dir, "events"))


def _q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (0.75·bigram-MLE + 0.25·
    add-one unigram; doc-initial tokens unigram-only) — the KenLM-
    shaped fluency gate (functions/text.py)."""
    from myasynstreamjoin_spark.functions.text import lm_perplexity_bigram

    _prep(spark)
    return lm_perplexity_bigram(tables.load_table(spark, sf_dir, "documents"))


def _q_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the scalable dedup path: banded MinHash-LSH
    pairs vs the exact inverted-index Jaccard pairs at the same
    threshold. Verified candidates make precision 1 BY CONSTRUCTION
    (asserted by the oracle's exact counts); recall measures what the
    banding misses — the number a pipeline owner tunes bands/hashes
    against. Exact-integer counts; two correctly-rounded divisions."""
    from myasynstreamjoin_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    # each pair pipeline feeds two consumers (its count + the overlap
    # semi-join) — checkpoint so the expensive passes run once
    # (SCALE.md persist-vs-checkpoint rule)
    exact = (
        ngram_jaccard_pairs(docs, k=3, threshold=0.2)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    lsh = (
        minhash_lsh_pairs(
            docs, n_hashes=32, bands=8, verify_threshold=0.2, replayable=True
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    common = lsh.join(exact, ["doc_a", "doc_b"], "left_semi")
    return (
        lsh.agg(F.count("*").alias("n_lsh"))
        .crossJoin(F.broadcast(common.agg(F.count("*").alias("n_common"))))
        .crossJoin(F.broadcast(exact.agg(F.count("*").alias("n_exact"))))
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_lsh").cast("double"),
                6,
            ).alias("precision"),
            F.round(
                F.col("n_common").cast("double") / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def _q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Δ-maintenance of a per-customer order-count view: build the
    view over the base subset (orderkey % 5 != 0), apply a derived
    change feed (inserts: % 5 == 0; deletes: % 7 == 0 within the
    base), and the refreshed view must equal the oracle's from-scratch
    recompute over the post-feed row set (operators/cdc.py)."""
    from myasynstreamjoin_spark.operators.cdc import incremental_agg_refresh

    _prep(spark)
    orders = tables.load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.where(k % 5 != 0)
    old = base.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    feed = (
        orders.where(k % 5 == 0)
        .select("o_custkey", F.lit("I").alias("op"))
        .unionByName(
            base.where(k % 7 == 0).select(
                "o_custkey", F.lit("D").alias("op")
            )
        )
    )
    return incremental_agg_refresh(old, feed, keys=("o_custkey",))


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-arrival autocorrelation per event type, lags 1–24 — the
    seasonality detector, with exact integer numerators/denominators
    (operators/timeseries.py)."""
    from myasynstreamjoin_spark.operators.timeseries import (
        event_autocorrelation,
    )

    _prep(spark)
    return event_autocorrelation(tables.load_table(spark, sf_dir, "events"))


def _q_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-feature assembly: every per-document quality signal
    (stats, quality, langid, repetition, LM perplexity) joined into
    one wide training frame — the feature-matrix stage of a quality-
    classifier pipeline. All component passes are map-only or
    broadcast; the joins co-partition on doc_id."""
    from myasynstreamjoin_spark.functions.text import (
        lang_id,
        lm_perplexity,
        quality_score,
        repetition_stats,
        text_stats,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return (
        text_stats(docs)
        .select("doc_id", "n_tokens", "n_distinct_tokens", "avg_token_len")
        .join(quality_score(docs), "doc_id")
        .join(lang_id(docs).select("doc_id", "en_ratio", "lang_guess"), "doc_id")
        .join(repetition_stats(docs).select("doc_id", "rep_ratio"), "doc_id")
        .join(lm_perplexity(docs).select("doc_id", "nll", "ppl"), "doc_id")
    )


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality gate: logistic regression fit by full-batch
    GD on the q_doc_features signals against the heuristic quality
    gate as weak label (self-distillation), reported per source.
    rows-only: an iterative float fit has no SQL oracle — invariant
    pytests (loss decreases, separable data recovered, determinism)
    stand in (functions/classifier.py, tests/test_classifier.py)."""
    from myasynstreamjoin_spark.functions.classifier import (
        quality_classifier_report,
    )

    _prep(spark)
    feats = _q_doc_features(spark, sf_dir).join(
        tables.load_table(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
    )
    cols = ["n_tokens", "n_distinct_tokens", "avg_token_len", "en_ratio",
            "rep_ratio", "nll"]
    return quality_classifier_report(
        feats, cols, weak_label=F.col("quality") >= 0.5, iters=15
    ).orderBy("source")


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (functions/bpe.py): corpus
    scanned once into word frequencies, 16 merge iterations on the
    vocabulary-sized table. rows-only: an iterative argmax has no SQL
    replay; pytest pins it against a pure-Python reference BPE."""
    from myasynstreamjoin_spark.functions.bpe import bpe_train

    _prep(spark)
    return bpe_train(tables.load_table(spark, sf_dir, "documents"), n_merges=16)


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODE under a trained BPE tokenizer — train 16 merges,
    then tokenize every document to ids the scale-right way: the merge
    loop runs once per DISTINCT word (vocab-sized mapInPandas), word →
    ids joins back onto the occurrence stream, flatten in word order
    (functions/bpe.py::bpe_encode). Emits an integer digest per doc
    (count + order-sensitive id checksum) rather than the raw arrays.
    rows-only: the merge loop has no SQL replay; parity with the
    per-occurrence path and the decode round trip are pinned in
    tests/test_bpe.py."""
    from myasynstreamjoin_spark.functions.bpe import bpe_encode, bpe_train

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=16).orderBy("step").collect()
    ]
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.aggregate(
            F.zip_with(
                F.sequence(F.lit(1), F.size("token_ids")),
                F.col("token_ids"),
                lambda i, t: i * (t.cast("long") % F.lit(1_000_003)),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("ids_checksum"),
    )


def _q_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer chain composed end-to-end: train 16 BPE merges,
    encode the corpus to ids (vocab-once), materialize 128-id training
    samples (pack_token_ids), and roll up one integer digest row per
    shard — n_seqs, docs contributing, and an order-sensitive Σ over
    every packed id, so any slip anywhere in train → encode → pack
    moves a value. rows-only (BPE has no SQL replay); every stage is
    pinned alone in tests/test_bpe.py + test_pack_chunks.py."""
    from myasynstreamjoin_spark.functions.bpe import bpe_encode, bpe_train
    from myasynstreamjoin_spark.functions.pipeline import pack_token_ids

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=16).orderBy("step").collect()
    ]
    packed = pack_token_ids(
        bpe_encode(docs, merges), budget=128, n_shards=8
    )
    return packed.groupBy("shard").agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_docs").alias("n_doc_slots"),
        F.sum(
            F.aggregate(
                F.zip_with(
                    F.sequence(F.lit(1), F.size("tokens")),
                    F.col("tokens"),
                    lambda i, t: i * (t.cast("long") % F.lit(1_000_003)),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).alias("ids_checksum"),
    )


def _q_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file data-skipping manifest over the events table: the
    min/max/count stats a lakehouse catalog keeps so filtered scans
    prune files before opening them (operators/zorder.py)."""
    from myasynstreamjoin_spark.operators.zorder import file_skipping_stats

    _prep(spark)
    return file_skipping_stats(
        spark, f"{sf_dir}/events.parquet", ["event_id", "value"]
    )


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of events.value in exact integer bucket
    arithmetic — float floor((x-min)/width) flips at ulp boundaries;
    integer milli-units cannot (operators/relational.py)."""
    from myasynstreamjoin_spark.operators.relational import (
        equi_width_histogram,
    )

    _prep(spark)
    return equi_width_histogram(
        tables.load_table(spark, sf_dir, "events"), "value", n_buckets=20
    )


def _q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA top-8 projection of the embedding corpus (covariance →
    driver eigh → Arrow matmul projection). rows-only: LAPACK eigen
    isn't SQL-replayable; invariants (orthonormal basis, variance =
    eigenvalue, rotation preserves norms) are pytest-pinned."""
    from myasynstreamjoin_spark.functions.embeddings import pca_project

    _prep(spark)
    projected, _, _ = pca_project(
        tables.load_table(spark, sf_dir, "embeddings"), k=8
    )
    return projected


def _q_domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(p_source || p_corpus) over unigram distributions
    — the domain-drift monitor, in nano-nat integer sums
    (functions/text.py)."""
    from myasynstreamjoin_spark.functions.text import domain_kl

    _prep(spark)
    return domain_kl(tables.load_table(spark, sf_dir, "documents"))


def _q_embed_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the 64 embedding dimensions: per-Arrow-
    batch integer Gram matmuls reduced in DECIMAL(38,0), covariance as
    one exact-integer cross-multiplication — distributed linear
    algebra with zero float accumulation (functions/embeddings.py)."""
    from myasynstreamjoin_spark.functions.embeddings import (
        embedding_covariance,
    )

    _prep(spark)
    return embedding_covariance(tables.load_table(spark, sf_dir, "embeddings"))


def _q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 UDTF tier: lateral sentence-splitting table function over
    documents (functions/udtf_ops.py). Declarative ops remain the fast
    path; this pins the row-expanding Python API's correctness."""
    from myasynstreamjoin_spark.functions.udtf_ops import split_sentences

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return split_sentences(spark, docs)


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted selection: Efraimidis–Spirakis top-50 by
    u^(1/quality) with hash-derived uniforms — deterministic weighted
    sampling without replacement (functions/pipeline.py)."""
    from myasynstreamjoin_spark.functions.pipeline import weighted_sample_k
    from myasynstreamjoin_spark.functions.text import quality_score

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    scored = quality_score(docs)
    return weighted_sample_k(scored, "quality", k=50).orderBy("doc_id")


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5/Pile α-sampling audit: per source, raw size vs rows kept by
    the temperature-flattened (α=0.3) mixture at target 300. Weights
    normalize through integer micro-units so both engines derive the
    identical survivor set (functions/pipeline.py)."""
    from myasynstreamjoin_spark.functions.pipeline import (
        temperature_mixture_sample,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    sampled = temperature_mixture_sample(
        docs, "source", alpha=0.3, target_total=300
    )
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    n_kept = sampled.groupBy("source").agg(F.count("*").alias("n_sampled"))
    return n_docs.join(n_kept, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
    )


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ('slow hash batch') with per-doc occurrence
    counts: map-only shifted-slice zip in the engine, positional-index
    self-joins in the oracle — two formulations, one answer."""
    from myasynstreamjoin_spark.functions.retrieval import phrase_search

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "slow hash batch")


def _q_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|x − μ| > 3σ) in exact integer
    arithmetic — no float mean/variance, so the flagged set is
    bit-identical across engines (operators/stats.py)."""
    from myasynstreamjoin_spark.operators.stats import zscore_outliers

    _prep(spark)
    return zscore_outliers(tables.load_table(spark, sf_dir, "events"))


#: (application id, sf_dir) → materialized bucketed edge-table name.
_GRAPH_EDGE_TABLES: dict[tuple[str, str], str] = {}


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the directed co-purchase edge list ONCE per
    (session, sf_dir) as a bucketed catalog table and serve every graph
    query from that scan. The per-query inline edge build is the shape
    the sf3 probe kills (SCALEPROBE_r05_sf3.json: pagerank inline =
    SparkOutOfMemoryError at 71.8 M edges, prebuilt path completes) —
    at 100 TB the edge shuffle is paid once per ingest, not once per
    query."""
    import hashlib
    import os
    import tempfile

    from myasynstreamjoin_spark.operators.graph import (
        read_copurchase_edges,
        write_copurchase_edges,
    )

    sf_abs = os.path.abspath(sf_dir)
    key = (spark.sparkContext.applicationId, sf_abs)
    table = _GRAPH_EDGE_TABLES.get(key)
    if table is None:
        table = "copurchase_edges_" + hashlib.md5(sf_abs.encode()).hexdigest()[:8]
        if not spark.catalog.tableExists(table):
            tmp = tempfile.mkdtemp(prefix="graph_edges_")
            write_copurchase_edges(
                tables.load_table(spark, sf_dir, "lineitem"),
                table,
                n_buckets=16,
                path=os.path.join(tmp, "edges"),
            )
        _GRAPH_EDGE_TABLES[key] = table
    return read_copurchase_edges(spark, table)


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph via degree-ordered
    orientation (wedges enumerated at each edge's lower-degree end,
    closed by a semi-join) — each triangle counted exactly once.
    Consumes the once-materialized bucketed edge table."""
    from myasynstreamjoin_spark.operators.graph import triangle_count_edges

    _prep(spark)
    return triangle_count_edges(_graph_edges(spark, sf_dir))


def _q_edge_table_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized graph path end-to-end under the driver's eye:
    write the directed co-purchase edge list as a BUCKETED catalog
    table (operators/graph.py::write_copurchase_edges), read it back
    through the catalog, and report the top-20 out-degrees — the
    degree aggregation runs exchange-free on the bucket key
    (plan-locked in tests/test_graph_edges.py)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.operators.graph import (
        read_copurchase_edges,
        write_copurchase_edges,
    )

    _prep(spark)
    table = "q_edge_degrees_tmp"
    tmp = tempfile.mkdtemp(prefix="edge_degrees_")
    write_copurchase_edges(
        tables.load_table(spark, sf_dir, "lineitem"),
        table,
        n_buckets=16,
        path=os.path.join(tmp, "edges"),
    )
    edges = read_copurchase_edges(spark, table)
    return (
        edges.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .orderBy(F.col("degree").desc(), F.col("src"))
        .limit(20)
    )


def _q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-filter eval: confusion matrix of the stopword-ratio
    langid heuristic against the labeled lang column."""
    from myasynstreamjoin_spark.functions.text import langid_eval

    _prep(spark)
    return langid_eval(tables.load_table(spark, sf_dir, "documents"))


def _q_domain_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus comparison: top-20 terms over-represented in src0/src1
    vs the rest by add-1 log-odds (exact integer counts)."""
    from myasynstreamjoin_spark.functions.retrieval import log_odds_terms

    _prep(spark)
    return log_odds_terms(
        tables.load_table(spark, sf_dir, "documents"), ("src0", "src1"), k=20
    )


def _q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: top-20 consecutive 3-event-type
    paths across users (ordered by ts, event_id ties)."""
    from myasynstreamjoin_spark.operators.sessions import top_event_sequences

    _prep(spark)
    return top_event_sequences(tables.load_table(spark, sf_dir, "events"), n=3, k=20)


def _q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over orders: 4 row-level
    predicates + a key-uniqueness check, all in ONE wide aggregate
    (one scan regardless of rule count). The price-cap rule is
    deliberately violated by the data — violations are counted, not
    raised."""
    from myasynstreamjoin_spark.operators.relational import expectations

    _prep(spark)
    orders = tables.load_table(spark, sf_dir, "orders")
    return expectations(
        orders,
        checks=[
            ("price_positive", F.col("o_totalprice") > 0),
            ("price_under_cap", F.col("o_totalprice") <= 300000),
            ("custkey_not_null", F.col("o_custkey").isNotNull()),
            ("status_known", F.col("o_orderstatus").isin("O", "F", "P")),
        ],
        unique_cols=["o_orderkey"],
    )


def _q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import distinct_users_per_type

    _prep(spark)
    return distinct_users_per_type(tables.load_table(spark, sf_dir, "events"))


def _q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import repeat_customers

    _prep(spark)
    return repeat_customers(tables.load_table(spark, sf_dir, "orders"))


def _q_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import churned_customers

    _prep(spark)
    return churned_customers(tables.load_table(spark, sf_dir, "orders"))


def _q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import regional_revenue_sql

    _prep(spark)
    return regional_revenue_sql(
        spark,
        _sql_views(spark, sf_dir, "customer", "orders", "lineitem",
                   "supplier", "nation", "region"),
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's latest purchase at
    or before it (point-in-time lookup). Purchases pre-deduplicated to
    one row per (user, ts) for deterministic tie handling."""
    from myasynstreamjoin_spark.operators.asof import asof_join

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    # Work at µs precision: DuckDB reads the parquet ns-timestamps as
    # µs TIMESTAMP, so ns values could never round-trip the oracle.
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("click_ts")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.expr("ts div 1000").alias("ts"))
        .agg(F.round(F.max("value"), 4).alias("val"))
    )
    out = asof_join(
        clicks, purchases, on=["user_id"],
        left_ts="click_ts", right_ts="ts", right_vals=["val"],
    )
    return out.select(
        "user_id", "event_id", "click_ts",
        F.col("r_ts").alias("purchase_ts"), F.col("r_val").alias("purchase_val"),
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: one row per (user, session), sessions
    closing after 4 idle hours. Native session_window — one exchange,
    sort-local merge, streaming-ready."""
    from myasynstreamjoin_spark.operators.sessions import sessionize

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us"), "value"
    )
    return sessionize(
        ev, keys=["user_id"], ts_us="ts_us", gap="4 hours",
        aggs=[F.round(F.sum("value"), 4).alias("total_value")],
    )


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: per order, how many lineitems (any order) shipped
    within 2 days of its order date. Bucketized equi-join — no
    nested-loop cross product.

    Pre-aggregation rewrite (the scale-critical half of the pattern):
    every order's window overlaps every other's, so joining raw
    lineitems is inherently quasi-quadratic (~200 M intermediate pairs
    at sf0.1 for a 150 k-row answer). Because the consumer only COUNTS,
    points collapse to (day, cnt) first — |distinct days| rows — and
    the range join matches day-counts to windows, weighting by cnt.
    Same result, intermediate shrinks ~500× (27 s → sub-second at
    sf0.1); the identity-preserving pairs form remains `range_join`'s
    direct output for consumers that need the rows."""
    from myasynstreamjoin_spark.operators.rangejoin import range_join

    _prep(spark)
    epoch = F.to_date(F.lit("1970-01-01"))
    o = tables.load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("start_d"),
    ).withColumn("end_d", F.col("start_d") + F.lit(2))
    li_days = (
        tables.load_table(spark, sf_dir, "lineitem")
        .select(F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("ship_d"))
        .groupBy("ship_d")
        .agg(F.count("*").alias("day_cnt"))
    )
    pairs = range_join(li_days, o, point_col="ship_d", start_col="start_d",
                       end_col="end_d", bucket_width=4)
    return pairs.groupBy("o_orderkey").agg(
        F.sum("day_cnt").cast("long").alias("n_shipped")
    )


def _q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import small_qty_revenue

    _prep(spark)
    return small_qty_revenue(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
    )


def _q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import large_orders_sql

    _prep(spark)
    return large_orders_sql(
        spark, _sql_views(spark, sf_dir, "lineitem", "orders", "customer")
    )


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import shipping_priority_sql

    _prep(spark)
    return shipping_priority_sql(
        spark, _sql_views(spark, sf_dir, "customer", "orders", "lineitem")
    )


def _q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import (
        late_shipment_priority_counts,
    )

    _prep(spark)
    return late_shipment_priority_counts(
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import bilateral_trade

    _prep(spark)
    return bilateral_trade(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
    )


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import local_supplier_volume_sql

    _prep(spark)
    return local_supplier_volume_sql(
        spark,
        _sql_views(spark, sf_dir, "customer", "orders", "lineitem",
                   "supplier", "nation", "region"),
    )


def _q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import returned_item_revenue

    _prep(spark)
    return returned_item_revenue(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "nation"),
    )


def _q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import late_shipment_mode_split

    _prep(spark)
    return late_shipment_mode_split(
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import (
        order_count_distribution_sql,
    )

    _prep(spark)
    return order_count_distribution_sql(
        spark, _sql_views(spark, sf_dir, "customer", "orders")
    )


def _q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import top_suppliers

    _prep(spark)
    return top_suppliers(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "supplier"),
    )


def _q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import brand_bracket_revenue

    _prep(spark)
    return brand_bracket_revenue(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
    )


def _q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import idle_rich_customers

    _prep(spark)
    return idle_rich_customers(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
    )


def _q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import waiting_suppliers

    _prep(spark)
    return waiting_suppliers(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "supplier"),
    )


def _q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import min_cost_part_supplier

    _prep(spark)
    return min_cost_part_supplier(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
        tables.load_table(spark, sf_dir, "region"),
    )


def _q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-string SQL form (one py4j call to construct); the DuckDB
    # oracle in oracle_sql() is its check
    from myasynstreamjoin_spark.operators.sql_forms import product_type_profit_sql

    _prep(spark)
    return product_type_profit_sql(
        spark,
        _sql_views(spark, sf_dir, "lineitem", "orders", "part",
                   "supplier", "nation"),
    )


def _q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import important_part_values

    _prep(spark)
    return important_part_values(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
    )


def _q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import supplier_count_by_part

    _prep(spark)
    return supplier_count_by_part(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
        tables.load_table(spark, sf_dir, "supplier"),
    )


def _q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.tpch import excess_inventory_suppliers

    _prep(spark)
    return excess_inventory_suppliers(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "part"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
    )


def _q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import rolling_order_revenue

    _prep(spark)
    return rolling_order_revenue(tables.load_table(spark, sf_dir, "orders"))


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.stats import approx_distinct_audit

    _prep(spark)
    return approx_distinct_audit(tables.load_table(spark, sf_dir, "events"))


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark) chained into a
    windowed count: distinct users per (key, window), append mode, run
    to completion; the oracle is batch count(DISTINCT) over ripe
    windows."""
    from myasynstreamjoin_spark.streaming.dedup import stream_distinct_user_counts
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_distinct_user_counts(stream_events(spark, sf_dir), CFG), spark
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import event_type_pivot

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    return event_type_pivot(ev, EVENT_TYPES)


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import value_percentiles

    _prep(spark)
    return value_percentiles(tables.load_table(spark, sf_dir, "events"))


STRATA_FRACTIONS = {"click": 0.5, "error": 0.1, "purchase": 1.0,
                    "signup": 0.25, "view": 0.05}


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum hash sampling, then per-type audit
    aggregates over the surviving rows."""
    from myasynstreamjoin_spark.operators.relational import stratified_sample

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    sampled = stratified_sample(ev, "event_type", "event_id",
                                STRATA_FRACTIONS, n_buckets=100)
    return sampled.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.text import tfidf_top_terms

    _prep(spark)
    return tfidf_top_terms(tables.load_table(spark, sf_dir, "documents"), k=3)


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment, audited per split."""
    from myasynstreamjoin_spark.functions.pipeline import hash_split

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", SPLIT_FRACTIONS).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end-to-end: pack documents into multi-record
    ISO-28500-style blobs, walk them back with the Content-Length-
    framed Arrow parser, and recover (doc_id, text) — the oracle is
    the identity SELECT on documents, so any framing or encoding slip
    shows up as a driver mismatch (sources/warc.py)."""
    from myasynstreamjoin_spark.sources.warc import (
        encode_warc_blobs,
        parse_warc_blobs,
        warc_documents,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return warc_documents(parse_warc_blobs(encode_warc_blobs(docs)))


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document (gibberish gate).
    Oracle-facing grain is the summed nano-nat BIGINT (round-6 advice
    item): per-term nano integers are measured cross-engine-exact on
    the driver datasets (≥2× boundary margin, functions/text.py
    docstring), and the BIGINT sum removes the one remaining micro
    re-rounding boundary — fully integer compare, no float anywhere."""
    from myasynstreamjoin_spark.functions.text import char_entropy

    _prep(spark)
    return char_entropy(
        tables.load_table(spark, sf_dir, "documents"), grain="nano"
    )


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard export manifest (doc count, token count, order-free
    content checksum) over the deterministic md5 shard assignment —
    the verification artifact of functions/pipeline.py::export_shards."""
    from myasynstreamjoin_spark.functions.pipeline import shard_manifest

    _prep(spark)
    return shard_manifest(
        tables.load_table(spark, sf_dir, "documents"), n_shards=16
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing at a 512-token budget."""
    from myasynstreamjoin_spark.functions.pipeline import pack_sequences
    from myasynstreamjoin_spark.functions.text import tokens

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, F.size(tokens("text")), budget=512, n_shards=8)


def _q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training samples: exactly-128-token
    sequences laid head-to-tail per shard in doc_id order, partial
    tails dropped (functions/pipeline.py::pack_chunks — the
    materializer on top of q_pack_sequences' assignment).

    Driver-facing shape: the library emits the raw ``tokens
    array<string>`` column, but the driver's canonicalizer can only
    sort/hash SCALAR cells (r6 red: ``unhashable type:
    numpy.ndarray``), so this registered form replaces the array with
    ``md5(concat_ws(' ', tokens))`` — a deterministic digest both
    engines compute identically; the array API stays unchanged for
    library users, and tests/test_pack_chunks.py pins the raw form."""
    from myasynstreamjoin_spark.functions.pipeline import pack_chunks

    _prep(spark)
    out = pack_chunks(
        tables.load_table(spark, sf_dir, "documents"), budget=128, n_shards=8
    )
    return out.select(
        "shard",
        "seq_id",
        "n_docs",
        F.md5(F.concat_ws(" ", "tokens")).alias("digest"),
    )


def _q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: volumes, English fraction, mean
    quality/entropy (integer micro-unit sums, one division), and the
    corpus-level duplicated-span fraction — the summary table a
    shipped corpus publishes (functions/pipeline.py::dataset_card;
    oracle = the component queries' own oracles CTE-composed)."""
    from myasynstreamjoin_spark.functions.pipeline import dataset_card

    _prep(spark)
    return dataset_card(tables.load_table(spark, sf_dir, "documents"))


def _q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-epoch corpus reshuffle, verified by its per-shard
    manifest with an ORDER-SENSITIVE checksum (Σ rank × doc_id mod P)
    — unlike q_shard_manifest's order-free checksum, this pins the
    PERMUTATION itself, so the oracle replays the exact shuffle order
    a training run would read (functions/pipeline.py::epoch_shuffle)."""
    from myasynstreamjoin_spark.functions.pipeline import epoch_shuffle_manifest

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return epoch_shuffle_manifest(docs, seed=1, n_shards=16)


def _q_epoch_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source interleave (stride scheduling) over the seeded
    epoch shuffle — the deterministic data-mixing read order. Weights
    derive from the source name (suffix mod 4 + 1) so both engines
    compute them without a lookup table; the order-sensitive checksum
    makes the oracle replay the exact interleave
    (functions/pipeline.py::epoch_interleave)."""
    from myasynstreamjoin_spark.functions.pipeline import (
        epoch_interleave_manifest,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    weight = F.expr("CAST(substring(source, 4) AS INT) % 4 + 1")
    return epoch_interleave_manifest(docs, weight, seed=1, n_shards=16)


def _q_epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch export under the oracle's eye: write epoch 2's
    shuffled corpus as shard files (export_epoch), read the TREE back
    (read_epoch), and rebuild the manifest from the persisted
    (shard, shard_rank) columns alone — the oracle replays the
    permutation from scratch, so any export/read slip (dropped rows,
    reordered files, rank corruption) is a driver mismatch
    (functions/pipeline.py::export_epoch/read_epoch)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.functions.pipeline import (
        _EPOCH_CHECKSUM_MOD,
        export_epoch,
        read_epoch,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    tmp = os.path.join(tempfile.mkdtemp(prefix="epoch_rt_"), "epoch2")
    export_epoch(docs, tmp, seed=2, n_shards=16)
    back = read_epoch(spark, tmp)
    return back.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_weight"),
        F.sum(
            F.col("shard_rank") * (F.col("doc_id") % F.lit(_EPOCH_CHECKSUM_MOD))
        ).alias("order_checksum"),
        F.min_by("doc_id", "shard_rank").alias("first_doc"),
        F.max_by("doc_id", "shard_rank").alias("last_doc"),
    )


def _q_compact_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round trip under the oracle: export the
    corpus as 32 hash shards, compact them into token-budget-bounded
    bins (contiguous shard ranges, bin = prefix DIV budget), read the
    COMPACTED tree back and rebuild the per-bin manifest from the
    persisted files — the oracle replays shard assignment, per-shard
    sums, and the prefix-split from the source table, so any row the
    rewrite drops or duplicates flips a count or the order-free
    checksum (functions/pipeline.py::compact_shards)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.functions.pipeline import (
        compact_shards,
        compacted_manifest,
        export_shards,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="compact_")
    src = os.path.join(root, "shards")
    dst = os.path.join(root, "compacted")
    export_shards(docs, src, n_shards=32)
    compact_shards(spark, src, dst, budget_tokens=4096)
    return compacted_manifest(spark, dst)


def _q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (weight 1/n_copies instead of dropping copies): the
    per-source EFFECTIVE corpus size in exact ppm, over a corpus with
    planted cross-source duplicates (the corpus itself has none) —
    the duplication-tax report a data-mix planner reads when hard
    dedup would mis-attribute surviving copies
    (functions/dedup.py::soft_dedup_summary)."""
    from myasynstreamjoin_spark.functions.dedup import soft_dedup_summary

    _prep(spark)
    base = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    c1 = base.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        "text",
        F.lit("dupA").alias("source"),
        "n_chars",
    )
    c2 = base.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        "text",
        F.lit("dupB").alias("source"),
        "n_chars",
    )
    return soft_dedup_summary(base.union(c1).union(c2))


def _q_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared association + Cramér's V between lang and source —
    "is the language mix independent of the source?", answered with
    the nano-unit integer fold over the DENSE contingency grid
    (operators/stats.py::categorical_association)."""
    from myasynstreamjoin_spark.operators.stats import categorical_association

    _prep(spark)
    return categorical_association(
        tables.load_table(spark, sf_dir, "documents"), "lang", "source"
    )


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type winsorized event-value stats: rank-based 5/95
    cut points (order statistics in integer milli-units, never an
    interpolated percentile) and the clamped vs raw sums — one
    shuffle, conditional unbounded windows, no join back
    (operators/stats.py::winsorized_stats)."""
    from myasynstreamjoin_spark.operators.stats import winsorized_stats

    _prep(spark)
    return winsorized_stats(
        tables.load_table(spark, sf_dir, "events"), "event_type", "value"
    )


def _q_epoch_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum epoch schedule: length-bucket stages ordered easy →
    hard within every shard, seeded-shuffled within each stage; the
    manifest pins each stage block's rank span and an order-sensitive
    checksum, so the oracle replays the complete permutation
    (functions/pipeline.py::epoch_curriculum_manifest)."""
    from myasynstreamjoin_spark.functions.pipeline import (
        epoch_curriculum_manifest,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return epoch_curriculum_manifest(
        docs, F.expr("n_chars DIV 40"), seed=1, n_shards=16
    )


def _q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-shard distinct sketches (Apache DataSketches HLL):
    one binary sketch per (event_type, day), unioned into a per-type
    estimate and audited against the exact count — the store-sketches,
    merge-later rollup shape that answers month-level distincts at
    100 TB without rescanning (operators/stats.py::
    distinct_sketch_shards / distinct_sketch_rollup).

    Oracle contract (upgraded from rows-only, round-7 verdict item):
    at the correctness SFs the sketch is in its EXACT coupon regime —
    measured this round: est_merged == countDistinct at sf0.001 (15
    distinct/type) and sf0.01 (150/type), far below lg_k=12's coupon
    capacity; first divergence observed at sf0.1 (1507 vs 1500),
    which only bench (no value compare) touches. The oracle therefore
    pins est_merged = exact distinct count and approx_ok = TRUE.
    Merge losslessness stays pytest-locked (tests/test_robust_stats.py).
    """
    from myasynstreamjoin_spark.operators.stats import (
        distinct_sketch_rollup,
        distinct_sketch_shards,
    )

    _prep(spark)
    events = tables.load_table(spark, sf_dir, "events")
    exact = events.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return distinct_sketch_rollup(
        distinct_sketch_shards(events, "event_type", "user_id"), exact
    )


def _q_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-sorted range-partitioned export under the oracle:
    write shard=N dirs via repartitionByRange (the terasort shape —
    sampled split points, so shard MEMBERSHIP is run-dependent), read
    the tree back and reconstruct each doc's GLOBAL rank from
    per-shard prefix offsets + within-shard rank — which IS
    deterministic, so the oracle is simply row_number over the full
    order. Any boundary overlap, dropped row, or mis-sorted shard
    flips a rank (functions/pipeline.py::export_sorted)."""
    import tempfile

    from pyspark.sql import Window

    from myasynstreamjoin_spark.functions.pipeline import export_sorted

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="sorted_")
    export_sorted(docs, out, F.col("n_chars"), n_shards=8)
    tree = spark.read.parquet(out)
    counts = tree.groupBy("shard").agg(F.count("*").alias("c"))
    offs = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("shard").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    w = Window.partitionBy("shard").orderBy("__ord", "doc_id")
    return (
        tree.withColumn("rn", F.row_number().over(w).cast("long"))
        .join(F.broadcast(offs.select("shard", "off")), "shard")
        .select(
            "doc_id",
            F.col("__ord").cast("long").alias("n_chars"),
            (F.col("off") + F.col("rn")).cast("long").alias("global_rank"),
        )
    )


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negative mining: per anchor vector, the top-5 most-similar
    DIFFERENT-label vectors — the near-miss negatives a contrastive
    trainer wants, filtered BEFORE the ranking window so the k hardest
    are exact (functions/similarity.py::hard_negatives)."""
    from myasynstreamjoin_spark.functions.similarity import hard_negatives

    _prep(spark)
    return hard_negatives(
        tables.load_table(spark, sf_dir, "embeddings"), [0, 1, 2, 3], k=5
    )


def _q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar shard export under the oracle: write the
    corpus as header-normalized shard tars (deterministic member
    order, bit-reproducible archive bytes), read the tree back through
    the binaryFile + tar-walk codec, and return the recovered docs —
    identity by construction, so any member the sink drops, duplicates
    or mis-frames flips the oracle
    (sources/webdataset.py::export_webdataset/read_webdataset)."""
    import tempfile

    from myasynstreamjoin_spark.sources.webdataset import (
        export_webdataset,
        read_webdataset,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = tempfile.mkdtemp(prefix="wds_")
    # auto shard count (~32 MiB tars): the read path holds one whole
    # tar per binary row, so shard BYTES are the scale invariant — a
    # fixed n_shards heap-OOM'd the 30× probe at >100 MiB tars. The
    # oracle is shard-count-independent (identity on doc_id/text).
    export_webdataset(docs, out, n_shards=None)
    return read_webdataset(spark, out).select("doc_id", "text")


def _q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio in integer milli-units —
    the boilerplate/near-random detector (Gopher-style repetition
    gate) as a map-only Arrow-batched codec stage
    (functions/text.py::compression_ratio). rows-only: no SQL engine
    runs DEFLATE; the ratio matches direct zlib byte-for-byte and the
    gate drops planted boilerplate/junk in tests/test_robust_stats.py.
    """
    from myasynstreamjoin_spark.functions.text import compression_ratio

    _prep(spark)
    return compression_ratio(tables.load_table(spark, sf_dir, "documents"))


def _q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the exact retriever: per query,
    NDCG@10 / MRR / precision@10 against label-match relevance —
    recall@k's judged-ranking sibling (q_ann_recall), extended to
    ORDER quality. All-integer: rank discounts are ppm literals (no
    runtime log), NDCG closes with one exact DIV against the ideal
    prefix sum (functions/similarity.py::retrieval_metrics)."""
    from myasynstreamjoin_spark.functions.similarity import retrieval_metrics

    _prep(spark)
    embs = tables.load_table(spark, sf_dir, "embeddings")
    return retrieval_metrics(embs, [0, 1, 2, 3], k=10)


def _q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_drift_timeline at week granularity: events
    arrive one event-time window per micro-batch (ascending), each
    batch's value histogram is scored against its predecessor with the
    SAME nano-fold expressions the batch operator uses (imported, not
    copied), so the per-batch sinks union to EXACTLY the batch
    timeline — shared DuckDB oracle with the window constant swapped
    (streaming/drift.py). Bucket bounds are pinned up front from the
    corpus min/max, the fixed-reference-range shape a production
    monitor deploys with."""
    from myasynstreamjoin_spark.streaming.drift import (
        read_drift,
        run_streaming_drift,
    )

    _prep(spark)
    week = 604_800_000_000_000
    events = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    b = (
        events.where(F.col("value").isNotNull())
        .agg(
            F.min(F.round(F.col("value") * 1000).cast("long")).alias("mn"),
            F.max(F.round(F.col("value") * 1000).cast("long")).alias("mx"),
        )
        .collect()[0]
    )
    wins = [
        int(r["w"])
        for r in events.select(F.expr(f"ts DIV {week}L").alias("w"))
        .distinct()
        .orderBy("w")
        .collect()
    ]
    return _stream_twin(
        "drift",
        [events.where(F.expr(f"ts DIV {week}L") == w) for w in wins],
        lambda stream, work: run_streaming_drift(
            stream, spark, work,
            bounds=(int(b["mn"]), int(b["mx"])), window_ns=week,
        ),
        lambda work: read_drift(spark, work),
    )


def _q_pipeline_e2e(
    spark: SparkSession, sf_dir: str, lang_gate: bool = True
) -> DataFrame:
    """The full training-corpus pipeline as ONE registered query —
    proof the LLM-data operators COMPOSE (each is oracle-verified
    alone; this chains them end-to-end against one composed oracle):

      1. ingest through the WARC codec (encode → Content-Length walk
         → recover docs; identity by construction),
      2. duplicate-span removal (k=8) over the training split
         (benchmark sources src0/src1 held out),
      3. quality (≥ 0.2) + language ('en') gates over the CLEANED
         text,
      4. Bloom-prefiltered exact decontamination of the gated docs
         against the held-out benchmark sources,
      5. 512-token sequence packing over 8 hash shards,
      6. per-shard export manifest (docs, tokens, sequences started,
         order-free checksum) — 8 rows summarizing the whole chain:
         any upstream slip moves a count or checksum.

    Scale: every stage keeps its individual operator's plan (span
    election one groupBy-min, decontamination prune-before-shuffle,
    packing one per-shard window); the two frames consumed down
    multiple branches (gated, survivors) are localCheckpoint-ed per
    the SCALE.md branched-plan rule.
    """
    from myasynstreamjoin_spark.functions.dedup import (
        bloom_decontaminate,
        remove_duplicate_spans,
    )
    from myasynstreamjoin_spark.functions.pipeline import (
        pack_sequences,
        shard_manifest,
    )
    from myasynstreamjoin_spark.functions.text import (
        lang_id,
        quality_score,
        tokens,
    )
    from myasynstreamjoin_spark.sources.warc import (
        encode_warc_blobs,
        parse_warc_blobs,
        warc_documents,
    )

    _prep(spark)
    docs0 = tables.load_table(spark, sf_dir, "documents")
    # 1. WARC ingest (drops NULL-text docs, like any archive writer)
    ingested = warc_documents(
        parse_warc_blobs(encode_warc_blobs(docs0))
    ).join(docs0.select("doc_id", "source"), "doc_id")
    bench = ingested.where(F.col("source").isin("src0", "src1"))
    train0 = ingested.where(~F.col("source").isin("src0", "src1"))
    # 2. corpus cleaning: drop docs left with < k tokens
    cleaned = remove_duplicate_spans(train0, k=8)
    clean = cleaned.where(
        F.col("n_tokens") - F.col("n_removed") >= 8
    ).select("doc_id", F.col("text_clean").alias("text"))
    # 3. quality + language gates over the cleaned text (the probe
    # corpus prefixes every token per replica, so its stopword-based
    # langid legitimately passes nothing — lang_gate=False lets the
    # scale probe drive full volume through the pack/manifest tail)
    gate = F.col("quality") >= 0.2
    if lang_gate:
        gate = gate & (F.col("lang_guess") == "en")
    gated = (
        clean.join(quality_score(clean), "doc_id")
        .join(lang_id(clean).select("doc_id", "lang_guess"), "doc_id")
        .where(gate)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    # 4. decontamination vs the held-out benchmark sources
    survivors = gated.join(
        bloom_decontaminate(gated, bench, k=8), "doc_id"
    ).localCheckpoint(eager=True)
    # 5. sequence packing; 6. manifest + sequences-started rollup
    packed = pack_sequences(
        survivors, F.size(tokens("text")), budget=512, n_shards=8
    )
    n_seqs = packed.groupBy("shard").agg(
        (F.max("seq_id") + 1).cast("long").alias("n_seqs")
    )
    return (
        shard_manifest(survivors, n_shards=8)
        # n_shards rows — always broadcast, never sort-merge
        .join(F.broadcast(n_seqs), "shard")
        .select("shard", "n_docs", "n_tokens", "n_seqs", "checksum")
    )


def _q_stream_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_shard_manifest: documents export in two
    micro-batches, the manifest folds incrementally per version, and
    the latest version equals the batch manifest of the whole corpus —
    the statistics are order-free integer sums, so ANY batch split
    satisfies the same oracle (streaming/export.py)."""
    from myasynstreamjoin_spark.streaming.export import (
        read_export_manifest,
        run_stream_export_shards,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return _stream_twin(
        "export",
        _by_parity(docs, "doc_id"),
        lambda stream, work: run_stream_export_shards(
            stream, spark, work, n_shards=16
        ),
        lambda work: read_export_manifest(spark, work),
    )


def _q_stream_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_pipeline_e2e: the TRAIN corpus arrives in
    two ascending-doc_id micro-batches and every stage of the batch
    pipeline runs incrementally — WARC ingest, span removal vs the
    accumulated gram index, gates, decontamination vs the STATIC
    benchmark sources, packing with carried per-shard totals, folded
    manifest. The latest manifest version equals the batch pipeline's
    per-shard rows, so this query shares q_pipeline_e2e's oracle
    (streaming/pipeline_e2e.py documents the stage-by-stage
    stream ≡ batch argument)."""
    from myasynstreamjoin_spark.streaming.pipeline_e2e import (
        read_pipeline_manifest,
        run_stream_pipeline_e2e,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    train = docs.where(~F.col("source").isin("src0", "src1")).select(
        "doc_id", "source", "text"
    )
    bench = (
        docs.where(F.col("source").isin("src0", "src1"))
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    half = docs.count() // 2  # ascending doc_id ranges (stream ≡ batch)
    return _stream_twin(
        "pipeline",
        (
            train.where(F.col("doc_id") < half),
            train.where(F.col("doc_id") >= half),
        ),
        lambda stream, work: run_stream_pipeline_e2e(
            stream, spark, bench, work
        ),
        lambda work: read_pipeline_manifest(spark, work),
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministically injected PII
    (the synthetic corpus has none): both engines append the same
    email/phone/IP spans keyed on doc_id, then redact."""
    from myasynstreamjoin_spark.functions.text import pii_scrub

    _prep(spark)
    d = tables.load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.concat(F.lit(" contact u"), did.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(did % 5 == 0,
                   F.concat(F.lit(" call +1 555 000"),
                            F.lpad((did % 1000).cast("string"), 4, "0"))
                   ).otherwise(F.lit("")),
            F.when(did % 7 == 0,
                   F.concat(F.lit(" from 10.0."), (did % 250).cast("string"),
                            F.lit(".7"))).otherwise(F.lit("")),
        ),
    )
    return pii_scrub(aug)


def _q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing shape: the library emits the full ``unit``
    array (kept for API users; element-wise pytest parity), but the
    driver canon cannot hash array cells (r6 q_pack_chunks class), so
    the registered form folds the unit vector into an ORDER-SENSITIVE
    integer digest Σ i·round(u_i·1e6) both engines replay exactly
    (elements are already 6-dp-rounded doubles)."""
    from myasynstreamjoin_spark.functions.embeddings import l2_normalize

    _prep(spark)
    out = l2_normalize(tables.load_table(spark, sf_dir, "embeddings"))
    weighted = F.zip_with(
        F.col("unit"),
        F.sequence(F.lit(1), F.size("unit")),
        lambda x, i: F.round(x * 1e6).cast("long") * i.cast("long"),
    )
    # NULL/empty vectors would diverge from the oracle's lateral
    # unnest + inner join (which emits no row for them): drop the same
    # rows here so both sides agree on the edge case.
    return out.where(F.size("unit") > 0).select(
        "vec_id",
        "norm",
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, b: a + b)
        .alias("unit_digest"),
    )


def _q_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing shape: same digest discipline as q_embed_norm —
    the int8 code array is folded to Σ i·q_i (exact integers, order
    pinned by the position weight); the raw array API stays in
    functions/embeddings.py."""
    from myasynstreamjoin_spark.functions.embeddings import quantize_int8

    _prep(spark)
    out = quantize_int8(tables.load_table(spark, sf_dir, "embeddings"))
    weighted = F.zip_with(
        F.col("q"),
        F.sequence(F.lit(1), F.size("q")),
        lambda x, i: x.cast("long") * i.cast("long"),
    )
    # same NULL/empty-vector alignment as q_embed_norm
    return out.where(F.size("q") > 0).select(
        "vec_id",
        "scale",
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, b: a + b)
        .alias("q_digest"),
    )


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over (part, supplier): per-curve-bucket row
    counts and rank bounding boxes — the stats that prove each z-range
    covers a small rectangle of the 2-D key space."""
    from myasynstreamjoin_spark.operators.zorder import with_zvalue

    _prep(spark)
    li = tables.load_table(spark, sf_dir, "lineitem")
    z = with_zvalue(li.select("l_partkey", "l_suppkey"),
                    "l_partkey", "l_suppkey", bits=10)
    return z.groupBy(F.expr("zv DIV 1024").alias("zbucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("ra").alias("min_ra"), F.max("ra").alias("max_ra"),
        F.min("rb").alias("min_rb"), F.max("rb").alias("max_rb"),
    )


def _q_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import sampled_revenue

    _prep(spark)
    return sampled_revenue(tables.load_table(spark, sf_dir, "lineitem"))


def _q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import customers_without_orders

    _prep(spark)
    return customers_without_orders(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
    )


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.relational import forecast_revenue_change

    _prep(spark)
    return forecast_revenue_change(tables.load_table(spark, sf_dir, "lineitem"))


def _q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.text import text_stats

    _prep(spark)
    return text_stats(tables.load_table(spark, sf_dir, "documents"))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.text import quality_score

    _prep(spark)
    return quality_score(tables.load_table(spark, sf_dir, "documents"))


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.text import lang_id

    _prep(spark)
    return lang_id(tables.load_table(spark, sf_dir, "documents"))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.text import fingerprint

    _prep(spark)
    return fingerprint(tables.load_table(spark, sf_dir, "documents"))


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.dedup import exact_dedup_stats

    _prep(spark)
    return exact_dedup_stats(tables.load_table(spark, sf_dir, "documents"))


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report (round 11): variable-
    length chunks cut at rolling-window-hash boundaries (FastCDC
    lineage), deduped by exact hash per source — catches large shared
    spans across shifted revisions at hash-groupBy cost, the grain
    between exact doc dedup and remove_spans. Boundary decisions use
    the replayable md5_32 window hash so the DuckDB oracle replays
    every chunk edge byte-for-byte; all output columns are exact
    integers (dup_ppm is floor-ppm) so the value hash cannot flip on
    rounding."""
    from myasynstreamjoin_spark.functions.dedup import cdc_dedup_stats

    _prep(spark)
    return cdc_dedup_stats(tables.load_table(spark, sf_dir, "documents"))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.dedup import ngram_jaccard_pairs

    _prep(spark)
    return ngram_jaccard_pairs(
        tables.load_table(spark, sf_dir, "documents"), k=3, threshold=0.2
    )


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al. 2003): window-min over
    ordered k-gram md5_32 hashes → positional fingerprints; pairs
    sharing ≥ 2 fingerprints via the inverted-index join. A *local*
    dup signal (guaranteed detection of shared runs ≥ w+k−1 tokens),
    complementing MinHash's global set sketch."""
    from myasynstreamjoin_spark.functions.dedup import winnow_pairs

    _prep(spark)
    return winnow_pairs(
        tables.load_table(spark, sf_dir, "documents"),
        k=4, w=4, min_common=2,
    )


def _q_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (PPJoin-style prefix filter,
    lossless candidates): shingle-set Jaccard ≥ 0.5 pairs. The oracle
    is the implementation-independent spec (full inverted index) —
    equal results prove the prefix filter loses nothing."""
    from myasynstreamjoin_spark.functions.dedup import prefix_jaccard_pairs

    _prep(spark)
    return prefix_jaccard_pairs(
        tables.load_table(spark, sf_dir, "documents"), threshold=0.5
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive dedup clusters: connected components
    (iterative min-label propagation) over the Jaccard pair graph; each
    doc labeled with the smallest doc_id it links to."""
    from myasynstreamjoin_spark.functions.cluster import connected_components
    from myasynstreamjoin_spark.functions.dedup import ngram_jaccard_pairs

    _prep(spark)
    pairs = ngram_jaccard_pairs(
        tables.load_table(spark, sf_dir, "documents"), k=3, threshold=0.2
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster"))


def _q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: near-dup clusters (Jaccard
    pairs → connected components) are the assignment unit, so
    paraphrase copies can never straddle the test boundary."""
    from myasynstreamjoin_spark.functions.cluster import (
        cluster_split,
        connected_components,
    )
    from myasynstreamjoin_spark.functions.dedup import ngram_jaccard_pairs

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    cc = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )
    return cluster_split(docs, cc)


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction (exact-substring dedup
    signal at 8-token span granularity) — the quality score a pipeline
    thresholds to drop boilerplate-heavy documents."""
    from myasynstreamjoin_spark.functions.dedup import dup_span_stats

    _prep(spark)
    return dup_span_stats(tables.load_table(spark, sf_dir, "documents"), k=8)


def _q_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span REMOVAL: every 8-token span
    occurring more than once corpus-wide keeps only its first
    (doc_id, pos) occurrence; documents are reassembled from the
    surviving token positions (functions/dedup.py
    remove_duplicate_spans — the op that produces the cleaned corpus,
    where q_dup_spans only scores it)."""
    from myasynstreamjoin_spark.functions.dedup import remove_duplicate_spans

    _prep(spark)
    return remove_duplicate_spans(
        tables.load_table(spark, sf_dir, "documents"), k=8
    )


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline to its actual product: near-dup pairs →
    connected components → ONE canonical survivor per cluster (max
    n_chars, ties → min doc_id) plus all unclustered docs — the
    surviving training corpus."""
    from myasynstreamjoin_spark.functions.cluster import (
        connected_components,
        dedup_survivors,
    )
    from myasynstreamjoin_spark.functions.dedup import ngram_jaccard_pairs

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    clusters = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )
    return dedup_survivors(docs, clusters)


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pipeline step: score every document, then keep docs at
    or above the corpus's exact 10th-percentile quality — the
    dynamic-threshold filter (threshold from the data, not a constant)
    a cleaning pipeline runs before training. The 1-row threshold is
    broadcast; the corpus passes once."""
    from myasynstreamjoin_spark.functions.text import quality_score

    from pyspark.sql import Window

    _prep(spark)
    q = quality_score(tables.load_table(spark, sf_dir, "documents"))
    # Threshold = the exact (k+1)-th smallest quality, k = floor(n/10):
    # a strict order statistic in integer arithmetic, NOT an
    # interpolated percentile — percentile()/quantile_cont() can differ
    # by 1 ulp across engines and a round() near the tie boundary flips
    # boundary docs. Computed over the DISTINCT-value table (quality is
    # rounded to 6 decimals in [0,1] → ≤ 1e6+1 rows), so the
    # unpartitioned cumulative window is bounded regardless of corpus
    # size; both threshold frames broadcast back and the corpus passes
    # once.
    n_k = q.agg(F.floor(F.count("*") / 10).alias("k"))
    vals = q.groupBy("quality").agg(F.count("*").alias("c"))
    w = Window.orderBy("quality").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vals.select("quality", F.sum("c").over(w).alias("cc"))
    thr = (
        cum.join(F.broadcast(n_k))
        .where(F.col("cc") >= F.col("k") + 1)
        .agg(F.min("quality").alias("thr"))
    )
    return (
        q.join(F.broadcast(thr))
        .where(F.col("quality") >= F.col("thr"))
        .select("doc_id", "quality")
    )


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel depth per user."""
    from myasynstreamjoin_spark.operators.sessions import funnel_depth

    _prep(spark)
    return funnel_depth(tables.load_table(spark, sf_dir, "events"))


def _q_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events table."""
    from myasynstreamjoin_spark.operators.sessions import cohort_retention

    _prep(spark)
    return cohort_retention(tables.load_table(spark, sf_dir, "events"))


def _q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline of parts by (size, retail price) — no
    dominance cross-join: frontier test on the distinct-size table
    (group-partitioned window, bounded by the size domain), broadcast
    back over a single fact pass."""
    from myasynstreamjoin_spark.operators.relational import pareto_frontier

    _prep(spark)
    return pareto_frontier(
        tables.load_table(spark, sf_dir, "part"),
        x="p_size", y="p_retailprice",
        group="p_brand", payload=["p_partkey"],
    )


def _q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type Markov transition matrix (exact bigram
    counts + one IEEE division — no rounding)."""
    from myasynstreamjoin_spark.operators.sessions import transition_matrix

    _prep(spark)
    return transition_matrix(tables.load_table(spark, sf_dir, "events"))


def _q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution inside a 7-day lookback — one
    RANGE-frame window pass, zero joins."""
    from myasynstreamjoin_spark.operators.sessions import touch_attribution

    _prep(spark)
    return touch_attribution(tables.load_table(spark, sf_dir, "events"))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming≤1 SimHash neighbor join via banded pigeonholing
    (lossless candidates: 1 differing bit can't touch both 16-bit
    halves)."""
    from myasynstreamjoin_spark.functions.dedup import simhash_pairs

    _prep(spark)
    return simhash_pairs(tables.load_table(spark, sf_dir, "documents"))


def _q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage over part names: n·w
    levenshtein comparisons (w=4 lead() neighbors within first-char
    partitions), never a quadratic blocked self-join."""
    from myasynstreamjoin_spark.operators.relational import fuzzy_neighbor_pairs

    _prep(spark)
    return fuzzy_neighbor_pairs(tables.load_table(spark, sf_dir, "part"))


def _q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round synchronous label-propagation communities over the
    co-purchase graph — integer counts + deterministic argmax, so the
    oracle unrolls the same rounds bit-for-bit. Consumes the
    once-materialized bucketed edge table."""
    from myasynstreamjoin_spark.operators.graph import label_propagation_edges

    _prep(spark)
    return label_propagation_edges(_graph_edges(spark, sf_dir))


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust |x−median| > 5·MAD anomaly gate in exact fixed-point
    integer arithmetic (lower-median order statistics)."""
    from myasynstreamjoin_spark.operators.stats import mad_outliers

    _prep(spark)
    return mad_outliers(tables.load_table(spark, sf_dir, "events"))


def _q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-bytes audio DSP gate: RIFF walk → 8-bit PCM samples →
    exact integer deviation sums + RMS, per WAV file. The oracle
    predicts the payload bytes (they're the doc's text), so the whole
    decode+DSP path is value-verified."""
    from myasynstreamjoin_spark.functions.multimodal import (
        audio_sample_stats,
        synthetic_media,
    )

    _prep(spark)
    media = synthetic_media(tables.load_table(spark, sf_dir, "documents"))
    return audio_sample_stats(media)


def _q_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join key-distribution diagnostics for orders ⋈ lineitem:
    exact expected output size + worst-key share, computed from the
    two count tables — the facts never join."""
    from myasynstreamjoin_spark.operators.stats import join_profile

    _prep(spark)
    return join_profile(
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
    )


def _q_cep_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern: view → purchase within 60 min unless an error
    intervenes — one range-window pass, zero joins."""
    from myasynstreamjoin_spark.operators.sessions import cep_pattern

    _prep(spark)
    return cep_pattern(tables.load_table(spark, sf_dir, "events"))


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse CDC: diff two compacted snapshots (per-user latest event
    at day 20 vs final) into an added/removed/changed feed; join moves
    keys + 16-byte digests, never the rows."""
    from myasynstreamjoin_spark.operators.cdc import snapshot_diff

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    cut = 1705795200 * 10**9  # 2024-01-21 UTC in epoch-ns

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max_by(
                F.struct("event_id", "event_type"),
                F.struct("ts", "event_id"),
            ).alias("__r")
        ).select("user_id", "__r.event_id", "__r.event_type")

    old = snap(ev.where(F.col("ts") < cut))
    new = snap(ev)
    return snapshot_diff(old, new, keys=("user_id",))


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style denoising pair generation: md5-placed non-overlapping
    masked spans, map-only, reproducible across engines."""
    from myasynstreamjoin_spark.functions.pipeline import span_corruption_pairs

    _prep(spark)
    return span_corruption_pairs(tables.load_table(spark, sf_dir, "documents"))


def _q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + trailing 7-day moving average per event
    type: explicit zero rows for silent days, so window analytics
    don't span gaps."""
    from myasynstreamjoin_spark.operators.timeseries import resample_daily

    _prep(spark)
    return resample_daily(tables.load_table(spark, sf_dir, "events"))


def _q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (IVF-PQ compression layer): joint Lloyd
    training across subspaces, per-vector codes + reconstruction-error
    audit. Iterative float averaging — rows-only like q_kmeans/q_pca;
    invariants (determinism, code range, k-monotone error) in
    tests/test_pq.py."""
    from myasynstreamjoin_spark.functions.embeddings import pq_encode

    _prep(spark)
    return pq_encode(
        tables.load_table(spark, sf_dir, "embeddings"), n_iters=3
    )


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ query path: asymmetric-distance top-k over PQ codes via
    a broadcast per-query LUT — map-only corpus pass, no vectors
    touched. rows-only (trained codebook); recall floor vs exact L2
    pinned in tests/test_pq.py."""
    from myasynstreamjoin_spark.functions.embeddings import pq_topk

    _prep(spark)
    return pq_topk(
        tables.load_table(spark, sf_dir, "embeddings"), n_iters=3
    )


def _q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining: lift = n_ab·N / (n_a·n_b) in exact
    integer products + one IEEE division (no log, no rounding)."""
    from myasynstreamjoin_spark.functions.text import collocations

    _prep(spark)
    return collocations(
        tables.load_table(spark, sf_dir, "documents"),
        min_count=5, min_lift=1.2,
    )


def _q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling over the embeddings
    table: 4 pseudo-random partners per anchor via bucket
    representatives — no cross join, no rand()."""
    from myasynstreamjoin_spark.functions.pipeline import negative_pairs

    _prep(spark)
    embs = tables.load_table(spark, sf_dir, "embeddings")
    return negative_pairs(embs, k=4, n_buckets=64, id_col="vec_id")


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a 3-term query — lexical
    retrieval (eval-set mining / RAG lookup) as one DataFrame plan."""
    from myasynstreamjoin_spark.functions.retrieval import bm25_topk

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["the", "data", "model"], k=10)


def _q_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of total revenue: 32 exact
    replicate totals from ONE pass (hash weights, DECIMAL sums)."""
    from myasynstreamjoin_spark.operators.stats import bootstrap_totals

    _prep(spark)
    return bootstrap_totals(tables.load_table(spark, sf_dir, "lineitem"))


def _q_data_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling across domains (closed-form, exact
    integers): 75 k tokens, ≤ 3 epochs per domain."""
    from myasynstreamjoin_spark.functions.pipeline import plan_data_budget

    _prep(spark)
    return plan_data_budget(
        tables.load_table(spark, sf_dir, "documents"),
        budget_tokens=75_000, max_repeat=3,
    )


def _q_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: integer-exact Borda fusion of the BM25 top-10
    and the cosine top-10 (missing-list rank penalty 11)."""
    from myasynstreamjoin_spark.functions.retrieval import hybrid_fusion_topk

    _prep(spark)
    return hybrid_fusion_topk(
        tables.load_table(spark, sf_dir, "documents"),
        tables.load_table(spark, sf_dir, "embeddings"),
        ["the", "data", "model"],
        query_id=0,
    )


def _q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 terms by document frequency with
    corpus tf and a df-ratio stopword flag."""
    from myasynstreamjoin_spark.functions.retrieval import vocab_stats

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return vocab_stats(docs, top_n=50, stopword_df_ratio=0.5)


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-style quality gate: add-one-smoothed unigram LM
    trained on the corpus, every document scored by average negative
    log likelihood (nats) + perplexity. Integer nano-nat sums keep the
    float path cross-engine deterministic (SCALE.md house rules)."""
    from myasynstreamjoin_spark.functions.text import lm_perplexity

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return lm_perplexity(docs)


def _q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    importance weights against an English-document target, top-100
    most target-like documents kept. Bucket tables broadcast; one
    corpus pass + a bounded top-k (no global sort). Nano-nat integer
    sums keep the float path cross-engine deterministic."""
    from myasynstreamjoin_spark.functions.dsir import dsir_select

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    return dsir_select(docs, target, k=100, n_buckets=4096)


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered EXACT decontamination: train docs (src2+)
    sharing no 8-gram with the src0/src1 'benchmark' docs. The oracle
    is the plain string-gram anti-join — the Bloom is a constant-size
    prefilter that cannot change the answer."""
    from myasynstreamjoin_spark.functions.dedup import bloom_decontaminate

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    return bloom_decontaminate(
        docs.where(~F.col("source").isin(*bench_sources)),
        docs.where(F.col("source").isin(*bench_sources)),
        k=8,
    )


def _q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics: apply a two-generation change feed
    (derived deterministically from orders) to the orders snapshot.
    Gen 1 touches every key % 3 == 0 (delete where % 9 == 0, else
    upsert at +10.0); gen 2 re-upserts every key % 6 == 0 at +20.0 —
    superseding gen 1, including resurrecting % 18 == 0 deletes.
    Latest-change-wins, tombstones drop keys, base rows pass through
    untouched; exact float adds keep both engines bit-identical."""
    from myasynstreamjoin_spark.operators.cdc import cdc_apply

    _prep(spark)
    orders = tables.load_table(spark, sf_dir, "orders")
    data = orders.columns
    k = F.col("o_orderkey")
    g1 = orders.where(k % 3 == 0).select(
        *[c for c in data if c != "o_totalprice"],
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.when(k % 9 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit(1).alias("gen"),
    )
    g2 = orders.where(k % 6 == 0).select(
        *[c for c in data if c != "o_totalprice"],
        (F.col("o_totalprice") + F.lit(20.0)).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(2).alias("gen"),
    )
    merged = cdc_apply(
        orders,
        g1.unionByName(g2).select(*data, "op", "gen"),
        keys=("o_orderkey",),
        order_cols=("gen",),
    )
    return merged.select(*data)


def _q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_cdc_merge: the orders snapshot arrives as an
    insert feed, then the two change generations, one micro-batch each;
    foreachBatch merges every batch into a versioned parquet snapshot
    (streaming/cdc.py). The final snapshot satisfies the SAME oracle as
    the batch MERGE — stream ≡ batch for the CDC path."""
    from myasynstreamjoin_spark.streaming.cdc import (
        read_snapshot,
        run_cdc_stream,
    )

    _prep(spark)
    orders = tables.load_table(spark, sf_dir, "orders")
    data = orders.columns
    k = F.col("o_orderkey")
    seed = orders.select(
        *data, F.lit("I").alias("op"), F.lit(0).cast("long").alias("gen")
    )
    g1 = orders.where(k % 3 == 0).select(
        *[c for c in data if c != "o_totalprice"],
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.when(k % 9 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit(1).cast("long").alias("gen"),
    ).select(*data, "op", "gen")
    g2 = orders.where(k % 6 == 0).select(
        *[c for c in data if c != "o_totalprice"],
        (F.col("o_totalprice") + F.lit(20.0)).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("gen"),
    ).select(*data, "op", "gen")

    return _stream_twin(
        "cdc",
        (seed, g1, g2),
        lambda stream, work: run_cdc_stream(
            stream, work, keys=("o_orderkey",), order_cols=("gen",)
        ),
        lambda work: read_snapshot(spark, work).select(*data),
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs on the library's AUTO
    seed count (round 8 — the registered contract IS the scale path
    now; the old n_seeds=8 pin meant 625 k-vector clusters at
    sf10ish): deterministic max(8, ⌊√N⌋) lowest-id seed vectors, then
    within-cluster exact cosine at 0.4. The oracle recomputes the
    same seed count from its own count(*) and selects the same
    lowest-id seeds, so the whole construction replays at any SF."""
    from myasynstreamjoin_spark.functions.similarity import semantic_dedup_pairs

    _prep(spark)
    embs = tables.load_table(spark, sf_dir, "embeddings")
    # kernel="sql" pinned HERE (the library default is "arrow" since
    # r9): this registration is the one caller whose arithmetic a
    # DuckDB oracle replays bit-for-bit
    return semantic_dedup_pairs(embs, threshold=0.4, kernel="sql")


def _q_semantic_dedup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB kernel of q_semantic_dedup: numpy-matmul assignment
    + per-cluster pair matmul. Same pair set as the SQL kernel
    (pytest-pinned); cosines can drift ~1 ulp (numpy pairwise sums),
    so this entry is rows-only — the SQL twin carries the oracle."""
    from myasynstreamjoin_spark.functions.similarity import semantic_dedup_pairs

    _prep(spark)
    embs = tables.load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(embs, threshold=0.4, kernel="arrow")


def _q_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most 7 docs per source by
    deterministic hash order — the absolute-size complement of the
    rate-based mixture sampler."""
    from myasynstreamjoin_spark.functions.pipeline import sample_k_per_group

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return sample_k_per_group(docs, "source", k=7).select(
        "doc_id", "source", "n_chars"
    )


def _q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: sample each source at the
    rate that makes the output approximate 50/25/25 across
    src0/src1/src2 (sources too small for their weight keep all rows —
    rate capped at 1)."""
    from myasynstreamjoin_spark.functions.pipeline import domain_mixture_sample

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return domain_mixture_sample(
        docs,
        "source",
        {"src0": 0.5, "src1": 0.25, "src2": 0.25},
        target_total=60,
    ).select("doc_id", "source", "n_chars")


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH near-dup pairs in replayable mode: md5_32
    shingle hashes and exact band keys, so the DuckDB oracle reproduces
    the identical signatures → candidates → verified pairs."""
    from myasynstreamjoin_spark.functions.dedup import minhash_lsh_pairs

    _prep(spark)
    return minhash_lsh_pairs(
        tables.load_table(spark, sf_dir, "documents"),
        n_hashes=32,
        bands=8,
        verify_threshold=0.2,
        replayable=True,
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.dedup import simhash

    _prep(spark)
    return simhash(tables.load_table(spark, sf_dir, "documents"))


def _q_simsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.similarity import cosine_topk

    _prep(spark)
    return cosine_topk(tables.load_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


def _q_simsearch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — exact top-10 by cosine to vec 0 among
    only English documents, with the predicate semi-joined into the
    scan BEFORE any dot product (pre-filter, not the post-filter trap
    of k/selectivity candidates)
    (functions/similarity.py::cosine_topk_filtered)."""
    from myasynstreamjoin_spark.functions.similarity import (
        cosine_topk_filtered,
    )

    _prep(spark)
    return cosine_topk_filtered(
        tables.load_table(spark, sf_dir, "embeddings"),
        tables.load_table(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        query_id=0,
        k=10,
    )


def _q_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.similarity import cosine_topk_lsh

    _prep(spark)
    return cosine_topk_lsh(
        tables.load_table(spark, sf_dir, "embeddings"), query_id=0, k=10, n_planes=4
    )


def _q_simsearch_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: the query's bucket plus the 2 buckets
    across its smallest-|margin| hyperplanes — recall recovered
    without extra hash tables; probe set is declarative and
    oracle-replayable (functions/similarity.py)."""
    from myasynstreamjoin_spark.functions.similarity import (
        cosine_topk_lsh_multiprobe,
    )

    _prep(spark)
    return cosine_topk_lsh_multiprobe(
        tables.load_table(spark, sf_dir, "embeddings"),
        query_id=0, k=10, n_planes=4, probes=2,
    )


def _q_simsearch_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact ANN: one corpus scan serves a query batch (the
    retrieval-pipeline shape), ranked per query."""
    from myasynstreamjoin_spark.functions.similarity import cosine_topk_multi

    _prep(spark)
    return cosine_topk_multi(
        tables.load_table(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3], k=10
    )


def _q_ann_recall(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> DataFrame:
    """Recall@10 of LSH and IVF against exact, averaged over a query
    batch — the audit metric for the rows-only ANN operators. Round
    10: 16 queries (4 could not distinguish 0.65 from 0.9 — r9 verdict
    #4) and the measured-good 8×3-plane LSH default (recall@10 0.89 at
    sf0.1 vs 0.70 for the old 8×4; the plane drop doubles bucket
    population for the SAME table-explode volume). Round 11: the LSH
    config comes from ``ANN_PROFILES[profile]`` — driver/oracle runs
    use the default (unchanged semantics); bench.py additionally
    records the "high-recall" (3, 16) point's recall AND wall."""
    from myasynstreamjoin_spark.functions.similarity import ann_recall

    _prep(spark)
    return ann_recall(
        tables.load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(16)), k=10,
        n_lists=16, nprobe=4, profile=profile,
    )


def _q_cost_model_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.cost_model import batch_strategy

    _prep(spark)
    return batch_strategy(fixtures.keyed_values(spark, sf_dir, CFG), "key", CFG, lam=1.0)


def _q_cost_model_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.operators.cost_model import per_window_strategy

    _prep(spark)
    kv = fixtures.with_window(fixtures.keyed_values(spark, sf_dir, CFG), CFG)
    return per_window_strategy(kv, "key", "ltw", CFG, lam=1.0)


def _q_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.similarity import ivf_topk

    _prep(spark)
    return ivf_topk(
        tables.load_table(spark, sf_dir, "embeddings"),
        query_id=0, k=10, n_lists=16, nprobe=4,
    )


def _q_embed_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.similarity import exact_embedding_pairs

    _prep(spark)
    return exact_embedding_pairs(
        tables.load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs on the library's AUTO
    plane count (round 8 — the registered contract IS the scale path
    now; the old n_planes=4 pin was a registered scale-killer,
    ~7.8e11 pair folds at sf10ish). The auto rule is integer-exact
    (smallest k ≥ 4 with 256·2^k ≥ N), so the DuckDB oracle replays
    the choice from its own count(*) and masks the same baked
    hyperplane literals (plane i of seed-42 randn is prefix-stable in
    the plane count, pinned in test_retrieval_bloom_semdedup)."""
    from myasynstreamjoin_spark.functions.similarity import embedding_neardup_pairs

    _prep(spark)
    return embedding_neardup_pairs(
        tables.load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors scored by max
    cosine against a CONSTANT-size held-out benchmark (vec_id < 100 —
    a real eval suite is fixed-size; the old ``% 50`` slice was a
    fixture artifact that grew with the corpus and made the fold
    quadratic in SF, the r8 sf30 DNF), flagging paraphrased eval
    leakage the exact n-gram path misses. Benchmark broadcasts; work
    is O(|corpus|·100) = linear in the corpus. SQL kernel pinned here
    so the DuckDB oracle replays it bit-for-bit; the production Arrow
    twin is q_semantic_decontaminate_arrow
    (functions/similarity.py::semantic_decontaminate)."""
    from myasynstreamjoin_spark.functions.similarity import (
        semantic_decontaminate,
    )

    _prep(spark)
    embs = tables.load_table(spark, sf_dir, "embeddings")
    bench = embs.where(F.col("vec_id") < 100)
    corpus = embs.where(F.col("vec_id") >= 100)
    return semantic_decontaminate(corpus, bench, threshold=0.4, kernel="sql")


def _q_semantic_decontaminate_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB kernel of q_semantic_decontaminate: one map-only
    mapInPandas matmul pass (benchmark matrix in the UDF closure),
    NOTHING reaches an exchange. Same flags as the SQL kernel
    (pytest-pinned, test_retrieval_bloom_semdedup.py); max_cos can
    drift ~1 ulp at a 10⁻⁴ rounding boundary (numpy pairwise sums vs
    SQL fold order), so this entry is rows-only — the SQL twin
    carries the oracle. sf30: 50.7 s vs the SQL fold's 65-min kill on
    the old growing slice (SCALEPROBE_r08_embed_sf30)."""
    from myasynstreamjoin_spark.functions.similarity import (
        semantic_decontaminate,
    )

    _prep(spark)
    embs = tables.load_table(spark, sf_dir, "embeddings")
    bench = embs.where(F.col("vec_id") < 100)
    corpus = embs.where(F.col("vec_id") >= 100)
    return semantic_decontaminate(corpus, bench, threshold=0.4, kernel="arrow")


def _q_stream_min_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query as a real Structured Streaming job (file source →
    watermark → windowed agg, append mode) run to completion; the oracle
    is the batch answer restricted to windows the final watermark
    passed — streaming-batch equivalence as part of the gate."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_min_count_per_window,
    )

    _prep(spark)
    import os as _os

    # data-proportional state width (session.replay_state_partitions):
    # 1 partition locally, growing with the replayed file's size so a
    # large finite replay is never serialized onto one task
    return run_stream_to_table(
        stream_min_count_per_window(stream_events(spark, sf_dir), CFG),
        spark,
        input_bytes=_os.path.getsize(f"{sf_dir}/events.parquet"),
    )


def _q_stream_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a genuine stream: grammar DataSource (partitioned
    executor-side generation, 2 micro-batches) → packed-line decode →
    flagship windowed min-count. Workload is the fixed deterministic
    grammar grid (source-machinery measurement, independent of sf_dir);
    the oracle regenerates the grid in SQL and applies the final-
    watermark emission rule."""
    from myasynstreamjoin_spark.config import EngineConfig
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_grammar_min_count,
    )

    _prep(spark)
    cfg = EngineConfig(lgw_ms=1000, watermark_delay="2 seconds")
    return run_stream_to_table(
        stream_grammar_min_count(
            spark, cfg,
            messages="200", records_per_message="8", partitions="4",
            messages_per_batch="100",  # 2 micro-batches: the minimum
            # that still exercises multi-batch replay; each batch costs
            # ~1.8 s fixed (Python-source planning + state commit), so
            # fewer batches = less constant overhead in bench (the
            # result table is chunk-invariant — watermark rule is
            # the global max — asserted by test_stream_read_equals_batch)
        ),
        spark,
    )


def _q_stream_min_count_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 as a genuine multi-way stream-stream join (the BASELINE.json
    approach): per-source windowed-agg streams inner-joined on
    (key, window); converges to the same table as the single-agg
    formulation, which is the oracle."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_min_count_join,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_min_count_join(stream_events(spark, sf_dir), CFG), spark
    )


def _q_stream_min_count_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship windowed min-count with the reference's
    zero-if-incomplete emission (a window some source missed emits 0),
    run to completion."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_min_count_per_window,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_min_count_per_window(
            stream_events(spark, sf_dir), CFG, emit_zero_if_incomplete=True
        ),
        spark,
    )


def _q_stream_max_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A4 (grouped max via state) as a watermarked windowed
    aggregation: per (key, window) max of value, emitted when the
    watermark passes the window end, run to completion."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_max_per_window,
    )

    _prep(spark)
    out = run_stream_to_table(
        stream_max_per_window(stream_events(spark, sf_dir), CFG), spark
    )
    return out.select("key", "ltw", F.round("val", 6).alias("max_val"))


def _q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization (session_window + watermark,
    append mode) run to completion; oracle = batch sessions whose
    (end + gap) the final watermark passed."""
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_events,
        stream_sessions,
    )

    _prep(spark)
    return run_stream_to_table(
        stream_sessions(stream_events(spark, sf_dir)), spark
    )


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myasynstreamjoin_spark.functions.multimodal import (
        decode_media,
        documents_as_media,
    )

    _prep(spark)
    media = documents_as_media(tables.load_table(spark, sf_dir, "documents"))
    return decode_media(media, fake=True).select("media_id", "n_bytes", "first_byte")


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup under the oracle: build the persisted
    bucketed fingerprint index from the even-doc_id half of the corpus
    (the "100 TB corpus", fingerprint-shuffled once), then ingest the
    odd-doc_id half as a delta — one bucket-local join plus a
    sort-only window tags every delta row kept / dup_index /
    dup_within without rescanning the corpus (plan-locked to ONE
    exchange in tests/test_incremental_dedup.py). Reports the
    per-source admission summary with an exact kept-doc_id checksum
    (functions/dedup.py::write_fingerprint_index/incremental_dedup)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.functions.dedup import (
        incremental_dedup,
        incremental_dedup_summary,
        write_fingerprint_index,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    table = "q_dedup_incr_tmp"
    tmp = tempfile.mkdtemp(prefix="fp_index_")
    write_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        table,
        n_buckets=16,
        path=os.path.join(tmp, "idx"),
    )
    tagged = incremental_dedup(docs.filter(F.col("doc_id") % 2 == 1), table)
    return incremental_dedup_summary(tagged)


def _q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist scan under the oracle, deliberately on the
    Aho-Corasick Arrow kernel (one automaton walk per doc, O(len)
    regardless of blocklist size — the 10k-term wordlist path) while
    the oracle recomputes every count with SQL's replace-length
    identity: non-overlapping leftmost substring semantics must agree
    to the integer, including the doc_id-sum membership checksum
    (functions/text.py::blocklist_summary)."""
    from myasynstreamjoin_spark.functions.text import blocklist_summary

    _prep(spark)
    return blocklist_summary(
        tables.load_table(spark, sf_dir, "documents"),
        ["table", "scan", "a", "fast merge", "window"],
        kernel="arrow",
    )


def _q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup under the oracle: the even-doc_id half of
    the corpus becomes a persisted MinHash band index (two bucketed
    tables: band rows by bh, shingle arrays by doc_id); the odd half
    ingests against it — delta-side signatures, bucket-local band
    probe, exact Jaccard verify on candidates only, corpus never
    rescanned or reshuffled (plan-locked in
    tests/test_incremental_dedup.py, with pinned equality to the batch
    operator's cross-parity pairs). Replayable mode (md5_32 shingles,
    exact band keys) lets DuckDB reproduce the identical candidate
    set and verified pairs
    (functions/dedup.py::write_minhash_index/neardup_against_index)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.functions.dedup import (
        neardup_against_index,
        write_minhash_index,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    table = "q_neardup_incr_tmp"
    tmp = tempfile.mkdtemp(prefix="mh_index_")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        table,
        n_buckets=16,
        path=os.path.join(tmp, "idx"),
        replayable=True,
    )
    return neardup_against_index(
        docs.filter(F.col("doc_id") % 2 == 1),
        table,
        threshold=0.2,
        replayable=True,
    )


def _q_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF search under the oracle: write the cell-PARTITIONED
    index + centroid sidecar once, then serve a 4-query batch where
    probing nprobe cells is PARTITION PRUNING (only the probed cells'
    files open — plan-locked via inputFiles in tests/test_ivf_index.py,
    with pinned equality to the inline ivf_topk_multi)
    (functions/similarity.py::write_ivf_index/ivf_search_index)."""
    import tempfile

    from myasynstreamjoin_spark.functions.similarity import (
        ivf_search_index,
        write_ivf_index,
    )

    _prep(spark)
    emb = tables.load_table(spark, sf_dir, "embeddings")
    table = "q_ivf_index_tmp"
    write_ivf_index(emb, table, n_lists=16, path=tempfile.mkdtemp())
    qv = emb.where(F.col("vec_id").isin([0, 1, 2, 3])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q")
    )
    return ivf_search_index(spark, table, qv, k=10, nprobe=4)


def _q_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ingest ADMISSION gate under one oracle: the even
    half of the corpus becomes the persisted fingerprint + MinHash
    indexes; the arriving batch is the odd half plus synthesized
    re-crawl duplicates (exact copies of every 10th even doc — caught
    by the fp index — and of every 10th odd doc — caught within-batch).
    Each doc's fate is decided by the first matching gate: blocklist →
    dup_exact → dup_within → dup_near → admitted; stage order is
    semantics (a blocked doc never counts as a duplicate, an exact dup
    never reaches the near-dup probe) and the oracle replays the whole
    cascade per document (functions/ingest.py::ingest_gate)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.functions.dedup import (
        write_fingerprint_index,
        write_minhash_index,
    )
    from myasynstreamjoin_spark.functions.ingest import (
        ingest_gate,
        ingest_summary,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    delta = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(
            even.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + 10_000_000
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1).withColumn(
                "doc_id", F.col("doc_id") + 20_000_000
            )
        )
    )
    fp_t, mh_t = "q_ingest_fp_tmp", "q_ingest_mh_tmp"
    tmp = tempfile.mkdtemp(prefix="ingest_e2e_")
    write_fingerprint_index(
        even, fp_t, n_buckets=16, path=os.path.join(tmp, "fp")
    )
    write_minhash_index(
        even, mh_t, n_buckets=16, path=os.path.join(tmp, "mh"),
        replayable=True,
    )
    gated = ingest_gate(
        delta, fp_t, mh_t,
        terms=["slow"], max_hits=4,
        neardup_threshold=0.2, replayable=True,
    )
    return ingest_summary(gated)


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global LINE dedup (keep-first) under the oracle: the
    token stream wraps into non-overlapping 12-token lines; every line
    occurring more than once in the corpus survives only at its
    (doc_id, line_no)-min occurrence and each document is reassembled
    from its surviving lines. Election is one groupBy min-struct (no
    window sort — plan-locked in tests/test_lines.py); the oracle
    replays the whole election with a row_number window
    (functions/lines.py::line_dedup)."""
    from myasynstreamjoin_spark.functions.lines import line_dedup

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return line_dedup(docs, width=12)


def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source boilerplate report under the oracle:
    lines whose DOCUMENT frequency within a source reaches 2 are
    template chrome; the report pins, per source, how many distinct
    lines were elected and what stripping them removes (occurrences,
    docs touched, chars). Election is two hash aggs over the exploded
    line table; application is a broadcast join (plan-locked)
    (functions/lines.py::boilerplate_report)."""
    from myasynstreamjoin_spark.functions.lines import boilerplate_report

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return boilerplate_report(docs, width=12, min_df=2)


def _q_line_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LINE dedup under the oracle — the fourth persisted
    ingest index (exact fp, MinHash bands, IVF cells, now lines): the
    even-doc_id half of the corpus becomes a line table BUCKETED BY
    line; the odd half ingests against it, dropping lines already in
    the index (dup_index) or seen earlier within the delta
    (dup_within), and reassembling the cleaned documents. The corpus
    is never rescanned; every shuffle is delta-sized (bucket-local
    probe plan-locked in tests/test_lines.py)
    (functions/lines.py::write_line_index/line_dedup_against_index)."""
    import os
    import tempfile

    from myasynstreamjoin_spark.functions.lines import (
        line_dedup_against_index,
        write_line_index,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    table = "q_line_idx_tmp"
    tmp = tempfile.mkdtemp(prefix="line_index_")
    write_line_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        table,
        width=12,
        n_buckets=16,
        path=os.path.join(tmp, "idx"),
    )
    return line_dedup_against_index(
        docs.filter(F.col("doc_id") % 2 == 1), table, width=12
    )


def _q_interleave_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMC4/OBELICS-style interleaved multimodal assembly under the
    oracle: each doc becomes an ordered sequence of 24-token text
    segments and image POINTER segments (one anchored after every full
    chunk, media_id = doc_id·100+j), with byte_offset the running
    UTF-8 position in the packed record — the parquet shape an
    interleaved-pretraining loader consumes. Entirely map-only (JVM
    higher-order functions; zero-exchange plan locked in
    tests/test_multimodal_interleave.py)
    (functions/multimodal.py::interleave_segments)."""
    from myasynstreamjoin_spark.functions.multimodal import (
        interleave_segments,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    return interleave_segments(docs, chunk_tokens=24)


def _q_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite mojibake repair under the oracle: the corpus is pure
    ASCII, so corruption is SYNTHESIZED replayably (docs ≡0 mod 7 get
    'table' swapped for its UTF-8-as-cp1252 double-encoding carrying
    two repairable signatures; docs ≡0 mod 11 get two unrepairable
    U+FFFD replacement chars appended), then repaired with the fixed
    ordered MOJIBAKE_MAP replace chain — map-only whole-stage codegen,
    and the oracle replays injection + repair with the identical
    literals derived from the same module constant
    (functions/text.py::fix_mojibake)."""
    from myasynstreamjoin_spark.functions.text import (
        _mojibake,
        fix_mojibake,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    bad = _mojibake("tabl\u00e9\u2019")
    c = F.when(
        F.col("doc_id") % 7 == 0,
        F.replace(F.col("text"), F.lit("table"), F.lit(bad)),
    ).otherwise(F.col("text"))
    c = F.when(
        F.col("doc_id") % 11 == 0, F.concat(c, F.lit("\ufffd\ufffd"))
    ).otherwise(c)
    return fix_mojibake(docs.withColumn("text", c))


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles under the oracle:
    every doc ranked within its source by unigram-LM perplexity (the
    q_lm_perplexity scoring reused verbatim), split by the integer
    rank rule rn·3 ≤ n / rn·3 ≤ 2n — the oracle composes the existing
    perplexity oracle CTE with a window replay of the same rule
    (functions/text.py::ccnet_buckets)."""
    from myasynstreamjoin_spark.functions.text import ccnet_buckets

    _prep(spark)
    return ccnet_buckets(tables.load_table(spark, sf_dir, "documents"))


def _q_stream_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_cdc_chunks: documents arrive in two
    micro-batches and per-(source, chunk) counts FOLD into a
    versioned index — count folding is commutative, so the final
    stats equal the batch operator's under ANY arrival order (no
    ascending requirement, unlike the line/span twins) and the twin
    shares q_cdc_chunks's DuckDB oracle verbatim
    (streaming/cdcchunks.py)."""
    from myasynstreamjoin_spark.streaming.cdcchunks import (
        read_chunk_stats,
        run_stream_cdc_chunks,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    return _stream_twin(
        "cdc_chunks",
        _at_median(docs, "doc_id"),
        lambda stream, work: run_stream_cdc_chunks(stream, spark, work),
        lambda work: read_chunk_stats(spark, work),
    )


def _q_stream_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_line_dedup: documents arrive in two
    ASCENDING doc_id ranges, so first-seen order equals the batch
    operator's (doc_id, line_no) election order and the per-batch
    cleaned sinks union to EXACTLY the batch answer — shared DuckDB
    oracle (streaming/linededup.py)."""
    from myasynstreamjoin_spark.streaming.linededup import (
        read_clean_docs,
        run_stream_line_dedup,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return _stream_twin(
        "lines",
        _at_median(docs, "doc_id"),
        lambda stream, work: run_stream_line_dedup(
            stream, spark, work, width=12
        ),
        lambda work: read_clean_docs(spark, work),
    )


def _q_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming reservoir twin of q_weighted_sample — and the feed is
    deliberately an UNORDERED (doc_id-parity) split: the
    Efraimidis–Spirakis key is a pure row function, so top-k merges
    are order-free and the reservoir equals the batch sampler under
    ANY batch arrangement, a stronger equality than the ascending-feed
    twins (streaming/sample.py)."""
    from myasynstreamjoin_spark.functions.text import quality_score
    from myasynstreamjoin_spark.streaming.sample import (
        read_sample,
        run_stream_weighted_sample,
    )

    _prep(spark)
    scored = quality_score(tables.load_table(spark, sf_dir, "documents"))
    return _stream_twin(
        "wrs",
        _by_parity(scored, "doc_id"),
        lambda stream, work: run_stream_weighted_sample(
            stream, spark, work, weight_col="quality", k=50
        ),
        lambda work: read_sample(spark, work).orderBy("doc_id"),
    )


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt under the oracle: the four lineitem measures
    unpivot to (metric, value) rows — a map-side Expand, no extra
    shuffle — then aggregate per (returnflag, metric); the oracle
    replays the reshape as a UNION ALL
    (operators/relational.py::unpivot_metrics)."""
    from myasynstreamjoin_spark.operators.relational import unpivot_metrics

    _prep(spark)
    return unpivot_metrics(tables.load_table(spark, sf_dir, "lineitem"))


def _q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The waterfilling plan MATERIALIZED under one oracle: per domain,
    select whole docs in (quality DESC, doc_id) order while the
    running token total has not reached min(alloc, n_tokens) — the
    greedy whole-document cut. The per-domain report carries a
    selected-doc_id checksum so the oracle pins WHICH documents were
    chosen, composing the q_data_budget and q_quality oracles
    (functions/pipeline.py::select_to_budget)."""
    from myasynstreamjoin_spark.functions.pipeline import select_to_budget

    _prep(spark)
    return select_to_budget(
        tables.load_table(spark, sf_dir, "documents"),
        budget_tokens=75_000, max_repeat=3,
    )


def _q_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncated-dimension retrieval eval under the oracle:
    per query (0-3) and prefix dim (8/16/32), the exact cosine top-10
    on the truncated vectors vs the full-64-dim top-10 — overlap count
    plus a vec_id-sum checksum of the truncated top-k, the measurement
    that prices how far an MRL index can cut storage/FLOPs before
    recall drops (functions/similarity.py::matryoshka_recall)."""
    from myasynstreamjoin_spark.functions.similarity import (
        matryoshka_recall,
    )

    _prep(spark)
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return matryoshka_recall(emb, dims=(8, 16, 32), k=10)


def _q_hygiene_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's hygiene ops COMPOSED under one oracle: synthesized
    mojibake corruption (q_fix_encoding's rules) → `fix_mojibake`
    repair → C4 `line_dedup` on the REPAIRED text → per-source rollup
    (docs, repairs, residual bad chars, lines, lines removed, clean
    chars). Each stage is verified alone; this query pins that they
    chain — the oracle replays corruption, the generated repair chain,
    the line election, and the rollup in one CTE pipeline
    (functions/text.py::fix_mojibake + functions/lines.py::line_dedup)."""
    from myasynstreamjoin_spark.functions.lines import line_dedup
    from myasynstreamjoin_spark.functions.text import (
        _mojibake,
        fix_mojibake,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    bad = _mojibake("tabl\u00e9\u2019")
    c = F.when(
        F.col("doc_id") % 7 == 0,
        F.replace(F.col("text"), F.lit("table"), F.lit(bad)),
    ).otherwise(F.col("text"))
    c = F.when(
        F.col("doc_id") % 11 == 0, F.concat(c, F.lit("\ufffd\ufffd"))
    ).otherwise(c)
    fixed = fix_mojibake(docs.withColumn("text", c))
    cleaned = line_dedup(
        fixed.select("doc_id", F.col("text_fixed").alias("text")),
        width=12,
    )
    return (
        fixed.join(cleaned, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_fixes").cast("long").alias("n_fixes"),
            F.sum("n_bad_chars").cast("long").alias("n_bad_chars"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("n_removed").cast("long").alias("n_lines_removed"),
            F.sum(F.length("text_clean")).cast("long").alias("clean_chars"),
        )
    )


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip under the oracle: documents export
    hive-PARTITIONED by source to ORC (the second built-in columnar
    format; Avro's module jar is environment-gated like Kafka), read
    back with a one-source partition filter — directory pruning, the
    unmatched partitions' files never open (PartitionFilters-locked in
    tests/test_textfile_sources.py) — and the surviving rows must equal the
    parquet truth for that source, column for column
    (sources/textfiles.py::write_documents_orc/read_documents_orc)."""
    import tempfile

    from myasynstreamjoin_spark.sources.textfiles import (
        read_documents_orc,
        write_documents_orc,
    )

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="orc_rt_") + "/docs"
    write_documents_orc(docs, path)
    src = docs.select("source").orderBy("source").first()["source"]
    return read_documents_orc(spark, path, source=src).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def _q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile-sketch bank: per (event_type, day)
    sketches merged per type, p10/p50/p90 estimates audited in-query
    against exact percentiles at ±5% RANK distance —
    `q_sketch_distinct`'s sibling for ORDER statistics
    (operators/stats.py::quantile_sketch_shards /
    quantile_sketch_rollup).

    Oracle contract (upgraded from rows-only, round-7 verdict item):
    the raw estimates are estimator-internal (no SQL engine replays
    KLL), so the driver-facing form checks the sketch's RANK-ERROR
    CONTRACT as data — (grp, n_shards, n_total, approx_ok) where
    approx_ok is Spark's in-query band check and the oracle asserts
    it TRUE (KLL k=200 normalized rank error ≈1.65% ≪ the 5% band).
    A contract violation flips approx_ok and reds the driver row."""
    from myasynstreamjoin_spark.operators.stats import (
        quantile_sketch_rollup,
        quantile_sketch_shards,
    )

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    exact = ev.groupBy(F.col("event_type").alias("grp")).agg(
        *[
            F.expr(f"percentile(value, {q + s * 0.05})").alias(
                f"q{int(q*100)}_{'hi' if s > 0 else 'lo'}"
            )
            for q in (0.1, 0.5, 0.9)
            for s in (-1, 1)
        ]
    )
    full = quantile_sketch_rollup(quantile_sketch_shards(ev), exact=exact)
    return full.select("grp", "n_shards", "n_total", "approx_ok")


def _q_theta_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct-set algebra: per-event-type user
    sketches, then union / intersection / difference estimates per
    pair — the audience-overlap questions that are anti-join +
    countDistinct rescans in exact form
    (operators/stats.py::audience_set_algebra).

    Oracle contract (upgraded from rows-only, round-7 verdict item):
    Theta with 4096 nominal entries stays EXACT until 4096 retained
    hashes — measured exact through sf0.1 (1500 distinct/type), 10×
    the driver's correctness SF — so the oracle is the real SQL set
    algebra (distinct counts, inclusion-exclusion union, join
    intersection, difference)."""
    from myasynstreamjoin_spark.operators.stats import audience_set_algebra

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events")
    pairs = [("click", "purchase"), ("view", "error"), ("signup", "click")]
    return audience_set_algebra(ev, pairs)


def _q_stream_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Theta accumulator: events arrive in an UNORDERED
    user-parity split; sketch union is order-free and exact below
    threshold, so the streamed audience algebra equals
    q_theta_audience's batch answer integer-for-integer (pinned in
    tests/test_stream_sketches.py) — and therefore shares its exact
    set-algebra oracle (streaming/sketches.py)."""
    from myasynstreamjoin_spark.streaming.sketches import (
        read_theta_algebra,
        run_stream_theta_sketches,
    )

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    pairs = [("click", "purchase"), ("view", "error"), ("signup", "click")]
    return _stream_twin(
        "theta",
        _by_parity(ev, "user_id"),
        lambda stream, work: run_stream_theta_sketches(stream, spark, work),
        lambda work: read_theta_algebra(spark, work, pairs),
    )


def _q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-edge per-(user, type) debounce under the oracle: bursts
    chain while consecutive raw gaps < 1 h and each burst keeps its
    first event — the retry/double-fire suppressor; the oracle replays
    the lag+cumsum burst assignment
    (operators/sessions.py::debounce_events)."""
    from myasynstreamjoin_spark.operators.sessions import debounce_events

    _prep(spark)
    return debounce_events(tables.load_table(spark, sf_dir, "events"))


def _q_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-clock rate limit under the oracle: at most one event per
    (user, type) per 1 h bucket, integer floor-div bucketing
    (operators/sessions.py::throttle_events)."""
    from myasynstreamjoin_spark.operators.sessions import throttle_events

    _prep(spark)
    return throttle_events(tables.load_table(spark, sf_dir, "events"))


def _q_stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_debounce: events arrive in two ASCENDING
    event-time ranges; the burst chain continues across the boundary
    via one last-raw-ts state row per key (seeded into the batch
    kernel as a non-emittable pseudo-event), so the per-batch survivor
    sinks union to EXACTLY the batch answer — shared oracle
    (streaming/debounce.py)."""
    from myasynstreamjoin_spark.streaming.debounce import (
        read_kept_events,
        run_stream_debounce,
    )

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    return _stream_twin(
        "deb",
        _at_median(ev, "ts"),
        lambda stream, work: run_stream_debounce(stream, spark, work),
        lambda work: read_kept_events(spark, work),
    )


def _q_stream_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_throttle: ascending event-time batches;
    one (key, last_bucket) state row drops the later half of any
    bucket spanning the boundary, so the per-batch survivor sinks
    union to EXACTLY the batch answer — shared oracle
    (streaming/debounce.py::run_stream_throttle)."""
    from myasynstreamjoin_spark.streaming.debounce import (
        read_kept_events,
        run_stream_throttle,
    )

    _prep(spark)
    ev = tables.load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    return _stream_twin(
        "thr",
        _at_median(ev, "ts"),
        lambda stream, work: run_stream_throttle(stream, spark, work),
        lambda work: read_kept_events(spark, work),
    )


def _q_observed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe` under the oracle: per-stage pipeline
    metrics (rows/chars in, rows/chars surviving a fixed quality gate)
    collected as ACCUMULATOR-style observations riding the one data
    pass — the zero-extra-cost alternative to re-counting each stage
    with its own action; the returned frame is the metrics table and
    the oracle recomputes every number from scratch. The observation
    read is a driver-side control read of four longs."""
    from pyspark.sql import Observation

    from myasynstreamjoin_spark.functions.text import quality_score

    _prep(spark)
    docs = tables.load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    obs_in = Observation("in")
    obs_out = Observation("out")
    staged = docs.observe(
        obs_in,
        F.count(F.lit(1)).alias("n_in"),
        F.sum("n_chars").cast("long").alias("chars_in"),
    )
    gated = (
        staged.join(quality_score(staged), "doc_id")
        .where(F.col("quality") >= 0.5)
        .observe(
            obs_out,
            F.count(F.lit(1)).alias("n_pass"),
            F.sum("n_chars").cast("long").alias("chars_pass"),
        )
    )
    gated.count()  # one action drives both observation points
    m = {**obs_in.get, **obs_out.get}
    return spark.createDataFrame(
        [(k, int(m[k] or 0)) for k in ("n_in", "chars_in", "n_pass", "chars_pass")],
        "metric string, value long",
    )


def _q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_json_props' VARIANT twin: Spark 4's schema-less
    semi-structured type — try_parse_json once, typing at extraction
    via try_variant_get — with the from_json path's exact output
    contract, so both share one oracle
    (functions/json_ops.py::props_stats_variant)."""
    from myasynstreamjoin_spark.functions.json_ops import (
        props_stats_variant,
    )

    _prep(spark)
    return props_stats_variant(tables.load_table(spark, sf_dir, "events"))


def _q_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EDA-style augmentation under the oracle: disjoint
    adjacent-pair swaps then per-position deletions, every decision an
    md5 bucket of (doc_id, position, role, salt) — the oracle replays
    the exact variant token-for-token
    (functions/pipeline.py::augment_docs)."""
    from myasynstreamjoin_spark.functions.pipeline import augment_docs

    _prep(spark)
    return augment_docs(
        tables.load_table(spark, sf_dir, "documents"),
        p_swap_pct=10, p_delete_pct=10,
    )


def _q_link_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction negative sampling under the oracle: every
    co-purchase node pairs with the node half an md5-rotation away
    (fixed derangement-style pairing), real edges anti-joined out —
    the deterministic negative set a link predictor trains on; the
    oracle replays ranking, rotation, and the anti-join
    (operators/graph.py::link_negative_pairs)."""
    from myasynstreamjoin_spark.operators.graph import link_negative_pairs

    _prep(spark)
    return link_negative_pairs(_graph_edges(spark, sf_dir))


# Rotation policy #2 made mechanical (round 11): list here every
# registered query whose OPERATOR IMPLEMENTATION was touched this
# round (even semantics-neutral refactors — the q_pack_chunks lesson:
# pytest-mirror green is not driver green). tools/rotation_check.py
# FAILS loudly if an entry is not inside the first-50 driver window,
# so a re-shape can't silently coast on a stale green. Reset the list
# each round after the window is composed.
RESHAPED_THIS_ROUND: list[str] = [
    # r12: implementation re-shapes (results identical, construction
    # rewritten) — each re-enters the driver window for a REAL green
    # per rotation policy #2 (pytest-mirror green is not driver green):
    "q_regional_revenue",   # single-string SQL form (operators/sql_forms.py)
    "q_topk_revenue",       # single-string SQL form
    "q_tpch_q1",            # single-string SQL form
    "q_tpch_q3",            # single-string SQL form
    "q_tpch_q5",            # single-string SQL form
    "q_tpch_q9",            # single-string SQL form
    "q_tpch_q13",           # single-string SQL form
    "q_tpch_q18",           # single-string SQL form
    "q_stream_grammar",     # windowed min-count agg as one SQL string
    "q_bloom_decontaminate",  # positions/membership as parsed exprs
    "q_stream_decontaminate",  # rides bloom_decontaminate
    "q_ingest_e2e",         # rides bloom_decontaminate
    # r12 continuation: single-pass mark-and-aggregate folds (results
    # identical, one corpus-scale pass / join removed per operator):
    "q_line_dedup",             # _line_reassemble fold
    "q_stream_line_dedup",      # rides _line_reassemble
    "q_hygiene_e2e",            # rides line_dedup
    "q_line_dedup_incremental",  # status-carry fold
    "q_ngram_jaccard",          # df-cap set checkpointed once
    "q_dedup_audit",            # rides ngram_jaccard_pairs
    "q_dedup_clusters",         # rides ngram + components self-label fold
    "q_cluster_split",          # rides ngram + components
    "q_dedup_survivors",        # rides ngram + components
    "q_dup_spans",              # dup_span_stats fold
    "q_dataset_card",           # rides dup_span_stats
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver verifies the FIRST 50 entries against
    # their oracles (CORRECTNESS_r08 carried exactly 50); everything past
    # 50 is covered only by the repo's own
    # tests/test_oracle_parity.py mirror (same DuckDB check, sf0.001).
    # The head therefore holds the highest-value surface: the full
    # reference operator inventory, every event-time query, the
    # LLM-pipeline flagships (incl. funnel/cohort analytics), and three
    # streaming queries — and EVERY head entry is oracle-backed (the
    # former rows-only trio now replays via md5-based hashing). TPC-H
    # beyond Q1 and the remaining variants sit in the tail.
    return {
        # --- driver-verified head (positions 1-49) ---
        # reference operator inventory (SURVEY.md §2)
        "q_min_count_batch": _q_min_count_batch,          # A1/A2, J1 stateless
        "q_min_count_window": _q_min_count_window,        # A7/A8, J1 stateful
        "q_min_count_window_zero": _q_min_count_window_zero,  # A7 zero-semantics
        "q_word_count": _q_word_count,                    # A3
        "q_salted_word_count": _q_salted_word_count,      # X4 PKG analog
        "q_split_skew_count": _q_split_skew_count,        # X7 APK analog
        "q_collect_count": _q_collect_count,              # A6
        "q_max_window": _q_max_window,                    # A4
        "q_sum_window": _q_sum_window,                    # A5-ish (sum)
        "q_heavy_hitters": _q_heavy_hitters,              # A11
        "q_cms_heavy_hitters": _q_cms_heavy_hitters,      # A11 sketched (CMS)
        "q_skew_p1": _q_skew_p1,                          # A12
        "q_batch_stats": _q_batch_stats,                  # A10
        "q_star_count": _q_star_count,                    # J2
        "q_star_count_hypercube": _q_star_count_hypercube,  # J3/X13 analog
        "q_star_join": _q_star_join,                      # J2 on relational tables
        "q_parse_pipeline": _q_parse_pipeline,            # P1-P7
        "q_grammar_ingest": _q_grammar_ingest,            # S1 (md5 generator → SQL-replayable)
        # cost-model strategy selection (X8/X11/X12)
        "q_cost_model_batch": _q_cost_model_batch,
        "q_cost_model_window": _q_cost_model_window,
        # event-time / relational-window surface (all ts-arithmetic paths)
        "q_triangles": _q_triangles,                      # degree-ordered triangle census
        "q_stream_min_count_window": _q_stream_min_count_window,  # T2/T3, J1 streaming
        # --- rotating driver-window slots (23-50) ---
        # The driver independently verifies the first 50 registry
        # positions; the pytest mirror covers every oracle-backed
        # query every session. Positions 1-22 are the fixed SURVEY §2
        # inventory head. ROTATION POLICY (audited by
        # tools/rotation_check.py):
        #   1. Never-driver-checked oracle-backed queries fill slots
        #      first (union of CORRECTNESS_r*.json keys is the record).
        #   2. A RE-SHAPED query (operator semantics or oracle changed)
        #      always re-enters the next window for a REAL driver
        #      green — the q_pack_chunks / q_semantic_decontaminate
        #      lesson: pytest-mirror green is not driver green.
        #   3. Once the pool is empty (round 10 drains it), remaining
        #      slots re-verify by STALENESS: the queries whose latest
        #      driver green is oldest re-enter, oldest round first,
        #      ties in registry order. rotation_check.py prints the
        #      ranking; the next window takes its head.
        #   4. Every slot must be oracle-backed (rows-only queries are
        #      covered by pytest invariants, not the driver compare).
        # Round 12 set: policy #2 queue-jumpers first — every query
        # whose IMPLEMENTATION was re-shaped this round (single-string
        # SQL forms over stable views, Bloom expr rewrite, streaming
        # SQL agg; see RESHAPED_THIS_ROUND) re-enters for a REAL
        # driver green (q_star_join and q_stream_min_count_window are
        # also re-shaped but live in the fixed head, so the driver
        # checks them every round anyway); then policy #3 staleness:
        # the ranking head from tools/rotation_check.py (the r3 green
        # plus the oldest r4-era cohort). The displaced r11 members
        # move to the tail; q_ngram_jaccard / q_minhash_pairs /
        # q_simhash / q_dedup_clusters (r4) head the r13 window.
        "q_regional_revenue": _q_regional_revenue,        # policy #2 re-shape (SQL form)
        "q_tpch_q3": _q_tpch_q3,                          # policy #2 re-shape (SQL form)
        "q_tpch_q18": _q_tpch_q18,                        # policy #2 re-shape (SQL form)
        "q_topk_revenue": _q_topk_revenue,                # policy #2 re-shape (SQL form)
        "q_tpch_q1": _q_tpch_q1,                          # policy #2 re-shape (SQL form)
        "q_tpch_q5": _q_tpch_q5,                          # policy #2 re-shape (SQL form)
        "q_tpch_q9": _q_tpch_q9,                          # policy #2 re-shape (SQL form)
        "q_tpch_q13": _q_tpch_q13,                        # policy #2 re-shape (SQL form)
        "q_stream_grammar": _q_stream_grammar,            # policy #2 re-shape (SQL agg)
        "q_bloom_decontaminate": _q_bloom_decontaminate,  # policy #2 re-shape (expr rewrite)
        "q_stream_decontaminate": _q_stream_decontaminate,  # policy #2 (rides bloom)
        "q_ingest_e2e": _q_ingest_e2e,                    # policy #2 (rides bloom)
        # Continuation re-shapes (same round, second session — the
        # single-pass mark-and-aggregate folds; policy #2 queue-jump):
        "q_line_dedup": _q_line_dedup,                    # policy #2 re-shape (reassembly fold)
        "q_stream_line_dedup": _q_stream_line_dedup,      # policy #2 (rides _line_reassemble)
        "q_hygiene_e2e": _q_hygiene_e2e,                  # policy #2 (rides line_dedup)
        "q_line_dedup_incremental": _q_line_dedup_incremental,  # policy #2 (status-carry fold)
        "q_ngram_jaccard": _q_ngram_jaccard,              # policy #2 re-shape (df-cap checkpoint)
        "q_dedup_audit": _q_dedup_audit,                  # policy #2 (rides ngram)
        "q_dedup_clusters": _q_dedup_clusters,            # policy #2 (ngram + components fold)
        "q_cluster_split": _q_cluster_split,              # policy #2 (ngram + components)
        "q_dedup_survivors": _q_dedup_survivors,          # policy #2 (ngram + components)
        "q_dup_spans": _q_dup_spans,                      # policy #2 re-shape (span-stats fold)
        "q_dataset_card": _q_dataset_card,                # policy #2 (rides dup_span_stats)
        "q_rollup_pricing": _q_rollup_pricing,            # staleness re-entry (r3)
        "q_bm25": _q_bm25,                                # staleness re-entry (r4)
        "q_scd2": _q_scd2,                                # staleness re-entry (r4)
        "q_event_gaps": _q_event_gaps,                    # staleness re-entry (r4)
        "q_sliding_count": _q_sliding_count,              # staleness re-entry (r4)
        # --- tail (pytest oracle-parity mirror coverage) ---
        # displaced from slots 23-50 by the continuation re-shapes
        # (policy #2 outranks staleness; these r4 greens head the r13
        # staleness ranking together with the rest of the r4 cohort):
        "q_asof_join": _q_asof_join,                      # r4 green, displaced
        "q_sessionize": _q_sessionize,                    # r4 green, displaced
        "q_range_join": _q_range_join,                    # r4 green, displaced
        "q_funnel": _q_funnel,                            # r4 green, displaced
        "q_cohorts": _q_cohorts,                          # r4 green, displaced
        "q_textstats": _q_textstats,                      # r4 green, displaced
        "q_quality": _q_quality,                          # r4 green, displaced
        "q_langid": _q_langid,                            # r4 green, displaced
        "q_fingerprint": _q_fingerprint,                  # r4 green, displaced
        "q_dedup_exact": _q_dedup_exact,                  # r4 green, displaced
        "q_contamination": _q_contamination,              # r4 green, displaced
        # rotated out after the round-11 sweep (50/50 green):
        "q_rank_features": _q_rank_features,              # r11 green
        "q_grouping_sets": _q_grouping_sets,              # r11 green
        "q_approx_percentile": _q_approx_percentile,      # r11 green
        "q_json_props": _q_json_props,                    # r11 green
        "q_profile": _q_profile,                          # r11 green
        "q_topk_per_group": _q_topk_per_group,            # r11 green
        "q_distinct_users": _q_distinct_users,            # r11 green
        "q_repeat_customers": _q_repeat_customers,        # r11 green
        "q_churned_customers": _q_churned_customers,      # r11 green
        "q_sampled_revenue": _q_sampled_revenue,          # r11 green
        "q_customers_no_orders": _q_customers_no_orders,  # r11 green
        "q_tpch_q6": _q_tpch_q6,                          # r11 green
        "q_tpch_q17": _q_tpch_q17,                        # r11 green
        "q_tpch_q4": _q_tpch_q4,                          # r11 green
        "q_tpch_q7": _q_tpch_q7,                          # r11 green
        "q_tpch_q8": _q_tpch_q8,                          # r11 green
        "q_latest_event": _q_latest_event,                # r11 green
        "q_tpch_q14": _q_tpch_q14,                        # r11 green
        "q_latest_event_maxby": _q_latest_event_maxby,    # r11 green
        "q_simsearch_multi": _q_simsearch_multi,          # r11 green
        "q_stream_cdc_chunks": _q_stream_cdc_chunks,      # r11 green
        "q_cdc_chunks": _q_cdc_chunks,                    # r11 green
        "q_ann_recall": _q_ann_recall,                    # r11 green
        "q_stream_dedup": _q_stream_dedup,                # r11 green
        "q_stream_sessions": _q_stream_sessions,          # r11 green
        # rotated out after the round-10 sweep (50/50 green):
        "q_quota_sample": _q_quota_sample,                # largest-remainder exact-quota stratified sample
        "q_repetition": _q_repetition,
        "q_domain_mix": _q_domain_mix,                    # target-mixture deterministic sampling
        "q_group_cap": _q_group_cap,                      # fixed-k per-group deterministic cap
        "q_negative_pairs": _q_negative_pairs,            # contrastive negative sampling
        "q_vocab": _q_vocab,                              # DF vocabulary / stopword scan
        "q_pareto": _q_pareto,                            # 2-D skyline, no dominance cross-join
        "q_markov": _q_markov,                            # event-type transition matrix
        "q_attribution": _q_attribution,                  # first/last-touch, range window
        "q_setjoin": _q_setjoin,                          # exact prefix-filtered set-sim join
        "q_collocations": _q_collocations,                # bigram lift phrase mining
        "q_resample": _q_resample,                        # calendar gap-fill + trailing MA
        "q_span_corruption": _q_span_corruption,          # T5 denoising pair generation
        "q_snapshot_diff": _q_snapshot_diff,              # reverse CDC: version diff feed
        "q_cep_match": _q_cep_match,                      # pattern w/ veto, range window
        "q_join_profile": _q_join_profile,                # join-explosion diagnostics
        "q_mad_outliers": _q_mad_outliers,                # robust MAD gate, exact ints
        "q_compact_shards": _q_compact_shards,            # small-file compaction round trip
        "q_soft_dedup": _q_soft_dedup,                    # 1/n_copies weighting, effective sizes
        "q_assoc": _q_assoc,                              # chi²/Cramér's V lang×source
        "q_winsorize": _q_winsorize,                      # exact rank-based winsorized stats
        "q_retrieval_eval": _q_retrieval_eval,            # NDCG/MRR/P@k ranking quality
        "q_sorted_export": _q_sorted_export,              # range-partitioned global order
        "q_hard_negatives": _q_hard_negatives,            # contrastive hard-negative mining
        "q_boilerplate": _q_boilerplate,                  # per-source frequent-line report
        "q_fix_encoding": _q_fix_encoding,                # ftfy-lite mojibake repair
        "q_cube_pricing": _q_cube_pricing,                # staleness re-entry (r10 green)
        # rotated OUT of the driver window after 1-4 green rounds
        # (still verified by the pytest mirror every session)
        # rotated out after the round-9 sweep (50/50 green):
        "q_semantic_decontaminate": _q_semantic_decontaminate,  # embedding-space decon (re-shaped r9, REAL green r9)
        "q_stream_min_count_join": _q_stream_min_count_join,   # J1 via stream-stream join
        "q_stream_min_count_zero": _q_stream_min_count_zero,
        "q_stream_max_window": _q_stream_max_window,      # A4 via windowed max
        "q_stream_update": _q_stream_update,              # update-output-mode windowed counts
        "q_stream_sliding": _q_stream_sliding,            # streaming sliding windows
        "q_stream_enrich": _q_stream_enrich,              # stream-static broadcast join
        "q_stream_interval_join": _q_stream_interval_join,  # interval stream-stream join
        "q_stream_interval_join_outer": _q_stream_interval_join_outer,  # + outer null emission
        "q_stream_drift": _q_stream_drift,                # streaming PSI vs predecessor window
        "q_fk_audit": _q_fk_audit,                        # referential-integrity orphan audit
        "q_rolling_revenue": _q_rolling_revenue,
        "q_incr_agg": _q_incr_agg,                        # Δ-maintained count view == recompute
        "q_percentiles": _q_percentiles,
        "q_histogram": _q_histogram,                      # integer-exact equi-width histogram
        "q_media_decode": _q_media_decode,                # REAL WAV/PPM/BMP header decode
        "q_frame_sample": _q_frame_sample,
        "q_interleave_mm": _q_interleave_mm,              # interleaved text+image-ref assembly
        "q_data_budget": _q_data_budget,                  # waterfilling token budget
        "q_embed_cov": _q_embed_cov,                      # exact covariance matrix (Arrow Gram partials)
        "q_file_stats": _q_file_stats,                    # per-file data-skipping manifest
        "q_autocorr": _q_autocorr,                        # hourly-series autocorrelation (seasonality)
        "q_approx_distinct": _q_approx_distinct,
        "q_event_pivot": _q_event_pivot,
        "q_stratified_sample": _q_stratified_sample,
        "q_drift_timeline": _q_drift_timeline,            # per-window PSI vs predecessor, one pass
        "q_trend": _q_trend,                              # exact-integer per-key least-squares trend
        # rotated out after the round-8 sweep (50/50 green):
        "q_pack_chunks": _q_pack_chunks,                  # materialized packed samples (scalar digest, r7 re-shape)
        "q_simsearch_filtered": _q_simsearch_filtered,    # pre-filtered exact vector search
        "q_simsearch_multiprobe": _q_simsearch_multiprobe,  # multi-probe LSH (recall recovery)
        "q_simsearch_ivf": _q_simsearch_ivf,              # IVF ANN (index-replayable oracle)
        "q_ivf_index_search": _q_ivf_index_search,        # partition-pruned persisted ANN
        "q_dedup_incremental": _q_dedup_incremental,      # delta dedup vs persisted fp index
        "q_neardup_incremental": _q_neardup_incremental,  # delta near-dup vs MinHash index
        "q_star_join_cube": _q_star_join_cube,            # materializing hypercube join (J3/X13)
        "q_kll_quantiles": _q_kll_quantiles,              # quantile sketch bank — rank-contract oracle
        "q_theta_audience": _q_theta_audience,            # theta set algebra — exact-regime oracle
        "q_sketch_distinct": _q_sketch_distinct,          # HLL shard sketches — exact-coupon oracle
        "q_stream_theta": _q_stream_theta,                # streaming theta — shares the exact-regime oracle
        "q_webdataset_roundtrip": _q_webdataset_roundtrip,  # tar shard sink round trip
        "q_epoch_shuffle": _q_epoch_shuffle,              # seeded epoch reshuffle manifest
        "q_epoch_interleave": _q_epoch_interleave,        # stride-scheduled source mixing
        "q_epoch_curriculum": _q_epoch_curriculum,        # staged easy→hard epoch schedule
        "q_epoch_roundtrip": _q_epoch_roundtrip,          # epoch export/read under oracle
        "q_stream_cdc": _q_stream_cdc,                    # streaming MERGE → versioned snapshot
        "q_stream_expectations": _q_stream_expectations,  # per-window quality monitoring
        "q_stream_topk": _q_stream_topk,                  # complete-mode sort+limit
        "q_blocklist": _q_blocklist,                      # Aho-Corasick wordlist scan
        "q_embed_neardup_lsh": _q_embed_neardup_lsh,      # LSH cosine pairs — AUTO planes (re-shaped r8)
        "q_semantic_dedup": _q_semantic_dedup,            # SemDeDup pairs — AUTO seeds (re-shaped r8)
        # rotated out after the round-7 sweep (50/50 green):
        "q_debounce": _q_debounce,                        # leading-edge event debounce
        "q_throttle": _q_throttle,                        # fixed-clock event rate limit
        "q_stream_debounce": _q_stream_debounce,          # cross-batch burst-chain debounce
        "q_stream_throttle": _q_stream_throttle,          # cross-batch bucket rate limit
        "q_variant_props": _q_variant_props,              # VARIANT semi-structured twin
        "q_augment": _q_augment,                          # deterministic EDA augmentation
        "q_link_negatives": _q_link_negatives,            # link-prediction negative sampling
        "q_matryoshka": _q_matryoshka,                    # truncated-dim recall eval
        "q_ccnet_buckets": _q_ccnet_buckets,              # CCNet head/middle/tail terciles
        "q_observed_pipeline": _q_observed_pipeline,      # observe()-riding stage metrics
        "q_orc_roundtrip": _q_orc_roundtrip,              # hive-partitioned ORC round trip
        "q_unpivot": _q_unpivot,                          # wide→long melt + per-metric agg
        "q_budget_select": _q_budget_select,              # waterfilling plan materialized
        "q_stream_pipeline_e2e": _q_stream_pipeline_e2e,  # continuous corpus pipeline (shares the batch oracle)
        "q_stream_weighted_sample": _q_stream_weighted_sample,  # order-free streaming reservoir
        "q_embed_norm": _q_embed_norm,                    # unit vectors → order-sensitive digest (re-shaped r7)
        "q_embed_quant": _q_embed_quant,                  # int8 codes → order-sensitive digest (re-shaped r7)
        "q_tpch_q2": _q_tpch_q2,
        "q_tpch_q11": _q_tpch_q11,
        "q_tpch_q15": _q_tpch_q15,
        "q_tpch_q16": _q_tpch_q16,
        "q_tpch_q20": _q_tpch_q20,
        "q_tpch_q22": _q_tpch_q22,
        # rotated out after the round-6 sweep:
        "q_pack_sequences": _q_pack_sequences,            # greedy token-budget packing
        "q_domain_kl": _q_domain_kl,                      # per-source KL drift monitor
        "q_hash_split": _q_hash_split,                    # split-by-hash rollup
        "q_audio_stats": _q_audio_stats,                  # real-WAV PCM sample stats
        "q_psi": _q_psi,                                  # population-stability drift score
        "q_zorder": _q_zorder,                            # Z-order layout buckets
        "q_fuzzy_match": _q_fuzzy_match,                  # sorted-neighborhood fuzzy join
        "q_hybrid": _q_hybrid,                            # RRF hybrid lexical+dense retrieval
        "q_bootstrap": _q_bootstrap,                      # deterministic Poisson bootstrap
        "q_phrase_search": _q_phrase_search,              # exact phrase occurrence counts
        "q_remove_spans": _q_remove_spans,                # duplicate-span REMOVAL
        "q_stream_remove_spans": _q_stream_remove_spans,  # streaming span-removal twin
        "q_warc_roundtrip": _q_warc_roundtrip,            # WARC ingestion codec round-trip
        "q_char_entropy": _q_char_entropy,                # char-entropy gate (nano-grain oracle r7)
        "q_edge_table_degrees": _q_edge_table_degrees,    # bucketed edge-table path end-to-end
        "q_contamination_report": _q_contamination_report,  # multi-benchmark leak report
        "q_shard_manifest": _q_shard_manifest,            # deterministic shard-export manifest
        "q_stream_shard_manifest": _q_stream_shard_manifest,  # streaming manifest twin
        "q_tpch_q12": _q_tpch_q12,
        "q_tpch_q19": _q_tpch_q19,
        "q_tpch_q21": _q_tpch_q21,
        "q_doc_features": _q_doc_features,                # joined per-doc feature assembly
        "q_weighted_sample": _q_weighted_sample,          # Efraimidis–Spirakis weighted sample
        "q_temperature_mix": _q_temperature_mix,          # α-sampling mixture audit
        "q_simsearch_lsh": _q_simsearch_lsh,              # LSH-bucketed ANN top-k
        "q_pipeline_e2e": _q_pipeline_e2e,                # WARC→clean→gate→decon→pack→manifest chain
        # rotated out after the round-5 green sweep:
        "q_pagerank": _q_pagerank,                        # integer-exact PageRank
        "q_communities": _q_communities,                  # fixed-round label propagation
        "q_copurchase": _q_copurchase,                    # market-basket pair counts
        "q_event_sequences": _q_event_sequences,          # sequential-pattern n-grams
        "q_anomalies": _q_anomalies,                      # exact-integer z-score outliers
        "q_udtf_sentences": _q_udtf_sentences,            # Python UDTF tier (U1)
        "q_expectations": _q_expectations,                # declarative data-quality checks
        "q_langid_eval": _q_langid_eval,                  # langid confusion matrix
        "q_domain_terms": _q_domain_terms,                # log-odds corpus comparison
        "q_lm_bigram": _q_lm_bigram,                      # interpolated bigram-LM perplexity
        "q_tfidf": _q_tfidf,                              # per-doc TF-IDF top terms
        "q_pii_scrub": _q_pii_scrub,                      # PII span detection/redaction
        "q_chunk_docs": _q_chunk_docs,                    # overlapping doc chunking
        "q_quality_filter": _q_quality_filter,            # composite quality gate
        "q_dsir": _q_dsir,                                # DSIR importance resampling
        "q_winnow_pairs": _q_winnow_pairs,                # winnowing fingerprint overlap
        "q_simhash_pairs": _q_simhash_pairs,              # pigeonhole Hamming join
        "q_embed_neardup_exact": _q_embed_neardup_exact,  # exact cosine pair baseline
        "q_stream_neardup": _q_stream_neardup,            # streaming MinHash near-dup vs index
        "q_tpch_q10": _q_tpch_q10,
        "q_minhash_pairs": _q_minhash_pairs,              # replayable-mode LSH (md5_32)
        "q_simhash": _q_simhash,                          # md5_32 signatures → SQL-replayable
        "q_simsearch": _q_simsearch,
        "q_lm_perplexity": _q_lm_perplexity,              # unigram-LM perplexity quality gate
        "q_ts_similarity": _q_ts_similarity,
        "q_multimodal_meta": _q_multimodal_meta,
        # SQL-layer coverage the reference lacked (SURVEY.md §2.4 "missing")
        "q_cdc_merge": _q_cdc_merge,                      # MERGE INTO change-feed apply
        "q_pca": _q_pca,                                  # rows-only (LAPACK eigen; pytest invariants)
        "q_bpe_merges": _q_bpe_merges,                    # rows-only (iterative argmax; pytest vs reference BPE)
        "q_bpe_encode": _q_bpe_encode,                    # rows-only (vocab-once corpus tokenize; pytest parity + decode)
        "q_tokenize_pack": _q_tokenize_pack,              # rows-only (train->encode->pack composed; stages pytest-pinned)
        "q_image_neardup": _q_image_neardup,              # rows-only (perceptual aHash + banded Hamming; pytest vs brute force)
        "q_audio_neardup": _q_audio_neardup,              # rows-only (energy-trend fingerprint + banded Hamming; pytest vs brute force)
        # remaining data-pipeline operators
        "q_kmeans": _q_kmeans,                            # rows-only (iterative Lloyd — no SQL replay; pytest inertia-monotone + assignment invariants)
        "q_semantic_dedup_arrow": _q_semantic_dedup_arrow,  # rows-only (Arrow kernel twin)
        "q_semantic_decontaminate_arrow": _q_semantic_decontaminate_arrow,  # rows-only (Arrow kernel twin, parity-pinned)
        "q_pq_encode": _q_pq_encode,                      # rows-only (k-means codebooks are iterative seeded argmin — no SQL replay; pytest recon-error bound)
        "q_pq_topk": _q_pq_topk,                          # rows-only (ranks depend on the trained PQ codebooks; pytest recall-vs-exact bound)
        # remaining streaming queries
        "q_quality_classifier": _q_quality_classifier,    # rows-only (iterative logistic SGD — no SQL replay; pytest AUC/holdout invariants)
        "q_compression_ratio": _q_compression_ratio,      # rows-only (zlib codec not expressible in SQL; pytest monotonicity + known-ratio pins)
    }


# --------------------------------------------------------------------
# oracles (DuckDB SQL over the pre-registered table views)
# --------------------------------------------------------------------

_PER_SOURCE = f"""
    SELECT event_type AS key,
           epoch_ns(ts) // {LGW_NS} AS ltw,
           CAST(user_id % 3 AS INT) AS source,
           count(*) AS cnt
    FROM events GROUP BY 1, 2, 3
"""

_DOC_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"

#: SQL literal list DERIVED from the engine's stopword tuple — shared
#: by the langid oracles and the composed pipeline oracle, so editing
#: EN_STOPWORDS can never diverge the oracle from the engine.
from myasynstreamjoin_spark.functions.text import EN_STOPWORDS as _EN_SW

_SW_SQL = ", ".join(f"'{w}'" for w in _EN_SW)
_DOC_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

_SHINGLES = f"""
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len({_DOC_TOKENS}) >= 3 THEN
        list_transform(generate_series(1, len({_DOC_TOKENS}) - 2),
          i -> {_DOC_TOKENS}[i] || ' ' || {_DOC_TOKENS}[i+1] || ' ' || {_DOC_TOKENS}[i+2])
      ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS shingle
    FROM documents WHERE text IS NOT NULL
"""
# ^ the IS NOT NULL mirrors shingle_docs (functions/dedup.py), which
# drops null-text docs so its shingle arrays are non-empty by
# construction. The current fixture ships no NULL text (pinned in
# tests/test_schema_drift.py), but the oracle must track the operator's
# definition, not the fixture's accident.

#: Oracle-replayable 32-bit hash (functions.dedup.md5_32 in SQL): the
#: first 8 hex digits of md5 as a BIGINT in [0, 2³²).
_MD5_32 = "CAST(('0x' || substring(md5({x}), 1, 8)) AS BIGINT)"


def _pagerank_sql(n_iters: int = 3, damping_pct: int = 85, k: int = 20) -> str:
    """Unrolled integer-microunit PageRank (operators/graph.py): one
    CTE pair (contribution sum, rank update) per iteration — every
    operation is BIGINT //, so both engines compute identical bits."""
    mass = 1_000_000_000_000
    base = [
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "bounded AS (SELECT l_orderkey FROM items"
        " GROUP BY l_orderkey HAVING count(*) <= 64),",
        "edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst"
        " FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey"
        " AND a.l_partkey <> b.l_partkey"
        " JOIN bounded ON a.l_orderkey = bounded.l_orderkey),",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
        "nodes AS (SELECT DISTINCT src AS part FROM edges),",
        "nn AS (SELECT count(*) AS n FROM nodes),",
        f"r0 AS (SELECT part, {mass} // nn.n AS r FROM nodes, nn)",
    ]
    for t in range(1, n_iters + 1):
        base.append(
            f", c{t} AS (SELECT e.dst, sum(r.r // d.deg) AS s"
            f" FROM edges e JOIN deg d ON e.src = d.src"
            f" JOIN r{t-1} r ON e.src = r.part GROUP BY e.dst)"
        )
        base.append(
            f", r{t} AS (SELECT nodes.part,"
            f" {100 - damping_pct} * {mass} // (100 * nn.n)"
            f" + ({damping_pct} * coalesce(c{t}.s, 0)) // 100 AS r"
            f" FROM nodes LEFT JOIN c{t} ON nodes.part = c{t}.dst, nn)"
        )
    base.append(
        # integer-ppm rounding then exact IEEE division (matches
        # operators/graph.py) — no engine-dependent round(double, 6)
        f"SELECT part, CAST((r * 1000000 + {mass // 2}) // {mass}"
        f" AS DOUBLE) / 1000000.0 AS rank"
        f" FROM r{n_iters} ORDER BY rank DESC, part LIMIT {k}"
    )
    return "\n".join(base)


def _lpa_sql(n_rounds: int = 3) -> str:
    """Unrolled fixed-round label propagation
    (operators/graph.py::label_propagation_copurchase): per round, a
    neighbor-label count and a (count DESC, label ASC) argmax — all
    integer ops, bit-identical across engines."""
    base = [
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "bounded AS (SELECT l_orderkey FROM items"
        " GROUP BY l_orderkey HAVING count(*) <= 64),",
        "edges AS (SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr"
        " FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey"
        " AND a.l_partkey <> b.l_partkey"
        " JOIN bounded ON a.l_orderkey = bounded.l_orderkey),",
        "l0 AS (SELECT DISTINCT node, node AS label FROM edges)",
    ]
    for t in range(1, n_rounds + 1):
        base.append(
            f", c{t} AS (SELECT e.node, l.label, count(*) AS c"
            f" FROM edges e JOIN l{t-1} l ON l.node = e.nbr GROUP BY 1, 2)"
        )
        base.append(
            f", l{t} AS (SELECT node, label FROM c{t}"
            f" QUALIFY row_number() OVER (PARTITION BY node"
            f" ORDER BY c DESC, label ASC) = 1)"
        )
    base.append(
        f"SELECT node AS part, label AS community FROM l{n_rounds}"
    )
    return "\n".join(base)


def _oracle_sql_base() -> dict[str, str]:
    from myasynstreamjoin_spark.functions.dedup import minhash_coeffs
    from myasynstreamjoin_spark.functions.similarity import (
        _random_hyperplanes,
        ndcg_discounts_ppm,
    )
    from myasynstreamjoin_spark.operators.zorder import zvalue_sql

    # the NDCG rank discounts and their prefix sums as ppm literals —
    # constants of the metric, shared with retrieval_metrics so the
    # oracle replays the identical integer arithmetic
    _nd = ndcg_discounts_ppm(10)
    _np = [sum(_nd[: i + 1]) for i in range(10)]
    _nd_sql = "[" + ", ".join(str(x) for x in _nd) + "]"
    _np_sql = "[" + ", ".join(str(x) for x in _np) + "]"

    # the seed-42 sign-LSH hyperplanes as double literals: the planes
    # are baked into the Spark plan the same way, so DuckDB replays the
    # identical bucket ids (sign flips need |dot| within ~1 ulp of 0 —
    # vanishing for random vectors)
    def _bucket_sql(n_planes: int, seed: int = 42) -> str:
        planes = _random_hyperplanes(64, n_planes, seed)
        terms = []
        for i, pl in enumerate(planes):
            arr = "[" + ", ".join(repr(float(x)) for x in pl) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(e, {arr}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    def _masked_bucket_sql(k_max: int = 24, seed: int = 42) -> str:
        """Auto-plane-count bucket expression (round 8): bakes k_max
        plane literals but masks plane i unless i < kk.k, where kk.k
        is the SAME integer-exact auto rule the engine uses (smallest
        k ≥ 4 with 256·2^k ≥ count(*)). seed-42 randn planes are
        PREFIX-STABLE in the plane count (row-major fill), so the
        first k literals here equal the engine's k-plane set at any
        corpus size up to 256·2^k_max vectors — the oracle adapts to
        N instead of pinning a scale-killing literal."""
        planes = _random_hyperplanes(64, k_max, seed)
        terms = []
        for i, pl in enumerate(planes):
            arr = "[" + ", ".join(repr(float(x)) for x in pl) + "]"
            terms.append(
                f"(CASE WHEN {i} < kk.k"
                f" AND list_dot_product(e, {arr}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    def _margin_union_sql(n_planes: int, seed: int = 42) -> str:
        """One SELECT per plane: (plane idx, |query·plane| rounded 6)
        — the multi-probe flip ranking, replayed on literal planes."""
        planes = _random_hyperplanes(64, n_planes, seed)
        parts = []
        for i, pl in enumerate(planes):
            arr = "[" + ", ".join(repr(float(x)) for x in pl) + "]"
            parts.append(
                f"SELECT {i} AS i, round(abs(list_dot_product(qe, {arr})), 6)"
                f" AS am FROM q"
            )
        return "\n              UNION ALL ".join(parts)

    _COS4 = ("round(list_dot_product({a}, {b})"
             " / (sqrt(list_dot_product({a}, {a}))"
             "    * sqrt(list_dot_product({b}, {b}))), 4)")
    _COS6 = ("round(list_dot_product({a}, {b})"
             " / (sqrt(list_dot_product({a}, {a}))"
             "    * sqrt(list_dot_product({b}, {b}))), 6)")

    def _ann_recall_sql() -> str:
        """Recall@10 of the (deterministic, replayable) multi-table
        LSH and IVF indices against exact search — every index
        decision replays because buckets are sign-of-dot on literal
        planes and cell assignment/probe rank round to 6 before
        comparison."""
        bcols = ",\n                   ".join(
            f"{_bucket_sql(3, 42 + 1000 * t)} AS b{t}" for t in range(8)
        )
        qcols = ", ".join(f"b{t} AS qb{t}" for t in range(8))
        bmatch = " OR ".join(f"b.b{t} = q.qb{t}" for t in range(8))
        cos_ve = _COS4.format(a="v.e", b="q.qe")
        cos_ce = _COS4.format(a="c.e", b="c.qe")
        cos_ae = _COS4.format(a="a.e", b="q.qe")
        return f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            bks AS (SELECT vec_id, e,
                   {bcols}
                   FROM v),
            qs AS (SELECT vec_id AS query_id, e AS qe, {qcols}
                   FROM bks WHERE vec_id < 16),
            ex_sc AS (SELECT q.query_id, v.vec_id, {cos_ve} AS cos
                      FROM v, qs q WHERE v.vec_id <> q.query_id),
            ex_rk AS (SELECT query_id, vec_id, row_number() OVER (
                        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
                      FROM ex_sc),
            exact_k AS (SELECT query_id, vec_id FROM ex_rk WHERE rn <= 10),
            lsh_cand AS (SELECT DISTINCT q.query_id, b.vec_id, b.e, q.qe
                         FROM bks b, qs q
                         WHERE b.vec_id <> q.query_id AND ({bmatch})),
            lsh_sc AS (SELECT query_id, vec_id, {cos_ce} AS cos
                       FROM lsh_cand c),
            lsh_rk AS (SELECT query_id, vec_id, row_number() OVER (
                         PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
                       FROM lsh_sc),
            lsh_k AS (SELECT query_id, vec_id FROM lsh_rk WHERE rn <= 10),
            cent0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16),
            centroids AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                                 e AS ce FROM cent0),
            asg AS (SELECT v.vec_id, v.e, c.cell, row_number() OVER (
                      PARTITION BY v.vec_id
                      ORDER BY {_COS6.format(a="v.e", b="c.ce")} DESC, c.cell) AS rn
                    FROM v CROSS JOIN centroids c),
            assigned AS (SELECT vec_id, e, cell FROM asg WHERE rn = 1),
            cprobe AS (SELECT q.query_id, c.cell, row_number() OVER (
                         PARTITION BY q.query_id
                         ORDER BY {_COS6.format(a="c.ce", b="q.qe")} DESC, c.cell) AS crn
                       FROM centroids c, qs q),
            probe AS (SELECT query_id, cell FROM cprobe WHERE crn <= 4),
            ivf_sc AS (SELECT q.query_id, a.vec_id, {cos_ae} AS cos
                       FROM assigned a
                       JOIN probe p ON a.cell = p.cell
                       JOIN qs q ON q.query_id = p.query_id
                       WHERE a.vec_id <> q.query_id),
            ivf_rk AS (SELECT query_id, vec_id, row_number() OVER (
                         PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
                       FROM ivf_sc),
            ivf_k AS (SELECT query_id, vec_id FROM ivf_rk WHERE rn <= 10),
            hits_l AS (SELECT e.query_id, count(*) AS h FROM exact_k e
                       JOIN lsh_k l ON e.query_id = l.query_id
                                   AND e.vec_id = l.vec_id
                       GROUP BY e.query_id),
            hits_i AS (SELECT e.query_id, count(*) AS h FROM exact_k e
                       JOIN ivf_k i ON e.query_id = i.query_id
                                   AND e.vec_id = i.vec_id
                       GROUP BY e.query_id),
            qids AS (SELECT DISTINCT query_id FROM exact_k)
            SELECT 10 AS k, count(*) AS n_queries,
                   round(avg(coalesce(hl.h, 0) / 10.0), 4) AS recall_lsh,
                   round(avg(coalesce(hi.h, 0) / 10.0), 4) AS recall_ivf
            FROM qids
            LEFT JOIN hits_l hl USING (query_id)
            LEFT JOIN hits_i hi USING (query_id)
        """

    # the same seed-42 affine coefficients the Spark MinHash uses,
    # embedded as literals so DuckDB replays the identical signatures
    mh_coef = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(32))
    )

    # the shared Poisson(1) cumulative thresholds (exact literal table;
    # weight = #thresholds ≤ bucket) for the deterministic bootstrap
    from myasynstreamjoin_spark.operators.stats import poisson_thresholds

    pois_w = " + ".join(
        f"(CASE WHEN b >= {t} THEN 1 ELSE 0 END)"
        for t in poisson_thresholds()
    )

    sw = _SW_SQL
    return {
        "q_min_count_batch": """
            WITH per_source AS (
              SELECT event_type AS key, CAST(user_id % 3 AS INT) AS source,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2)
            SELECT key, CAST(min(cnt) AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key
        """,
        "q_min_count_window": f"""
            WITH per_source AS ({_PER_SOURCE})
            SELECT key, ltw, CAST(min(cnt) AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key, ltw HAVING count(*) = 3
        """,
        "q_min_count_window_zero": f"""
            WITH per_source AS ({_PER_SOURCE})
            SELECT key, ltw,
                   CAST(CASE WHEN count(*) = 3 THEN min(cnt) ELSE 0 END AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key, ltw
        """,
        "q_word_count": """
            SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1
        """,
        "q_salted_word_count": """
            SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1
        """,
        "q_split_skew_count": """
            SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1
        """,
        "q_collect_count": """
            SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1
        """,
        "q_max_window": f"""
            SELECT event_type AS key, epoch_ns(ts) // {LGW_NS} AS ltw,
                   CAST(max(CAST(floor(value) AS INT)) AS BIGINT) AS agg_val
            FROM events GROUP BY 1, 2
        """,
        "q_sum_window": f"""
            SELECT event_type AS key, epoch_ns(ts) // {LGW_NS} AS ltw,
                   CAST(sum(CAST(floor(value) AS INT)) AS BIGINT) AS agg_val
            FROM events GROUP BY 1, 2
        """,
        "q_heavy_hitters": """
            WITH counts AS (
              SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1),
            t AS (SELECT count(*) AS total FROM events)
            SELECT key, cnt FROM counts, t WHERE cnt > 0.2 * total / 12
        """,
        "q_cms_heavy_hitters": """
            WITH counts AS (
              SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1),
            t AS (SELECT count(*) AS total FROM events)
            SELECT key, cnt, cnt AS cms_est, TRUE AS detected
            FROM counts, t WHERE cnt > 0.2 * total / 12
        """,
        "q_skew_p1": """
            WITH counts AS (SELECT count(*) AS cnt FROM events GROUP BY event_type)
            SELECT max(cnt) AS max_cnt, CAST(sum(cnt) AS BIGINT) AS total,
                   round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 9) AS p1
            FROM counts
        """,
        "q_batch_stats": """
            WITH counts AS (
              SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
            SELECT total AS m_total, count(*) AS k_keys, max(cnt) AS max_cnt,
                   CAST(sum(CASE WHEN cnt > 0.2 * total / 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
                   CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
                   round(CAST(max(cnt) AS DOUBLE) / CAST(total AS DOUBLE), 9) AS p1
            FROM counts, t GROUP BY total
        """,
        "q_star_count": """
            WITH per_rel AS (
              SELECT event_type AS key, CAST(user_id % 3 AS INT) AS rel, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            wide AS (
              SELECT key,
                     max(CASE WHEN rel = 0 THEN cnt END) AS c0,
                     max(CASE WHEN rel = 1 THEN cnt END) AS c1,
                     max(CASE WHEN rel = 2 THEN cnt END) AS c2
              FROM per_rel GROUP BY key)
            SELECT key, CAST(c0 * c1 * c2 AS BIGINT) AS card
            FROM wide WHERE c0 IS NOT NULL AND c1 IS NOT NULL AND c2 IS NOT NULL
        """,
        # The materializing hypercube join must equal the counts-product
        # over the same distinct filtered payload set: each (x0,x1,x2)
        # triple meets in exactly one cube cell, so count(*) per key of
        # the materialized rows IS c0*c1*c2.
        "q_star_join_cube": """
            WITH d AS (
              SELECT DISTINCT event_type AS key, CAST(user_id % 3 AS INT) AS rel,
                     CAST(floor(value) AS INT) AS x
              FROM events WHERE CAST(floor(value) AS INT) % 8 = 0),
            per_rel AS (
              SELECT key, rel, count(*) AS cnt FROM d GROUP BY 1, 2),
            wide AS (
              SELECT key,
                     max(CASE WHEN rel = 0 THEN cnt END) AS c0,
                     max(CASE WHEN rel = 1 THEN cnt END) AS c1,
                     max(CASE WHEN rel = 2 THEN cnt END) AS c2
              FROM per_rel GROUP BY key)
            SELECT key, CAST(c0 * c1 * c2 AS BIGINT) AS card
            FROM wide WHERE c0 IS NOT NULL AND c1 IS NOT NULL AND c2 IS NOT NULL
        """,
        "q_star_count_hypercube": """
            WITH per_rel AS (
              SELECT event_type AS key, CAST(user_id % 3 AS INT) AS rel, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            wide AS (
              SELECT key,
                     max(CASE WHEN rel = 0 THEN cnt END) AS c0,
                     max(CASE WHEN rel = 1 THEN cnt END) AS c1,
                     max(CASE WHEN rel = 2 THEN cnt END) AS c2
              FROM per_rel GROUP BY key)
            SELECT key, CAST(c0 * c1 * c2 AS BIGINT) AS card
            FROM wide WHERE c0 IS NOT NULL AND c1 IS NOT NULL AND c2 IS NOT NULL
        """,
        "q_star_join": """
            SELECT c_mktsegment, count(*) AS n
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "q_parse_pipeline": """
            SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1
        """,
        "q_topk_revenue": """
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q_tpch_q1": """
            WITH agg AS (
              SELECT l_returnflag, l_linestatus,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sbp,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                         (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS sdp,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                         (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) *
                         (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))) AS sc,
                     sum(CAST(l_discount AS DECIMAL(18,4))) AS sd,
                     count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus)
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sq, 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sbp, 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sdp, 2) AS DOUBLE) AS sum_disc_price,
                   CAST(round(sc, 2) AS DOUBLE) AS sum_charge,
                   round(CAST(sq AS DOUBLE) / count_order, 4) AS avg_qty,
                   round(CAST(sbp AS DOUBLE) / count_order, 4) AS avg_price,
                   round(CAST(sd AS DOUBLE) / count_order, 6) AS avg_disc,
                   count_order
            FROM agg
        """,
        "q_rollup_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q_cube_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "q_sliding_count": """
            WITH e AS (SELECT event_type AS key,
                              epoch_ns(ts) // 1000000 AS ms
                       FROM events),
            x AS (SELECT key, ms, unnest(generate_series(0, 1)) AS k FROM e)
            SELECT key,
                   (ms // 3600000 - k) * 3600000 AS win_start_ms,
                   count(*) AS n
            FROM x GROUP BY 1, 2
        """,
        "q_tpch_q14": """
            WITH li AS (
              SELECT l_partkey,
                     CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-09-01'
                AND l_shipdate <  TIMESTAMP '1997-10-01')
            SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                              THEN rev ELSE 0 END) AS DOUBLE)
                         / CAST(sum(rev) AS DOUBLE), 6) AS promo_revenue_pct,
                   CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
            FROM li JOIN part ON p_partkey = l_partkey
        """,
        "q_profile": """
            SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
                   CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
                   CAST(min(l_orderkey) AS VARCHAR) AS min_val,
                   CAST(max(l_orderkey) AS VARCHAR) AS max_val
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', count(*),
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_quantity) AS BIGINT),
                   CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag', count(*),
                   CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_returnflag) AS BIGINT),
                   CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
            FROM lineitem
            UNION ALL
            SELECT 'l_shipdate', count(*),
                   CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_shipdate) AS BIGINT),
                   CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
            FROM lineitem
        """,
        "q_json_props": """
            SELECT event_type,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INT) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
                   CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
                   max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "q_event_gaps": """
            WITH g AS (
              SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS gap
              FROM events)
            SELECT user_id, count(*) AS n_gaps,
                   CAST(sum(gap) // count(*) AS BIGINT) AS avg_gap_us,
                   max(gap) AS max_gap_us
            FROM g WHERE gap IS NOT NULL GROUP BY user_id
        """,
        "q_latest_event": """
            SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
                   round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY epoch_us(ts) DESC,
                                                        event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "q_scd2": """
            SELECT user_id, event_type,
                   epoch_us(ts) AS valid_from_us,
                   lead(epoch_us(ts)) OVER w AS valid_to_us,
                   lead(epoch_us(ts)) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(ts) ASC, event_id ASC)
        """,
        "q_latest_event_maxby": """
            SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
                   round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY epoch_us(ts) DESC,
                                                        event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "q_rank_features": """
            SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS c_acctbal,
                   CAST(ntile(4) OVER w AS INTEGER) AS tile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal ASC, c_custkey ASC)
        """,
        "q_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """,
        "q_approx_percentile": """
            SELECT event_type,
                   round(quantile_cont(value, 0.50), 6) AS p50_exact,
                   TRUE AS approx_ok
            FROM events GROUP BY event_type
        """,
        "q_pagerank": _pagerank_sql(),
        "q_communities": _lpa_sql(),
        # The oracle IS the from-scratch recompute over the post-feed
        # row set — the strongest possible check of Δ-maintenance.
        "q_incr_agg": """
            SELECT o_custkey, count(*) AS cnt
            FROM orders
            WHERE o_orderkey % 5 = 0
               OR (o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0)
            GROUP BY o_custkey
        """,
        # Densified hourly grid, integer cross-multiplied centering,
        # one division per (type, lag) — no float accumulation.
        "q_autocorr": """
            WITH counts AS (
              SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            bounds AS (
              SELECT event_type, min(h) AS mn, max(h) AS mx
              FROM counts GROUP BY 1),
            grid AS (
              SELECT event_type, unnest(generate_series(mn, mx)) AS h
              FROM bounds),
            dense AS (
              SELECT g.event_type, g.h,
                     CAST(coalesce(c.c, 0) AS HUGEINT) AS c
              FROM grid g LEFT JOIN counts c
                ON c.event_type = g.event_type AND c.h = g.h),
            stats AS (
              SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                     sum(c) AS s
              FROM dense GROUP BY 1),
            centered AS (
              SELECT d.event_type, d.h, st.n * d.c - st.s AS d
              FROM dense d JOIN stats st USING (event_type)),
            den AS (
              SELECT event_type, sum(d * d) AS den
              FROM centered GROUP BY 1),
            num AS (
              SELECT a.event_type, b.h - a.h AS lag, sum(a.d * b.d) AS num
              FROM centered a JOIN centered b
                ON b.event_type = a.event_type
               AND b.h > a.h AND b.h <= a.h + 24
              GROUP BY 1, 2)
            SELECT n.event_type, n.lag,
                   round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
                     AS acf
            FROM num n JOIN den d USING (event_type)
        """,
        # The fixture table is one physical file, so the manifest is
        # one row named after it; multi-file layouts are pytest-covered
        # (the oracle's view surface has no per-file identity).
        "q_file_stats": """
            SELECT 'events.parquet' AS file_name,
                   count(*) AS n_rows,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id,
                   min(value) AS min_value,
                   max(value) AS max_value
            FROM events
        """,
        # Integer milli-unit bucket arithmetic: DIV on exact ints,
        # bounds from one aggregate — no float bucket boundaries.
        "q_histogram": """
            WITH vals AS (
              SELECT CAST(round(value * 1000) AS BIGINT) AS xq
              FROM events WHERE value IS NOT NULL),
            b AS (SELECT min(xq) AS mn, max(xq) AS mx FROM vals),
            bucketed AS (
              SELECT ((xq - mn) * 20) // (mx - mn + 1) AS bucket, mn, mx
              FROM vals, b)
            SELECT bucket,
                   round((mn + bucket * (mx - mn + 1) / 20) / 1000.0, 6)
                     AS lo,
                   round((mn + (bucket + 1) * (mx - mn + 1) / 20) / 1000.0, 6)
                     AS hi,
                   count(*) AS n
            FROM bucketed GROUP BY bucket, mn, mx
        """,
        # Per-term nano-nat contributions summed as integers; the
        # log-ratio argument is one division of exact integer products.
        "q_domain_kl": f"""
            WITH tok AS (
              SELECT source, unnest({_DOC_TOKENS}) AS term FROM documents),
            tok2 AS (SELECT * FROM tok WHERE term <> ''),
            per_src AS (SELECT source, term, count(*) AS cs
                        FROM tok2 GROUP BY source, term),
            corpus AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term),
            src_tot AS (SELECT source, sum(cs) AS ts
                        FROM per_src GROUP BY source),
            tot AS (SELECT sum(c) AS t FROM corpus),
            contrib AS (
              SELECT p.source, s.ts,
                     CAST(round((CAST(p.cs AS DOUBLE) / s.ts)
                                * ln((p.cs * t.t) / (s.ts * c.c))
                                * 1e9) AS BIGINT) AS nano
              FROM per_src p
              JOIN corpus c USING (term)
              JOIN src_tot s USING (source)
              CROSS JOIN tot t)
            SELECT source, CAST(max(ts) AS BIGINT) AS n_tokens,
                   round(sum(nano) / 1e9, 6) AS kl
            FROM contrib GROUP BY source
        """,
        # Integer-quantized Gram sums in HUGEINT == the engine's
        # DECIMAL(38,0) partial-matmul reduction; covariance is one
        # exact cross-multiplied division on both sides.
        "q_embed_cov": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            x AS (SELECT vec_id,
                         generate_subscripts(e, 1) - 1 AS i,
                         CAST(round(unnest(e) * 1e6) AS HUGEINT) AS xi
                  FROM v),
            n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM v),
            s1 AS (SELECT i, sum(xi) AS si FROM x GROUP BY i),
            s2 AS (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS s
                   FROM x a JOIN x b
                     ON a.vec_id = b.vec_id AND b.i >= a.i
                   GROUP BY a.i, b.i)
            SELECT CAST(s2.i AS INTEGER) AS i, CAST(s2.j AS INTEGER) AS j,
                   round(CAST(n.n * s2.s - sa.si * sb.si AS DOUBLE)
                         / CAST(n.n * n.n * 1000000 * CAST(1000000 AS HUGEINT)
                                AS DOUBLE), 9) AS cov
            FROM s2
            JOIN s1 sa ON sa.i = s2.i
            JOIN s1 sb ON sb.i = s2.j
            CROSS JOIN n
        """,
        # The UDTF's segmentation replayed relationally: split on
        # [.!?]+ runs, trim/collapse whitespace, drop empties, index.
        "q_udtf_sentences": """
            WITH segs AS (
              SELECT doc_id,
                     regexp_replace(trim(lower(seg)), '\\s+', ' ', 'g')
                       AS sentence,
                     i
              FROM (
                SELECT doc_id,
                       unnest(string_split_regex(text, '[.!?]+')) AS seg,
                       generate_subscripts(
                         string_split_regex(text, '[.!?]+'), 1) AS i
                FROM documents)),
            kept AS (
              SELECT doc_id, sentence,
                     row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
                       AS sent_idx
              FROM segs WHERE sentence <> '')
            SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, sentence,
                   CAST(len(string_split(sentence, ' ')) AS INTEGER)
                     AS n_tokens
            FROM kept
        """,
        # Efraimidis–Spirakis replay: same md5 uniform, same ln(u)/w
        # key (identical doubles in both engines), same id tiebreak.
        "q_weighted_sample": f"""
            WITH scored AS (
              SELECT doc_id,
                     round((CAST(len(list_distinct({_DOC_TOKENS})) AS DOUBLE)
                            / len({_DOC_TOKENS}))
                           * least(len({_DOC_TOKENS}) / 50.0, 1.0), 6)
                       AS quality
              FROM documents),
            keyed AS (
              SELECT doc_id, quality,
                     ln((CAST(CAST(('0x' || substring(
                            md5(CAST(doc_id AS VARCHAR) || 'wrs'), 1, 4))
                          AS INT) % 65536 AS DOUBLE) + 0.5) / 65536.0)
                       / quality AS wkey
              FROM scored WHERE quality > 0)
            SELECT doc_id, quality FROM keyed
            ORDER BY wkey DESC, doc_id LIMIT 50
        """,
        # α-weights normalize through integer micro-units (order-free
        # sum); rates round to 9 so both engines compare identical
        # doubles against the md5 bucket.
        "q_temperature_mix": """
            WITH c AS (SELECT source, count(*) AS n
                       FROM documents GROUP BY source),
            s AS (SELECT source, n,
                         CAST(round(pow(n, 0.3) * 1e6) AS BIGINT) AS p
                  FROM c),
            t AS (SELECT sum(p) AS tot FROM s),
            r AS (SELECT source, n,
                         round(least(1.0, (p / tot) * 300.0 / n), 9) AS rate
                  FROM s, t),
            surv AS (
              SELECT d.source, count(*) AS n_sampled
              FROM documents d JOIN r USING (source)
              WHERE CAST(('0x' || substring(
                        md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 4))
                      AS INT) % 65536 < rate * 65536
              GROUP BY d.source)
            SELECT r.source, r.n AS n_docs,
                   coalesce(surv.n_sampled, 0) AS n_sampled
            FROM r LEFT JOIN surv USING (source)
        """,
        # Positional-index formulation (vs the engine's map-only
        # shifted-slice zip): postings of the 3 phrase terms self-join
        # on (doc, pos+offset) — a genuine cross-check, not a replay.
        "q_phrase_search": f"""
            WITH tok AS (
              SELECT doc_id,
                     unnest({_DOC_TOKENS}) AS term,
                     generate_subscripts({_DOC_TOKENS}, 1) AS pos
              FROM documents)
            SELECT a.doc_id, CAST(count(*) AS INTEGER) AS n_matches
            FROM tok a
            JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
            WHERE a.term = 'slow' AND b.term = 'hash' AND c.term = 'batch'
            GROUP BY a.doc_id
        """,
        # |x-μ| > 3σ cross-multiplied to integers (HUGEINT == the
        # engine's DECIMAL(38,0) milli-unit arithmetic): no float path.
        "q_anomalies": """
            WITH ev AS (
              SELECT event_type, event_id, value,
                     CAST(round(value * 1000) AS HUGEINT) AS x
              FROM events),
            st AS (
              SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                     sum(x) AS s, sum(x * x) AS ss
              FROM ev GROUP BY event_type)
            SELECT event_type, event_id, value
            FROM ev JOIN st USING (event_type)
            WHERE (n * x - s) * (n * x - s) > 9 * (n * ss - s * s)
        """,
        # Same orientation trick in SQL: CASE picks the lower-(deg,id)
        # endpoint; wedge + EXISTS closes each triangle exactly once.
        "q_triangles": """
            WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            ok AS (SELECT l_orderkey FROM items
                   GROUP BY l_orderkey HAVING count(*) <= 64),
            bounded AS (SELECT i.* FROM items i JOIN ok USING (l_orderkey)),
            edges AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM bounded a JOIN bounded b USING (l_orderkey)
              WHERE a.l_partkey < b.l_partkey),
            deg AS (
              SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM edges
                UNION ALL SELECT v FROM edges) GROUP BY node),
            wd AS (
              SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
              FROM edges e
              JOIN deg du ON du.node = e.u
              JOIN deg dv ON dv.node = e.v),
            oriented AS (
              SELECT CASE WHEN du < dv OR (du = dv AND u < v)
                          THEN u ELSE v END AS lo,
                     CASE WHEN du < dv OR (du = dv AND u < v)
                          THEN v ELSE u END AS hi,
                     CASE WHEN du < dv OR (du = dv AND u < v)
                          THEN dv ELSE du END AS dhi
              FROM wd),
            wedge AS (
              SELECT e1.hi AS x, e2.hi AS y
              FROM oriented e1 JOIN oriented e2 ON e1.lo = e2.lo
              WHERE e1.dhi < e2.dhi
                 OR (e1.dhi = e2.dhi AND e1.hi < e2.hi)),
            tri AS (
              SELECT count(*) AS n_triangles FROM wedge w
              WHERE EXISTS (SELECT 1 FROM oriented o
                            WHERE o.lo = w.x AND o.hi = w.y)),
            stats AS (
              -- CAST: DuckDB SUM(BIGINT) yields HUGEINT (Arrow
              -- decimal128(38,0)); the driver's value hash is typed, so
              -- an un-cast sum reads as a mismatch against Spark's
              -- bigint even when values are identical.
              SELECT count(*) AS n_nodes,
                     CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
                     CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
              FROM deg)
            SELECT n_nodes, n_edges, n_wedges, n_triangles,
                   -- integer-ppm rounding then one IEEE division: engines
                   -- disagree on the low bit of round(double, 6) but never
                   -- on BIGINT arithmetic or correctly-rounded division
                   CAST((3 * n_triangles * 1000000 + n_wedges // 2)
                        // n_wedges AS DOUBLE) / 1000000.0 AS closure
            FROM stats CROSS JOIN tri
        """,
        "q_langid_eval": f"""
            WITH scored AS (
              SELECT doc_id,
                     round(CAST(len(list_filter(list_distinct({_DOC_TOKENS}),
                                                x -> x IN ({sw}))) AS DOUBLE)
                           / len(list_distinct({_DOC_TOKENS})), 6) AS en_ratio
              FROM documents),
            pred AS (
              SELECT doc_id,
                     CASE WHEN en_ratio > 0.05 THEN 'en' ELSE 'other' END
                       AS lang_guess
              FROM scored)
            SELECT d.lang, p.lang_guess, count(*) AS n_docs
            FROM documents d JOIN pred p USING (doc_id)
            GROUP BY 1, 2
        """,
        "q_domain_terms": f"""
            WITH toks AS (
              SELECT source IN ('src0', 'src1') AS in_a,
                     unnest({_DOC_TOKENS}) AS term
              FROM documents),
            counts AS (
              SELECT term,
                     sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
                     sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS b
              FROM toks GROUP BY term),
            tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM counts)
            SELECT term,
                   round(ln((a + 1.0) / (ta - a + 1.0))
                         - ln((b + 1.0) / (tb - b + 1.0)), 4) AS log_odds
            FROM counts, tot
            ORDER BY log_odds DESC, term
            LIMIT 20
        """,
        "q_event_sequences": """
            WITH seqs AS (
              SELECT user_id,
                     list(event_type ORDER BY ts, event_id) AS types
              FROM events GROUP BY user_id),
            grams AS (
              SELECT unnest(list_transform(
                       generate_series(1, len(types) - 2),
                       i -> types[i] || '>' || types[i+1] || '>' || types[i+2]
                     )) AS seq
              FROM seqs WHERE len(types) >= 3)
            SELECT seq, count(*) AS n_occurrences FROM grams
            GROUP BY seq ORDER BY n_occurrences DESC, seq LIMIT 20
        """,
        # One UNION-ALL branch per expectation; mirrors the single-agg
        # Spark plan's per-check conditional sums.
        "q_expectations": """
            SELECT 'price_positive' AS check,
                   CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
                   sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) = 0 AS passed
            FROM orders
            UNION ALL
            SELECT 'price_under_cap',
                   CAST(sum(CASE WHEN o_totalprice <= 300000 THEN 0 ELSE 1 END) AS BIGINT),
                   sum(CASE WHEN o_totalprice <= 300000 THEN 0 ELSE 1 END) = 0
            FROM orders
            UNION ALL
            SELECT 'custkey_not_null',
                   CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
                   sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) = 0
            FROM orders
            UNION ALL
            SELECT 'status_known',
                   CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT),
                   sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) = 0
            FROM orders
            UNION ALL
            SELECT 'unique:o_orderkey',
                   CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
                   count(o_orderkey) = count(DISTINCT o_orderkey)
            FROM orders
        """,
        "q_copurchase": """
            WITH items AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            bounded AS (
              SELECT l_orderkey FROM items
              GROUP BY l_orderkey HAVING count(*) <= 64),
            pairs AS (
              SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     count(*) AS n_orders
              FROM items a
              JOIN items b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
              JOIN bounded ON a.l_orderkey = bounded.l_orderkey
              GROUP BY 1, 2)
            SELECT part_a, part_b, n_orders FROM pairs
            ORDER BY n_orders DESC, part_a, part_b
            LIMIT 20
        """,
        "q_topk_per_group": """
            SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS c_acctbal,
                   CAST(rn AS INTEGER) AS rn
            FROM (
              SELECT c_mktsegment, c_custkey, c_acctbal,
                     row_number() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer)
            WHERE rn <= 3
        """,
        "q_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "q_repeat_customers": """
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        """,
        "q_churned_customers": """
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        """,
        "q_regional_revenue": """
            SELECT n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "q_asof_join": """
            WITH clicks AS (
              SELECT user_id, event_id, epoch_us(ts) AS click_ts
              FROM events WHERE event_type = 'click'),
            purch AS (
              SELECT user_id, epoch_us(ts) AS ts, round(max(value), 4) AS val
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
            SELECT clicks.user_id, clicks.event_id, clicks.click_ts,
                   purch.ts AS purchase_ts, purch.val AS purchase_val
            FROM clicks ASOF LEFT JOIN purch
              ON clicks.user_id = purch.user_id AND clicks.click_ts >= purch.ts
        """,
        "q_sessionize": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
            flagged AS (
              SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
                       PARTITION BY user_id ORDER BY ts_us)
                     > 14400000000 THEN 1 ELSE 0 END AS is_new
              FROM e),
            sess AS (
              SELECT *, sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged)
            SELECT user_id, min(ts_us) AS session_start,
                   max(ts_us) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM sess GROUP BY user_id, sid
        """,
        "q_range_join": """
            WITH o AS (
              SELECT o_orderkey,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS sd
              FROM orders),
            l AS (
              SELECT date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE)) AS pd
              FROM lineitem)
            SELECT o_orderkey, count(*) AS n_shipped
            FROM o JOIN l ON l.pd BETWEEN o.sd AND o.sd + 2
            GROUP BY 1
        """,
        "q_tpch_q17": """
            WITH li AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#23'),
            th AS (
              SELECT l_partkey,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_q,
                     CAST(count(*) AS DECIMAL(18,4)) AS cnt_q
              FROM li GROUP BY 1)
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                              / 7.0, 2) AS DOUBLE) AS avg_yearly
            FROM li JOIN th USING (l_partkey)
            WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * cnt_q < sum_q
        """,
        "q_tpch_q18": """
            WITH t AS (
              SELECT l_orderkey,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS tq
              FROM lineitem GROUP BY 1
              HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300)
            SELECT c_custkey, o_orderkey, o_totalprice,
                   CAST(round(tq, 2) AS DOUBLE) AS total_qty
            FROM t JOIN orders ON o_orderkey = l_orderkey
                 JOIN customer ON c_custkey = o_custkey
        """,
        "q_tpch_q3": """
            WITH cust AS (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
            o AS (
              SELECT o_orderkey, o_orderdate
              FROM orders JOIN cust ON o_custkey = c_custkey
              WHERE o_orderdate < TIMESTAMP '1998-06-15')
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue,
                   o_orderdate
            FROM lineitem JOIN o ON o_orderkey = l_orderkey
            WHERE l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "q_tpch_q4": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
            GROUP BY o_orderpriority
        """,
        "q_tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c_nationkey
            WHERE year(l_shipdate) BETWEEN 1995 AND 1997
              AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            GROUP BY 1, 2, 3
        """,
        "q_tpch_q8": """
            WITH region_cust AS (
              SELECT c_custkey FROM customer
              JOIN nation ON n_nationkey = c_nationkey
              JOIN region ON r_regionkey = n_regionkey
              WHERE r_name = 'ASIA')
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(CAST(sum(CASE WHEN n_name = 'NATION_3'
                                       THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                            * (1 - CAST(l_discount AS DECIMAL(18,4)))
                                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                         6) AS mkt_share
            FROM lineitem
            JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
            JOIN orders ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE year(o_orderdate) BETWEEN 1995 AND 1997
              AND o_custkey IN (SELECT c_custkey FROM region_cust)
            GROUP BY 1
        """,
        "q_tpch_q10": """
            WITH per_cust AS (
              SELECT o_custkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev_d
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate <  TIMESTAMP '1996-04-01'
              GROUP BY o_custkey)
            SELECT c_custkey, c_name, n_name,
                   round(c_acctbal, 2) AS c_acctbal,
                   CAST(round(rev_d, 2) AS DOUBLE) AS revenue
            FROM per_cust
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q_tpch_q12": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY l_returnflag
        """,
        "q_tpch_q13": """
            WITH per_cust AS (
              SELECT o_custkey, count(*) AS n_orders
              FROM orders WHERE o_orderpriority <> '1-URGENT'
              GROUP BY o_custkey)
            SELECT coalesce(n_orders, 0) AS c_count, count(*) AS custdist
            FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
            GROUP BY 1
        """,
        "q_tpch_q15": """
            WITH per_supp AS (
              SELECT l_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev_d
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name,
                   CAST(round(rev_d, 2) AS DOUBLE) AS total_revenue
            FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
            WHERE rev_d = (SELECT max(rev_d) FROM per_supp)
        """,
        "q_tpch_q19": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q_tpch_q21": """
            WITH f AS (
              SELECT l_orderkey, l_suppkey,
                     max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                              THEN 1 ELSE 0 END) AS is_late
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE o_orderstatus = 'F'
              GROUP BY 1, 2),
            per_order AS (
              SELECT l_orderkey, count(*) AS n_supp,
                     sum(is_late) AS n_late_supp
              FROM f GROUP BY 1)
            SELECT s_suppkey, s_name, count(*) AS numwait
            FROM f
            JOIN per_order USING (l_orderkey)
            JOIN supplier ON s_suppkey = l_suppkey
            WHERE f.is_late = 1 AND n_supp > 1 AND n_late_supp = 1
            GROUP BY 1, 2
            ORDER BY numwait DESC, s_name ASC
            LIMIT 10
        """,
        "q_tpch_q2": """
            WITH pt AS (
              SELECT p_partkey FROM part
              WHERE p_type = 'SMALL' AND p_size <= 15),
            rn AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'),
            cost AS (
              SELECT l_partkey, l_suppkey,
                     min(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost_d
              FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM pt)
                AND l_suppkey IN (SELECT s_suppkey FROM rn)
              GROUP BY 1, 2),
            mc AS (
              SELECT l_partkey AS mc_partkey, min(cost_d) AS min_cost_d
              FROM cost GROUP BY 1)
            SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
                   cost.l_partkey AS p_partkey,
                   CAST(round(cost_d, 2) AS DOUBLE) AS supply_cost
            FROM cost
            JOIN mc ON cost.l_partkey = mc.mc_partkey
                   AND cost.cost_d = mc.min_cost_d
            JOIN rn ON cost.l_suppkey = rn.s_suppkey
            ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC
            LIMIT 100
        """,
        "q_tpch_q9": """
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                   CAST(round(sum(
                     CAST(l_extendedprice AS DECIMAL(12,4))
                       * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
                     - CAST(p_retailprice AS DECIMAL(10,4))
                       * CAST(l_quantity AS DECIMAL(6,2))
                       * CAST(0.6 AS DECIMAL(2,1))), 2) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN orders ON o_orderkey = l_orderkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "q_tpch_q11": """
            WITH per_part AS (
              SELECT l_partkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS value_d
              FROM lineitem
              WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_7')
              GROUP BY 1),
            tot AS (SELECT sum(value_d) AS total_d FROM per_part)
            SELECT l_partkey, CAST(round(value_d, 2) AS DOUBLE) AS value
            FROM per_part, tot
            WHERE value_d > total_d * CAST(0.001 AS DECIMAL(7,6))
        """,
        "q_tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_suppkey NOT IN (
                    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) link
            JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#4' AND p_type <> 'ECONOMY'
              AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
            GROUP BY 1, 2, 3
        """,
        "q_tpch_q20": """
            WITH pairs AS (
              SELECT l_partkey, l_suppkey,
                     sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty,
                     sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                               AND l_shipdate < TIMESTAMP '1997-01-01'
                              THEN CAST(l_quantity AS DECIMAL(12,2))
                              ELSE CAST(0 AS DECIMAL(12,2)) END) AS year_qty
              FROM lineitem
              WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              GROUP BY 1, 2)
            SELECT s_suppkey, s_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
              AND s_suppkey IN (SELECT l_suppkey FROM pairs
                                WHERE year_qty > 0
                                  AND total_qty > 2 * year_qty)
        """,
        "q_rolling_revenue": """
            WITH base AS (
              SELECT o_custkey, o_orderkey,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS day_d,
                     CAST(o_totalprice AS DECIMAL(18,4)) AS p
              FROM orders)
            SELECT o_custkey, o_orderkey, day_d,
                   CAST(round(sum(p) OVER (
                     PARTITION BY o_custkey ORDER BY day_d ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                     AS DOUBLE) AS run_total,
                   CAST(round(sum(p) OVER (
                     PARTITION BY o_custkey ORDER BY day_d
                     RANGE BETWEEN 89 PRECEDING AND CURRENT ROW), 2)
                     AS DOUBLE) AS trailing_total
            FROM base
        """,
        "q_tpch_q22": """
            WITH pos AS (
              SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_bal,
                     CAST(count(*) AS DECIMAL(18,4)) AS n_bal
              FROM customer WHERE c_acctbal > 0.0)
            SELECT c_mktsegment,
                   count(*) AS n_customers,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
                     AS total_acctbal
            FROM customer, pos
            WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_bal > sum_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY c_mktsegment
        """,
        "q_approx_distinct": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS approx_ok
            FROM events GROUP BY event_type
        """,
        "q_event_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click')    AS n_click,
                   count(*) FILTER (event_type = 'error')    AS n_error,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup')   AS n_signup,
                   count(*) FILTER (event_type = 'view')     AS n_view
            FROM events GROUP BY user_id
        """,
        "q_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.50), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75
            FROM events GROUP BY event_type
        """,
        "q_stratified_sample": """
            SELECT event_type, count(*) AS n_rows,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(sum(value), 4) AS total_value
            FROM events
            WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS INT) % 100
                  < CASE event_type WHEN 'click' THEN 50 WHEN 'error' THEN 10
                                    WHEN 'purchase' THEN 100 WHEN 'signup' THEN 25
                                    WHEN 'view' THEN 5 ELSE 0 END
            GROUP BY event_type
        """,
        "q_tfidf": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM toks WHERE term <> '' GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, tf.term, tf, df,
                     tf * ln((n_docs + 1.0) / (df + 1.0)) AS s
              FROM tf JOIN dfreq USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY s DESC, term ASC) AS rn
              FROM scored)
            SELECT doc_id, term, CAST(rn AS INTEGER) AS rn, tf, df,
                   round(s, 6) AS score
            FROM ranked WHERE rn <= 3
        """,
        "q_hash_split": """
            WITH b AS (
              SELECT n_chars,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                       % 10000 AS bkt
              FROM documents)
            SELECT CASE WHEN bkt < 1000 THEN 'test'
                        WHEN bkt < 9000 THEN 'train'
                        ELSE 'val' END AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM b GROUP BY 1
        """,
        # Degrees of the directed co-purchase edge list (same bounded-
        # basket build as the pagerank/LPA oracles), top 20 by
        # (degree DESC, src) — verifies the bucketed-table round trip.
        "q_edge_table_degrees": """
            WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            bounded AS (SELECT l_orderkey FROM items
                        GROUP BY l_orderkey HAVING count(*) <= 64),
            edges AS (
              SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey <> b.l_partkey
              JOIN bounded ON a.l_orderkey = bounded.l_orderkey)
            SELECT src, count(*) AS degree FROM edges
            GROUP BY src ORDER BY degree DESC, src LIMIT 20
        """,
        # Per-suite leak table: per-doc distinct 8-grams (with the
        # whole-text fallback for short docs, mirroring shingle_docs),
        # suite gram sets deduped, one join, grouped per suite.
        "q_contamination_report": f"""
            WITH tg AS (
              SELECT doc_id AS train_doc, unnest(list_distinct(
                CASE WHEN len({_DOC_TOKENS}) >= 8 THEN
                  list_transform(generate_series(1, len({_DOC_TOKENS}) - 7),
                    i -> {_DOC_TOKENS}[i]   || ' ' || {_DOC_TOKENS}[i+1] || ' ' ||
                         {_DOC_TOKENS}[i+2] || ' ' || {_DOC_TOKENS}[i+3] || ' ' ||
                         {_DOC_TOKENS}[i+4] || ' ' || {_DOC_TOKENS}[i+5] || ' ' ||
                         {_DOC_TOKENS}[i+6] || ' ' || {_DOC_TOKENS}[i+7])
                ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS g
              FROM documents
              WHERE text IS NOT NULL AND source NOT IN ('src0', 'src1')),
            bg0 AS (
              SELECT source AS bench, unnest(list_distinct(
                CASE WHEN len({_DOC_TOKENS}) >= 8 THEN
                  list_transform(generate_series(1, len({_DOC_TOKENS}) - 7),
                    i -> {_DOC_TOKENS}[i]   || ' ' || {_DOC_TOKENS}[i+1] || ' ' ||
                         {_DOC_TOKENS}[i+2] || ' ' || {_DOC_TOKENS}[i+3] || ' ' ||
                         {_DOC_TOKENS}[i+4] || ' ' || {_DOC_TOKENS}[i+5] || ' ' ||
                         {_DOC_TOKENS}[i+6] || ' ' || {_DOC_TOKENS}[i+7])
                ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS g
              FROM documents
              WHERE text IS NOT NULL AND source IN ('src0', 'src1')),
            bg AS (SELECT DISTINCT bench, g FROM bg0),
            totals AS (
              SELECT source AS bench, count(*) AS n_bench_docs
              FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
            hits AS (
              SELECT bg.bench,
                     count(DISTINCT tg.train_doc) AS n_train_docs_hit,
                     count(*) AS n_gram_hits
              FROM tg JOIN bg USING (g) GROUP BY 1)
            SELECT t.bench, CAST(t.n_bench_docs AS BIGINT) AS n_bench_docs,
                   CAST(coalesce(h.n_train_docs_hit, 0) AS BIGINT)
                     AS n_train_docs_hit,
                   CAST(coalesce(h.n_gram_hits, 0) AS BIGINT) AS n_gram_hits
            FROM totals t LEFT JOIN hits h USING (bench)
        """,
        # Round-trip identity: the WARC walk must recover exactly the
        # non-null corpus it encoded.
        "q_warc_roundtrip": """
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        """,
        # tar-sink round trip is likewise identity by construction
        "q_webdataset_roundtrip": """
            SELECT doc_id, text FROM documents
        """,
        # Shard membership of the range export is sample-dependent but
        # the reconstructed GLOBAL rank is not: row_number over the
        # total (n_chars, doc_id) order.
        "q_sorted_export": """
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                        AS BIGINT) AS global_rank
            FROM documents
        """,
        # Hard negatives: the q_simsearch_multi cosine recipe with the
        # label-inequality filter applied BEFORE the ranking window.
        "q_hard_negatives": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
                     label AS ql
              FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
            scored AS (
              SELECT q.query_id, e.vec_id, e.label AS neg_label,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
              FROM embeddings e, q
              WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
            ranked AS (
              SELECT query_id, vec_id, neg_label, cos,
                     CAST(row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, vec_id)
                          AS INT) AS rank
              FROM scored)
            SELECT query_id, vec_id, neg_label, cos, rank
            FROM ranked WHERE rank <= 5
        """,
        "q_char_entropy": """
            WITH ch AS (
              SELECT doc_id,
                     unnest(string_split(
                       regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                       '')) AS c0
              FROM documents WHERE text IS NOT NULL),
            f AS (SELECT doc_id, c0, count(*) AS c
                  FROM ch WHERE c0 <> '' GROUP BY 1, 2),
            t AS (SELECT doc_id, sum(c) AS n, count(*) AS nd
                  FROM f GROUP BY 1),
            nn AS (
              SELECT f.doc_id,
                     CAST(round((CAST(c AS DOUBLE) / n)
                                * ln(CAST(n AS DOUBLE) / c)
                                * 1e9) AS BIGINT) AS nano
              FROM f JOIN t USING (doc_id)),
            s AS (SELECT doc_id, sum(nano) AS s FROM nn GROUP BY 1)
            -- oracle-facing grain is the nano-nat BIGINT sum (round-6
            -- advice): per-term nanos are measured cross-engine-exact,
            -- and the integer sum drops the last rounding boundary.
            SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars,
                   CAST(t.nd AS BIGINT) AS n_distinct,
                   CAST(s.s AS BIGINT) AS nano_entropy
            FROM t JOIN s USING (doc_id)
        """,
        "q_shard_manifest": f"""
            WITH b AS (
              SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                       % 16 AS shard,
                     CASE WHEN text IS NULL THEN 0
                          ELSE len({_DOC_TOKENS}) END AS nt,
                     CAST(('0x' || substring(md5(
                       regexp_replace(trim(lower(coalesce(text, ''))),
                                      '\\s+', ' ', 'g')), 1, 8)) AS BIGINT) AS h
              FROM documents)
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens,
                   CAST(sum(h) AS BIGINT) AS checksum
            FROM b GROUP BY shard
        """,
        "q_pack_sequences": f"""
            WITH d AS (
              SELECT doc_id,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                       % 8 AS shard,
                     CAST(len({_DOC_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents),
            p AS (
              SELECT doc_id, shard, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
              FROM d)
            SELECT doc_id, shard, n_tokens,
                   -- CAST: window SUM(BIGINT) is HUGEINT/decimal128 —
                   -- typed driver hash needs bigint like Spark's.
                   CAST(prefix // 512 AS BIGINT) AS seq_id,
                   CAST(prefix % 512 AS BIGINT) AS seq_offset
            FROM p
        """,
        # Materializer on top of the q_pack_sequences assignment:
        # global position prefix+i-1 places each token; list(... ORDER
        # BY off) rebuilds the sample; full-budget samples only.
        "q_pack_chunks": f"""
            WITH d AS (
              SELECT doc_id, {_DOC_TOKENS} AS t,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                       % 8 AS shard,
                     CAST(len({_DOC_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents),
            p AS (
              SELECT doc_id, t, shard,
                     COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
              FROM d),
            placed AS (
              SELECT doc_id, shard, t[i] AS tok,
                     -- CAST: prefix is a window SUM(BIGINT) → HUGEINT;
                     -- keep seq_id bigint to match Spark's typed hash.
                     CAST((prefix + i - 1) // 128 AS BIGINT) AS seq_id,
                     (prefix + i - 1) % 128 AS off
              FROM p, unnest(generate_series(1, len(t))) AS u(i)),
            agg AS (
              SELECT shard, seq_id,
                     count(DISTINCT doc_id) AS n_docs,
                     list(tok ORDER BY off) AS tokens
              FROM placed GROUP BY 1, 2)
            -- scalar digest instead of the raw array: the driver canon
            -- cannot hash ndarray cells (r6 red); md5 over the
            -- space-joined tokens matches Spark's md5(concat_ws(' ', ..)).
            SELECT shard, seq_id, CAST(n_docs AS BIGINT) AS n_docs,
                   md5(array_to_string(tokens, ' ')) AS digest
            FROM agg WHERE len(tokens) = 128
        """,
        "q_pii_scrub": """
            WITH aug AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 3 = 0
                     THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END ||
                CASE WHEN doc_id % 5 = 0
                     THEN ' call +1 555 000' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0')
                     ELSE '' END ||
                CASE WHEN doc_id % 7 = 0
                     THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
                     ELSE '' END AS text
              FROM documents)
            SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
              CAST(len(regexp_extract_all(text,
                '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
              CAST(len(regexp_extract_all(text,
                '\\+?[0-9][0-9 ()-]{6,}[0-9]')) AS BIGINT) AS n_phone,
              regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]', 'g'),
                '\\+?[0-9][0-9 ()-]{6,}[0-9]', '[PHONE]', 'g') AS clean
            FROM aug
        """,
        # arrays are driver-unhashable (r6 q_pack_chunks class): both
        # embed oracles fold the vector into the same order-sensitive
        # Σ i·elem integer digest the Spark wrapper computes.
        "q_embed_norm": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS norm FROM v),
            u AS (SELECT vec_id, round(norm, 6) AS norm,
                         list_transform(e, x -> round(x / norm, 6)) AS unit
                  FROM n),
            d AS (SELECT vec_id,
                         sum(CAST(round(unit[i] * 1e6) AS BIGINT) * i) AS unit_digest
                  FROM u, unnest(generate_series(1, len(unit))) AS g(i)
                  GROUP BY 1)
            SELECT u.vec_id, u.norm, CAST(d.unit_digest AS BIGINT) AS unit_digest
            FROM u JOIN d USING (vec_id)
        """,
        "q_embed_quant": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            m AS (SELECT vec_id, e,
                         list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
            qq AS (SELECT vec_id, round(127.0 / amax, 6) AS scale,
                          list_transform(e, x -> CAST(round(x * (127.0 / amax)) AS INT)) AS q
                   FROM m),
            d AS (SELECT vec_id, sum(CAST(q[i] AS BIGINT) * i) AS q_digest
                  FROM qq, unnest(generate_series(1, len(q))) AS g(i)
                  GROUP BY 1)
            SELECT qq.vec_id, qq.scale, CAST(d.q_digest AS BIGINT) AS q_digest
            FROM qq JOIN d USING (vec_id)
        """,
        "q_zorder": f"""
            WITH z AS ({zvalue_sql('(SELECT l_partkey, l_suppkey FROM lineitem)',
                                   'l_partkey', 'l_suppkey', 10)})
            SELECT CAST(zv // 1024 AS BIGINT) AS zbucket, count(*) AS n_rows,
                   min(ra) AS min_ra, max(ra) AS max_ra,
                   min(rb) AS min_rb, max(rb) AS max_rb
            FROM z GROUP BY 1
        """,
        "q_sampled_revenue": """
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
                   count(*) AS n_rows,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            WHERE CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 4)) AS INT) % 20 = 7
        """,
        "q_customers_no_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND year(o_orderdate) = 1995)
            GROUP BY c_mktsegment
        """,
        "q_tpch_q6": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS forecast_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q_textstats": f"""
            SELECT doc_id,
                   CAST(len({_DOC_TOKENS}) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct({_DOC_TOKENS})) AS BIGINT) AS n_distinct_tokens,
                   CAST(length({_DOC_NORM}) AS BIGINT) AS n_chars_norm,
                   round(CAST(length({_DOC_NORM}) - (len({_DOC_TOKENS}) - 1) AS DOUBLE)
                         / len({_DOC_TOKENS}), 4) AS avg_token_len,
                   CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])', 1)) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "q_quality": f"""
            SELECT doc_id,
                   round((CAST(len(list_distinct({_DOC_TOKENS})) AS DOUBLE)
                          / len({_DOC_TOKENS}))
                         * least(len({_DOC_TOKENS}) / 50.0, 1.0), 6) AS quality
            FROM documents
        """,
        "q_langid": f"""
            WITH scored AS (
              SELECT doc_id,
                     round(CAST(len(list_filter(list_distinct({_DOC_TOKENS}),
                                                x -> x IN ({sw}))) AS DOUBLE)
                           / len(list_distinct({_DOC_TOKENS})), 6) AS en_ratio
              FROM documents)
            SELECT doc_id, en_ratio,
                   CASE WHEN en_ratio > 0.05 THEN 'en' ELSE 'other' END AS lang_guess
            FROM scored
        """,
        "q_fingerprint": f"""
            SELECT doc_id, md5({_DOC_NORM}) AS fp FROM documents
        """,
        "q_dedup_exact": f"""
            SELECT md5({_DOC_NORM}) AS fp, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        # content-defined chunking: boundary rule replayed verbatim
        # (md5_32 of the 8-char window ending at i, mask 64; last
        # chunk ends at L); every output column exact integer
        "q_cdc_chunks": """
            WITH d AS (
              SELECT doc_id, source, text, length(text) AS L
              FROM documents WHERE length(text) >= 1),
            be AS (
              SELECT doc_id, source, text, L,
                CASE WHEN L >= 8 THEN
                  list_sort(list_distinct(list_append(
                    list_filter(range(8, L + 1), i ->
                      CAST('0x' || substring(md5(substring(text, i - 7, 8)), 1, 8)
                           AS BIGINT) % 64 = 0),
                    L)))
                ELSE [L] END AS ends
              FROM d),
            ch AS (
              SELECT source,
                     substring(text, s, e - s + 1) AS chunk,
                     e - s + 1 AS len
              FROM (
                SELECT be.source, be.text,
                       CASE WHEN u.k = 1 THEN 1 ELSE be.ends[u.k - 1] + 1 END AS s,
                       be.ends[u.k] AS e
                FROM be, UNNEST(range(1, len(be.ends) + 1)) AS u(k))),
            ph AS (
              SELECT source, md5(chunk) AS h, count(*) AS cnt,
                     min(len) AS len
              FROM ch GROUP BY 1, 2),
            nd AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1)
            SELECT ph.source AS source,
                   CAST(nd.n_docs AS BIGINT) AS n_docs,
                   CAST(sum(cnt) AS BIGINT) AS n_chunks,
                   CAST(count(*) AS BIGINT) AS n_unique_chunks,
                   CAST(sum(cnt) - count(*) AS BIGINT) AS dup_chunks,
                   CAST(sum((cnt - 1) * len) AS BIGINT) AS dup_chars,
                   CAST(sum(cnt * len) AS BIGINT) AS total_chars,
                   CAST((sum(cnt) - count(*)) * 1000000 // sum(cnt)
                        AS BIGINT) AS dup_ppm
            FROM ph JOIN nd USING (source)
            GROUP BY 1, 2
        """,
        "q_ts_similarity": """
            WITH s AS (
              SELECT user_id AS u,
                     (epoch_ns(ts) // 1000000) // 86400000 AS b,
                     sum(value) AS sv
              FROM events GROUP BY 1, 2),
            n AS (SELECT u, sqrt(sum(sv * sv)) AS nrm FROM s GROUP BY 1),
            d AS (SELECT a.u AS user_a, c.u AS user_b, sum(a.sv * c.sv) AS dot
                  FROM s a JOIN s c USING (b) WHERE a.u < c.u GROUP BY 1, 2)
            SELECT user_a, user_b,
                   round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
            FROM d JOIN n na ON na.u = user_a JOIN n nb ON nb.u = user_b
            WHERE dot / (na.nrm * nb.nrm) >= 0.8
        """,
        "q_contamination": f"""
            WITH grams AS (
              SELECT doc_id, source, unnest(list_distinct(
                CASE WHEN len({_DOC_TOKENS}) >= 8 THEN
                  list_transform(generate_series(1, len({_DOC_TOKENS}) - 7),
                    i -> array_to_string(({_DOC_TOKENS})[i:i+7], ' '))
                ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS g
              FROM documents WHERE text IS NOT NULL),
            bench AS (SELECT doc_id AS bench_id, g FROM grams
                      WHERE source IN ('src0', 'src1')),
            train AS (SELECT doc_id AS train_id, g FROM grams
                      WHERE source NOT IN ('src0', 'src1'))
            SELECT train_id, bench_id, count(*) AS n_shared
            FROM train JOIN bench USING (g)
            GROUP BY 1, 2
        """,
        "q_repetition": f"""
            WITH g AS (
              SELECT doc_id,
                     CASE WHEN len({_DOC_TOKENS}) >= 3 THEN
                       list_transform(generate_series(1, len({_DOC_TOKENS}) - 2),
                         i -> array_to_string(({_DOC_TOKENS})[i:i+2], ' '))
                     ELSE [array_to_string({_DOC_TOKENS}, ' ')] END AS grams
              FROM documents)
            SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
                   round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                         / len(grams), 6) AS rep_ratio
            FROM g
        """,
        "q_ngram_jaccard": f"""
            WITH sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            ix AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.2
        """,
        # Replays the ENGINE's MinHash LSH exactly: md5_32 shingle
        # hashes (collisions included), the seed-42 affine signature,
        # exact band-slot keys, and exact Jaccard over the hashed
        # shingle sets for candidates only. The all-pairs `common` CTE
        # is oracle-side convenience, not the engine's plan.
        "q_minhash_pairs": f"""
            WITH sh0 AS ({_SHINGLES}),
            sh AS (SELECT DISTINCT doc_id,
                     {_MD5_32.format(x='shingle')} AS h
                   FROM sh0),
            coef(i, a, b) AS (VALUES {mh_coef}),
            sig AS (
              SELECT doc_id, i, min((a * h + b) % 4294967311) AS mv
              FROM sh CROSS JOIN coef GROUP BY 1, 2),
            bands AS (
              SELECT doc_id, i // 4 AS band,
                     string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS bkey
              FROM sig GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bkey = b.bkey
                   AND a.doc_id < b.doc_id),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS n_common
              FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT c.doc_a, c.doc_b,
                   round(CAST(n_common AS DOUBLE)
                         / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
            FROM cand c
            JOIN common USING (doc_a, doc_b)
            JOIN sizes na ON na.doc_id = c.doc_a
            JOIN sizes nb ON nb.doc_id = c.doc_b
            WHERE CAST(n_common AS DOUBLE)
                  / (na.n_sh + nb.n_sh - n_common) >= 0.2
        """,
        # Replays winnow_pairs exactly: ordered k=4-gram md5_32 hashes,
        # w=4 window minima, distinct fingerprints, df≤1000 cap, pair
        # count ≥ 2 (functions/dedup.py::winnow_fingerprints).
        "q_winnow_pairs": f"""
            WITH toked AS (
              SELECT doc_id, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL),
            grams AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 4 THEN
                  list_transform(generate_series(1, len(t) - 3),
                    i -> {_MD5_32.format(
                        x="t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
                          " || ' ' || t[i+3]")})
                ELSE [{_MD5_32.format(x="array_to_string(t, ' ')")}]
                END AS h
              FROM toked),
            fps AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(h) >= 4 THEN
                  list_transform(generate_series(1, len(h) - 3),
                    i -> list_min(h[i:i+3]))
                ELSE [list_min(h)] END)) AS fp
              FROM grams),
            rare AS (
              SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000),
            ix AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_common
            FROM ix a JOIN ix b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        # Declarative dominance spec — the oracle-side all-pairs NOT
        # EXISTS is fine at sf0.01; the engine's plan is the
        # distinct-x window + broadcast (operators/relational.py).
        "q_pareto": """
            SELECT p_brand, p_partkey, p_size, p_retailprice
            FROM part a
            WHERE NOT EXISTS (
              SELECT 1 FROM part b
              WHERE b.p_brand = a.p_brand
                AND b.p_size >= a.p_size
                AND b.p_retailprice >= a.p_retailprice
                AND (b.p_size > a.p_size
                     OR b.p_retailprice > a.p_retailprice))
        """,
        # SNM is definitionally a sort-window algorithm, so the oracle
        # replays the same w=4 lead() probe (not an all-pairs spec).
        "q_fuzzy_match": """
            WITH base AS (
              SELECT p_partkey AS id, lower(p_name) AS key,
                     substring(lower(p_name), 1, 1) AS blk
              FROM part),
            nbrs AS (
              SELECT id, key,
                     lead(id, 1) OVER w AS id1, lead(key, 1) OVER w AS key1,
                     lead(id, 2) OVER w AS id2, lead(key, 2) OVER w AS key2,
                     lead(id, 3) OVER w AS id3, lead(key, 3) OVER w AS key3,
                     lead(id, 4) OVER w AS id4, lead(key, 4) OVER w AS key4
              FROM base
              WINDOW w AS (PARTITION BY blk ORDER BY key, id)),
            stacked AS (
              SELECT id AS id_a, key AS key_a, id1 AS id_b, key1 AS key_b FROM nbrs
              UNION ALL
              SELECT id, key, id2, key2 FROM nbrs
              UNION ALL
              SELECT id, key, id3, key3 FROM nbrs
              UNION ALL
              SELECT id, key, id4, key4 FROM nbrs)
            SELECT id_a, id_b, key_a, key_b,
                   CAST(levenshtein(key_a, key_b) AS INTEGER) AS dist
            FROM stacked
            WHERE id_b IS NOT NULL AND levenshtein(key_a, key_b) <= 3
        """,
        # Same fixed-point + lower-median order statistics (row_number
        # over (x, id), rank (n+1)//2) — integer-exact on both engines.
        # Replays the deterministic Poisson bootstrap: shared threshold
        # literals (operators/stats.py::poisson_thresholds), 16-bit md5
        # bucket per (row, replicate), DECIMAL-exact weighted sums.
        "q_bootstrap": f"""
            WITH base AS (
              SELECT CAST(l_orderkey AS VARCHAR) || ':'
                       || CAST(l_linenumber AS VARCHAR) AS id,
                     CAST(l_extendedprice AS DECIMAL(18,4))
                       * (CAST(1 AS DECIMAL(18,4))
                          - CAST(l_discount AS DECIMAL(18,4))) AS rev
              FROM lineitem),
            rep AS (SELECT unnest(generate_series(0, 31)) AS r),
            x AS (
              SELECT rep.r, base.rev,
                     CAST(('0x' || substring(md5(
                       base.id || ':' || CAST(rep.r AS VARCHAR)), 1, 4))
                       AS INT) % 65536 AS b
              FROM base CROSS JOIN rep),
            w AS (SELECT r, rev, {pois_w} AS wt FROM x)
            SELECT CAST(r AS INTEGER) AS r,
                   CAST(sum(wt) AS BIGINT) AS n_rows_used,
                   CAST(round(sum(wt * rev), 2) AS DOUBLE)
                     AS total_revenue
            FROM w GROUP BY r
        """,
        # Replays the closed-form waterfilling: ascending-cap prefix
        # saturation test, integer DIV level, first-(r mod u) +1 rule.
        "q_data_budget": f"""
            WITH t AS (
              SELECT source,
                     CAST(sum(len({_DOC_TOKENS})) AS BIGINT) AS n_tokens
              FROM documents WHERE text IS NOT NULL GROUP BY 1),
            c AS (SELECT source, n_tokens, 3 * n_tokens AS cap FROM t),
            o AS (
              SELECT source, n_tokens, cap,
                     row_number() OVER w AS k,
                     COALESCE(sum(cap) OVER (
                       ORDER BY cap, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS pprev,
                     count(*) OVER () AS ndom
              FROM c WINDOW w AS (ORDER BY cap, source)),
            f AS (SELECT *,
                         cap * (ndom - k + 1) <= 75000 - pprev AS capped
                  FROM o),
            agg AS (
              SELECT CAST(count(*) FILTER (capped) AS BIGINT) AS m,
                     CAST(COALESCE(sum(cap) FILTER (capped), 0) AS BIGINT)
                       AS scap
              FROM f),
            x AS (
              SELECT f.*, agg.m,
                     f.ndom - agg.m AS u,
                     75000 - agg.scap AS r
              FROM f, agg),
            al AS (
              SELECT source, n_tokens, cap,
                     CAST(CASE WHEN capped THEN cap
                          WHEN u > 0 THEN least(cap,
                            r // u + CASE WHEN k - m <= r % u
                                     THEN 1 ELSE 0 END)
                          ELSE cap END AS BIGINT) AS alloc
              FROM x)
            SELECT source, n_tokens, cap, alloc,
                   CAST(alloc AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     AS repeat_factor
            FROM al
        """,
        "q_mad_outliers": """
            WITH ev AS (
              SELECT event_type, event_id, value,
                     CAST(round(value * 1000) AS BIGINT) AS x
              FROM events),
            cnt AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
            med AS (
              SELECT event_type, x AS med FROM (
                SELECT ev.event_type, ev.x, cnt.n,
                       row_number() OVER (PARTITION BY ev.event_type
                                          ORDER BY ev.x, ev.event_id) AS rk
                FROM ev JOIN cnt USING (event_type))
              WHERE rk = (n + 1) // 2),
            dev AS (
              SELECT ev.*, abs(ev.x - med.med) AS d
              FROM ev JOIN med USING (event_type)),
            mad AS (
              SELECT event_type, d AS mad FROM (
                SELECT dev.event_type, dev.d, cnt.n,
                       row_number() OVER (PARTITION BY dev.event_type
                                          ORDER BY dev.d, dev.event_id) AS rk
                FROM dev JOIN cnt USING (event_type))
              WHERE rk = (n + 1) // 2)
            SELECT dev.event_type, dev.event_id, dev.value
            FROM dev JOIN mad USING (event_type)
            WHERE dev.d > 5 * mad.mad
        """,
        # Predicts the WAV data chunk from first principles: the body
        # is the doc's text bytes (synthetic_media layout), so per-char
        # ord() deviations from 128 replay the engine's numpy sums
        # exactly (corpus is pure ASCII — pinned by
        # tests/test_schema_drift.py::test_documents_text_is_ascii).
        "q_audio_stats": """
            WITH a AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
            ch AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, length(text)),
                       i -> ord(substring(text, i, 1)) - 128)) AS dev
              FROM a)
            SELECT a.doc_id AS media_id,
                   length(a.text) AS n_samples,
                   CAST(s.ss AS BIGINT) AS sum_dev_sq,
                   CAST(s.pk AS BIGINT) AS peak_dev,
                   sqrt(CAST(s.ss AS DOUBLE) / length(a.text)) AS rms
            FROM a JOIN (
              SELECT doc_id, sum(dev * dev) AS ss, max(abs(dev)) AS pk
              FROM ch GROUP BY 1) s USING (doc_id)
        """,
        "q_join_profile": """
            WITH lc AS (SELECT o_orderkey AS k, count(*) AS cl
                        FROM orders GROUP BY 1),
            rc AS (SELECT l_orderkey AS k, count(*) AS cr
                   FROM lineitem GROUP BY 1),
            pk AS (SELECT k, cl * cr AS rows_ FROM lc JOIN rc USING (k)),
            tl AS (SELECT count(*) AS n_left,
                          count(DISTINCT o_orderkey) AS keys_left
                   FROM orders),
            tr AS (SELECT count(*) AS n_right,
                          count(DISTINCT l_orderkey) AS keys_right
                   FROM lineitem),
            top AS (SELECT k AS top_key, rows_ AS top_rows FROM pk
                    ORDER BY rows_ DESC, k ASC LIMIT 1),
            est AS (SELECT count(*) AS keys_common,
                           CAST(sum(rows_) AS BIGINT) AS est_rows
                    FROM pk)
            SELECT n_left, n_right, keys_left, keys_right, keys_common,
                   est_rows, top_key, top_rows,
                   CAST(top_rows AS DOUBLE) / CAST(est_rows AS DOUBLE)
                     AS top_share
            FROM tl, tr, est, top
        """,
        # Join formulation of the engine's single range-window pass:
        # earliest then/veto per first event via struct minima over the
        # (ts, ts+60min] interval, strict bounds both ends.
        "q_cep_match": """
            WITH f AS (
              SELECT event_id AS first_id, user_id, epoch_ns(ts) AS tns
              FROM events WHERE event_type = 'view'),
            cand AS (
              SELECT user_id, event_type, event_id, epoch_ns(ts) AS tns
              FROM events WHERE event_type IN ('purchase', 'error')),
            m AS (
              SELECT f.first_id,
                     min(CASE WHEN c.event_type = 'purchase'
                         THEN {'tns': c.tns, 'id': c.event_id} END) AS p,
                     min(CASE WHEN c.event_type = 'error'
                         THEN {'tns': c.tns, 'id': c.event_id} END) AS e
              FROM f JOIN cand c ON c.user_id = f.user_id
               AND c.tns > f.tns
               AND c.tns <= f.tns + CAST(3600 AS BIGINT) * 1000000000
              GROUP BY 1)
            SELECT f.first_id, f.user_id,
                   m.p.id AS then_id,
                   CASE WHEN m.p IS NOT NULL
                        THEN m.e IS NOT NULL AND m.e.tns < m.p.tns
                   END AS blocked
            FROM f LEFT JOIN m USING (first_id)
        """,
        # Implementation-independent spec: direct column comparison of
        # the two compacted snapshots (the engine compares md5 digests
        # of the same columns — equal up to 2⁻⁶⁴ collisions).
        "q_snapshot_diff": """
            WITH o AS (
              SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (
                         PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rk
                FROM events
                WHERE epoch_ns(ts) < 1705795200000000000)
              WHERE rk = 1),
            n AS (
              SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (
                         PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rk
                FROM events)
              WHERE rk = 1)
            SELECT COALESCE(o.user_id, n.user_id) AS user_id,
                   CASE WHEN o.user_id IS NULL THEN 'added'
                        WHEN n.user_id IS NULL THEN 'removed'
                        WHEN o.event_id <> n.event_id
                          OR o.event_type <> n.event_type THEN 'changed'
                   END AS change
            FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
            WHERE NOT (o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                       AND o.event_id = n.event_id
                       AND o.event_type = n.event_type)
        """,
        # Replays span_corruption_pairs exactly: md5-derived span
        # starts (hash_split's bucket hash), slot-confined placement,
        # concat_ws reassembly (identical empty/NULL semantics in
        # both engines).
        "q_span_corruption": f"""
            WITH toked AS (
              SELECT doc_id, {_DOC_TOKENS} AS t FROM documents
              WHERE text IS NOT NULL),
            d AS (SELECT doc_id, t, len(t) AS n, len(t) // 2 AS slot
                  FROM toked),
            st AS (
              SELECT doc_id, t, n,
                0 * slot
                  + (CAST(('0x' || substring(md5(
                       CAST(doc_id AS VARCHAR) || ':0'), 1, 4)) AS INT)
                     % 10000) % greatest(slot - 4, 1) + 1 AS s0,
                1 * slot
                  + (CAST(('0x' || substring(md5(
                       CAST(doc_id AS VARCHAR) || ':1'), 1, 4)) AS INT)
                     % 10000) % greatest(slot - 4, 1) + 1 AS s1
              FROM d)
            SELECT doc_id,
              CASE WHEN n >= 20 THEN array_to_string(list_filter(
                     [array_to_string(t[1:s0-1], ' '), '<extra_id_0>',
                      array_to_string(t[s0+5:s1-1], ' '), '<extra_id_1>',
                      array_to_string(t[s1+5:n], ' ')],
                     x -> x <> ''), ' ')
                   ELSE array_to_string(t, ' ') END AS input_text,
              CASE WHEN n >= 20 THEN array_to_string(list_filter(
                     ['<extra_id_0>', array_to_string(t[s0:s0+4], ' '),
                      '<extra_id_1>', array_to_string(t[s1:s1+4], ' ')],
                     x -> x <> ''), ' ')
                   END AS target_text
            FROM st
        """,
        "q_resample": """
            WITH d AS (
              SELECT event_type,
                     epoch_ns(ts) // 86400000000000 AS day
              FROM events),
            daily AS (
              SELECT event_type, day, count(*) AS n_events
              FROM d GROUP BY 1, 2),
            span AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
            cal AS (
              SELECT t.event_type, g.day
              FROM (SELECT DISTINCT event_type FROM events) t
              CROSS JOIN (SELECT unnest(generate_series(
                            (SELECT d0 FROM span),
                            (SELECT d1 FROM span))) AS day) g),
            filled AS (
              SELECT cal.event_type, cal.day,
                     COALESCE(daily.n_events, 0) AS n_events
              FROM cal LEFT JOIN daily USING (event_type, day))
            SELECT event_type, day, n_events,
                   avg(n_events) OVER (
                     PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma
            FROM filled
        """,
        "q_markov": """
            WITH nxt AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS to_type
              FROM events),
            pairs AS (
              SELECT from_type, to_type, count(*) AS n
              FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT from_type, sum(n) AS t FROM pairs GROUP BY 1)
            SELECT from_type, to_type, n,
                   CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
            FROM pairs JOIN tot USING (from_type)
        """,
        # Join formulation of the engine's range-window pass: touches
        # in [conv − 7d, conv) credited; min/max over (ts, id, type)
        # structs reproduce the deterministic tie-break; left join
        # keeps NULL-attributed conversions.
        "q_attribution": """
            WITH p AS (
              SELECT event_id AS purchase_id, user_id,
                     epoch_ns(ts) AS tns
              FROM events WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id, event_id AS tid, event_type AS tt,
                     epoch_ns(ts) AS tns
              FROM events WHERE event_type IN ('view', 'click')),
            j AS (
              SELECT p.purchase_id,
                     min({'tns': t.tns, 'tid': t.tid, 'tt': t.tt}) AS f,
                     max({'tns': t.tns, 'tid': t.tid, 'tt': t.tt}) AS l
              FROM p JOIN t ON t.user_id = p.user_id
               AND t.tns >= p.tns - CAST(604800 AS BIGINT) * 1000000000
               AND t.tns < p.tns
              GROUP BY 1)
            SELECT p.purchase_id, p.user_id,
                   j.f.tt AS first_type, j.f.tid AS first_id,
                   j.l.tt AS last_type, j.l.tid AS last_id
            FROM p LEFT JOIN j USING (purchase_id)
        """,
        # Implementation-independent spec for the prefix-filtered exact
        # set-sim join: the full inverted index (no prefix pruning)
        # over the SAME md5-hashed shingle sets. Identical output
        # proves candidate generation is lossless.
        "q_setjoin": f"""
            WITH sh0 AS ({_SHINGLES}),
            ex AS (SELECT DISTINCT doc_id,
                     {_MD5_32.format(x='shingle')} AS h
                   FROM sh0),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS ni
              FROM ex a JOIN ex b
                ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1)
            SELECT doc_a, doc_b,
                   round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6)
                     AS jaccard
            FROM common
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= 0.5
        """,
        "q_collocations": f"""
            WITH toked AS (
              SELECT {_DOC_TOKENS} AS t FROM documents
              WHERE text IS NOT NULL),
            bg AS (
              SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                       i -> {{'a': t[i], 'b': t[i+1]}})) AS p
              FROM toked WHERE len(t) >= 2),
            pairs AS (SELECT p.a AS tok_a, p.b AS tok_b FROM bg),
            big AS (SELECT tok_a, tok_b, count(*) AS n_ab
                    FROM pairs GROUP BY 1, 2),
            ua AS (SELECT tok_a, count(*) AS n_a FROM pairs GROUP BY 1),
            ub AS (SELECT tok_b, count(*) AS n_b FROM pairs GROUP BY 1),
            tot AS (SELECT count(*) AS n_tot FROM pairs)
            SELECT tok_a, tok_b, n_ab,
                   CAST(n_ab * n_tot AS DOUBLE)
                     / CAST(n_a * n_b AS DOUBLE) AS lift
            FROM big JOIN ua USING (tok_a) JOIN ub USING (tok_b)
            CROSS JOIN tot
            WHERE n_ab >= 5
              AND CAST(n_ab * n_tot AS DOUBLE)
                    / CAST(n_a * n_b AS DOUBLE) >= 1.2
        """,
        # q_simhash's signature CTE + the banded pigeonhole candidate
        # join + bit_count(xor) verification — replays the engine's
        # lossless Hamming≤1 join end to end.
        "q_simhash_pairs": f"""
            WITH t AS (
              SELECT doc_id, unnest(list_distinct({_DOC_TOKENS})) AS tok
              FROM documents),
            h AS (SELECT doc_id, {_MD5_32.format(x='tok')} AS hv FROM t),
            bits AS (SELECT unnest(generate_series(0, 31)) AS i),
            votes AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM h CROSS JOIN bits GROUP BY 1, 2),
            s AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << i
                              ELSE 0 END) AS BIGINT) AS sh
              FROM votes GROUP BY 1),
            bands AS (
              SELECT doc_id, b.b, (sh >> (b.b * 16)) & 65535 AS v
              FROM s CROSS JOIN
                   (SELECT unnest(generate_series(0, 1)) AS b) b),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
              FROM bands a JOIN bands c
                ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id)
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
            FROM cand
            JOIN s sa ON sa.doc_id = doc_a
            JOIN s sb ON sb.doc_id = doc_b
            WHERE bit_count(xor(sa.sh, sb.sh)) <= 1
        """,
        "q_simhash": f"""
            WITH t AS (
              SELECT doc_id, unnest(list_distinct({_DOC_TOKENS})) AS tok
              FROM documents),
            h AS (SELECT doc_id, {_MD5_32.format(x='tok')} AS hv FROM t),
            bits AS (SELECT unnest(generate_series(0, 31)) AS i),
            votes AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM h CROSS JOIN bits GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << i
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY 1
        """,
        # Regenerates the grammar DataSource's record set in SQL: the
        # source's key choice is md5("seed:part:msg:rec") % |keys|
        # (grammar_source._records), so the oracle enumerates the same
        # (partition, message, record) grid and aggregates identically.
        # Literals pin _q_grammar_ingest's options: 4 partitions × 200
        # messages × 8 records, 3 ports, seed 42, keys A-F.
        "q_grammar_ingest": f"""
            WITH recs AS (
              SELECT p.part, m.m, r.r
              FROM (SELECT unnest(generate_series(0, 3)) AS part) p,
                   (SELECT unnest(generate_series(0, 199)) AS m) m,
                   (SELECT unnest(generate_series(0, 7)) AS r) r),
            rows_ AS (
              SELECT (part + r) % 3 AS source,
                     {_MD5_32.format(
                         x="'42:' || CAST(part AS VARCHAR) || ':' || "
                           "CAST(m AS VARCHAR) || ':' || CAST(r AS VARCHAR)"
                     )} % 6 AS ki
              FROM recs),
            keys(ki, key) AS (VALUES (0, 'A'), (1, 'B'), (2, 'C'),
                                     (3, 'D'), (4, 'E'), (5, 'F')),
            per_source AS (
              SELECT k.key, source, count(*) AS cnt
              FROM rows_ JOIN keys k USING (ki) GROUP BY 1, 2)
            SELECT key, min(cnt) AS min_cnt FROM per_source GROUP BY 1
        """,
        # Streaming form of the same grid: per (key, window=msg) counts
        # with the final-watermark emission rule (windows whose end ≤
        # global max event-time − 2 s delay emit; the rest stay in
        # state). ts of record (m, r) = m·1000 + (r·1000)//8 < (m+1)·1000
        # → window id IS m.
        "q_stream_grammar": f"""
            WITH recs AS (
              SELECT p.part, m.m, r.r
              FROM (SELECT unnest(generate_series(0, 3)) AS part) p,
                   (SELECT unnest(generate_series(0, 199)) AS m) m,
                   (SELECT unnest(generate_series(0, 7)) AS r) r),
            rows_ AS (
              SELECT m * 1000 + (r * 1000) // 8 AS ts_ms,
                     m AS ltw,
                     (part + r) % 3 AS source,
                     {_MD5_32.format(
                         x="'42:' || CAST(part AS VARCHAR) || ':' || "
                           "CAST(m AS VARCHAR) || ':' || CAST(r AS VARCHAR)"
                     )} % 6 AS ki
              FROM recs),
            keys(ki, key) AS (VALUES (0, 'A'), (1, 'B'), (2, 'C'),
                                     (3, 'D'), (4, 'E'), (5, 'F')),
            wm AS (SELECT max(ts_ms) - 2000 AS wm_ms FROM rows_),
            per_source AS (
              SELECT k.key, ltw, source, count(*) AS cnt
              FROM rows_ JOIN keys k USING (ki) GROUP BY 1, 2, 3)
            SELECT key, CAST(ltw AS BIGINT) AS ltw,
                   CAST(min(cnt) AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key, ltw
            HAVING count(*) = 3
               AND (ltw + 1) * 1000 <= (SELECT wm_ms FROM wm)
        """,
        "q_dedup_clusters": f"""
            WITH RECURSIVE sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            ix AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT doc_a, doc_b FROM common
              JOIN sizes na ON na.doc_id = doc_a
              JOIN sizes nb ON nb.doc_id = doc_b
              WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.2),
            sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT a AS node, a AS r FROM sym
              UNION
              SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a)
            SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY 1
        """,
        "q_dedup_survivors": f"""
            WITH RECURSIVE sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            ix AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT doc_a, doc_b FROM common
              JOIN sizes na ON na.doc_id = doc_a
              JOIN sizes nb ON nb.doc_id = doc_b
              WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.2),
            sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT a AS node, a AS r FROM sym
              UNION
              SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
            cl AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
            ranked AS (
              SELECT d.doc_id, d.n_chars,
                     row_number() OVER (PARTITION BY cl.cluster
                                        ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
              FROM cl JOIN documents d USING (doc_id))
            SELECT doc_id, n_chars, TRUE AS is_cluster_rep FROM ranked WHERE rk = 1
            UNION ALL
            SELECT d.doc_id, d.n_chars, FALSE AS is_cluster_rep
            FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM cl)
        """,
        # q_dedup_clusters' component CTE + singleton fallback + the
        # hash_split md5-bucket rule keyed on the CLUSTER label.
        "q_cluster_split": f"""
            WITH RECURSIVE sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            ix AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT doc_a, doc_b FROM common
              JOIN sizes na ON na.doc_id = doc_a
              JOIN sizes nb ON nb.doc_id = doc_b
              WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.2),
            sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT a AS node, a AS r FROM sym
              UNION
              SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
            cl AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
            lab AS (
              SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster
              FROM documents d LEFT JOIN cl USING (doc_id)),
            b AS (
              SELECT doc_id, cluster,
                     CAST(('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4)) AS INT)
                       % 10000 AS bkt
              FROM lab)
            SELECT doc_id, cluster,
                   CASE WHEN bkt < 1000 THEN 'test'
                        WHEN bkt < 9000 THEN 'train'
                        ELSE 'val' END AS split
            FROM b
        """,
        "q_dup_spans": f"""
            WITH sp AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len({_DOC_TOKENS}) >= 8 THEN
                  list_transform(generate_series(1, len({_DOC_TOKENS}) - 7),
                    i -> {_DOC_TOKENS}[i]   || ' ' || {_DOC_TOKENS}[i+1] || ' ' ||
                         {_DOC_TOKENS}[i+2] || ' ' || {_DOC_TOKENS}[i+3] || ' ' ||
                         {_DOC_TOKENS}[i+4] || ' ' || {_DOC_TOKENS}[i+5] || ' ' ||
                         {_DOC_TOKENS}[i+6] || ' ' || {_DOC_TOKENS}[i+7])
                ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS span
              FROM documents WHERE text IS NOT NULL),
            span_df AS (
              SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
            dup AS (
              SELECT sp.doc_id, count(*) AS n_dup_spans
              FROM sp JOIN span_df USING (span) GROUP BY 1),
            totals AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1)
            SELECT t.doc_id, t.n_spans,
                   CAST(coalesce(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
                   CAST(coalesce(d.n_dup_spans, 0) AS DOUBLE)
                     / CAST(t.n_spans AS DOUBLE) AS dup_frac
            FROM totals t LEFT JOIN dup d USING (doc_id)
        """,
        # Same canonical-first election in SQL: row_number over
        # (doc_id, pos) per gram; rn > 1 occurrences donate their k
        # positions to the delete set; reassembly is an ordered
        # string_agg over surviving positions.
        "q_remove_spans": f"""
            WITH toked AS (
              SELECT doc_id, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL),
            grams AS (
              SELECT doc_id, i - 1 AS pos,
                     t[i]   || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                     t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                     t[i+6] || ' ' || t[i+7] AS gram
              FROM toked, unnest(generate_series(1, len(t) - 7)) AS u(i)
              WHERE len(t) >= 8),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY gram
                                        ORDER BY doc_id, pos) AS rn
              FROM grams),
            dels AS (
              SELECT DISTINCT doc_id, pos + j AS pos
              FROM ranked, unnest(generate_series(0, 7)) AS u(j)
              WHERE rn > 1),
            pos_tok AS (
              SELECT doc_id, t[i] AS tok, i - 1 AS pos
              FROM toked, unnest(generate_series(1, len(t))) AS u(i)),
            kept AS (
              SELECT p.doc_id, p.pos, p.tok
              FROM pos_tok p LEFT JOIN dels d
                ON p.doc_id = d.doc_id AND p.pos = d.pos
              WHERE d.doc_id IS NULL),
            agg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(len(t.t) AS BIGINT) AS n_tokens,
                   CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
                   coalesce(a.text_clean, '') AS text_clean
            FROM toked t LEFT JOIN agg a USING (doc_id)
        """,
        "q_cohorts": """
            WITH e AS (
              SELECT user_id AS u, epoch_ns(ts) // 604800000000000 AS w
              FROM events),
            first AS (SELECT u, min(w) AS cohort FROM e GROUP BY u),
            activity AS (SELECT DISTINCT u, w FROM e),
            sizes AS (SELECT cohort, count(*) AS cohort_n FROM first GROUP BY cohort),
            r AS (
              SELECT f.cohort, a.w - f.cohort AS "offset",
                     count(DISTINCT a.u) AS n_active
              FROM activity a JOIN first f USING (u)
              GROUP BY 1, 2)
            SELECT r.cohort, r."offset",
                   CAST(r.n_active AS BIGINT) AS n_active,
                   CAST(s.cohort_n AS BIGINT) AS cohort_n,
                   CAST(r.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE) AS retention
            FROM r JOIN sizes s USING (cohort)
        """,
        "q_funnel": """
            WITH e AS (
              SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events),
            u AS (SELECT DISTINCT user_id FROM e),
            v AS (
              SELECT u.user_id,
                     min(CASE WHEN e.event_type = 'view' THEN e.ts END) AS t_view
              FROM u JOIN e USING (user_id) GROUP BY 1),
            c AS (
              SELECT v.user_id, v.t_view,
                     min(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
                         THEN e.ts END) AS t_click
              FROM v JOIN e USING (user_id) GROUP BY 1, 2),
            p AS (
              SELECT c.user_id, c.t_view, c.t_click,
                     min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                         THEN e.ts END) AS t_purchase
              FROM c JOIN e USING (user_id) GROUP BY 1, 2, 3)
            SELECT user_id,
                   CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                             WHEN t_click IS NOT NULL THEN 2
                             WHEN t_view IS NOT NULL THEN 1
                             ELSE 0 END AS INT) AS depth,
                   t_view, t_click, t_purchase
            FROM p
        """,
        "q_negative_pairs": """
            WITH b AS (
              SELECT vec_id,
                     CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR) || 'neg'), 1, 4)) AS INT)
                       % 64 AS bkt
              FROM embeddings),
            reps AS (SELECT bkt, min(vec_id) AS neg_id FROM b GROUP BY bkt),
            slots(slot) AS (VALUES (1), (2), (3), (4))
            SELECT a.vec_id AS anchor_id, r.neg_id, s.slot
            FROM b a
            CROSS JOIN slots s
            JOIN reps r ON r.bkt = (a.bkt + s.slot) % 64
            WHERE r.neg_id <> a.vec_id
        """,
        "q_group_cap": """
            WITH ranked AS (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap') ASC,
                                doc_id ASC) AS rk
              FROM documents)
            SELECT doc_id, source, n_chars FROM ranked WHERE rk <= 7
        """,
        # Literals pin _q_bm25's query/params: terms (the,data,model),
        # k1=1.2, b=0.75, Lucene idf, top-10 by (round4 score desc, id).
        "q_bm25": f"""
            WITH toks AS (SELECT doc_id, {_DOC_TOKENS} AS t FROM documents),
            lens AS (SELECT doc_id, len(t) AS dl FROM toks),
            corpus AS (SELECT count(*) AS n_docs,
                              CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl
                       FROM toks),
            post AS (
              SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest(t) AS term FROM toks)
              WHERE term IN ('the', 'data', 'model')
              GROUP BY doc_id, term),
            dfs AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM post GROUP BY term),
            -- per-term partial scores pivoted to columns and added in
            -- the query's term order — mirrors the Spark side's
            -- fixed-order add, so every double op sequences
            -- identically in both engines (a float SUM over rows
            -- would accumulate in engine-determined order)
            pivoted AS (
              SELECT p.doc_id,
                     max(CASE WHEN p.term = 'the' THEN
                       ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl))
                     END) AS s0,
                     max(CASE WHEN p.term = 'data' THEN
                       ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl))
                     END) AS s1,
                     max(CASE WHEN p.term = 'model' THEN
                       ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl))
                     END) AS s2
              FROM post p
              JOIN dfs d USING (term)
              JOIN lens l USING (doc_id)
              CROSS JOIN corpus c
              GROUP BY p.doc_id)
            SELECT doc_id,
                   round(0.0 + coalesce(s0, 0.0) + coalesce(s1, 0.0)
                         + coalesce(s2, 0.0), 4) AS score
            FROM pivoted
            ORDER BY score DESC, doc_id
            LIMIT 10
        """,
        "q_vocab": f"""
            WITH ex AS (SELECT doc_id, unnest({_DOC_TOKENS}) AS term
                        FROM documents),
            n AS (SELECT count(*) AS n_docs FROM documents),
            s AS (SELECT term, count(DISTINCT doc_id) AS df,
                         count(*) AS tf
                  FROM ex GROUP BY term)
            SELECT term, df, tf,
                   CAST(df AS DOUBLE) / n.n_docs > 0.5 AS stopword
            FROM s CROSS JOIN n
            ORDER BY df DESC, term
            LIMIT 50
        """,
        # Latest-change-wins MERGE: the oracle replays the same
        # two-generation feed with QUALIFY row_number, then anti-joins.
        "q_cdc_merge": """
            WITH changes AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     o_totalprice + 10.0 AS o_totalprice,
                     o_orderdate, o_orderpriority,
                     CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op,
                     1 AS gen
              FROM orders WHERE o_orderkey % 3 = 0
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     o_totalprice + 20.0, o_orderdate, o_orderpriority,
                     'U', 2
              FROM orders WHERE o_orderkey % 6 = 0
            ),
            latest AS (
              SELECT * FROM changes
              QUALIFY row_number()
                      OVER (PARTITION BY o_orderkey ORDER BY gen DESC) = 1
            )
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM latest WHERE op <> 'D'
        """,
        # Reference-range integer bucketing, add-one smoothing,
        # nano-unit contributions summed as integers.
        "q_psi": """
            WITH rq AS (
              SELECT CAST(round(value * 1000) AS BIGINT) AS xq
              FROM events WHERE value IS NOT NULL AND event_id % 2 = 0),
            cq AS (
              SELECT CAST(round(value * 1000) AS BIGINT) AS xq
              FROM events WHERE value IS NOT NULL AND event_id % 2 = 1),
            b AS (SELECT min(xq) AS mn, max(xq) AS mx FROM rq),
            rb AS (
              SELECT ((least(mx, greatest(mn, xq)) - mn) * 10)
                       // (mx - mn + 1) AS bucket, count(*) AS cr
              FROM rq, b GROUP BY 1),
            cb AS (
              SELECT ((least(mx, greatest(mn, xq)) - mn) * 10)
                       // (mx - mn + 1) AS bucket, count(*) AS cc
              FROM cq, b GROUP BY 1),
            grid AS (SELECT unnest(generate_series(0, 9)) AS bucket),
            j AS (
              SELECT g.bucket,
                     coalesce(rb.cr, 0) + 1 AS ar,
                     coalesce(cb.cc, 0) + 1 AS ac
              FROM grid g
              LEFT JOIN rb ON rb.bucket = g.bucket
              LEFT JOIN cb ON cb.bucket = g.bucket),
            t AS (SELECT sum(ar) AS tr, sum(ac) AS tc FROM j)
            SELECT CAST(max(tr) - 10 AS BIGINT) AS n_ref,
                   CAST(max(tc) - 10 AS BIGINT) AS n_cur,
                   round(sum(CAST(round((ar / tr - ac / tc)
                                        * ln((ar / tr) / (ac / tc))
                                        * 1e9) AS BIGINT)) / 1e9, 6) AS psi
            FROM j, t
        """,
        # Bigram interpolation mirrored term by term (0.75·MLE +
        # 0.25·add-one unigram); nano-nat integer sums as usual.
        # Per-key trend: BIGINT sufficient statistics, one IEEE
        # division; x rebased to min hour. CASTs: SUM -> HUGEINT.
        "q_trend": """
            WITH base AS (
              SELECT event_type AS key,
                     epoch_ns(ts) // 3600000000000 AS h,
                     CAST(round(value * 1000) AS BIGINT) AS yq
              FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
            m AS (SELECT min(h) AS mn FROM base),
            p AS (SELECT key, CAST(h - mn AS BIGINT) AS x, yq
                  FROM base, m),
            a AS (SELECT key, count(*) AS n,
                         sum(x) AS sx, sum(yq) AS sy,
                         sum(x * yq) AS sxy, sum(x * x) AS sxx
                  FROM p GROUP BY key)
            SELECT key, CAST(n AS BIGINT) AS n,
                   CASE WHEN n * sxx - sx * sx <> 0 THEN
                     CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
                   CASE WHEN n * sxx - sx * sx <> 0 THEN
                     CAST(sy * sxx - sx * sxy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS intercept
            FROM a
        """,
        # Orphan audit: NOT EXISTS per relation, one UNION ALL block.
        "q_fk_audit": """
              SELECT 'lineitem->orders' AS relation,
                     (SELECT count(*) FROM lineitem) AS n_child,
                     (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM lineitem c
                      WHERE c.l_orderkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM orders p WHERE p.o_orderkey = c.l_orderkey))
                       AS n_orphans
              UNION ALL
              SELECT 'lineitem->part' AS relation,
                     (SELECT count(*) FROM lineitem) AS n_child,
                     (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM lineitem c
                      WHERE c.l_partkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))
                       AS n_orphans
              UNION ALL
              SELECT 'lineitem->supplier' AS relation,
                     (SELECT count(*) FROM lineitem) AS n_child,
                     (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM lineitem c
                      WHERE c.l_suppkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.l_suppkey))
                       AS n_orphans
              UNION ALL
              SELECT 'orders->customer' AS relation,
                     (SELECT count(*) FROM orders) AS n_child,
                     (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM orders c
                      WHERE c.o_custkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
                       AS n_orphans
              UNION ALL
              SELECT 'customer->nation' AS relation,
                     (SELECT count(*) FROM customer) AS n_child,
                     (SELECT count(*) FROM customer WHERE c_nationkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM customer c
                      WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM nation p WHERE p.n_nationkey = c.c_nationkey))
                       AS n_orphans
              UNION ALL
              SELECT 'supplier->nation' AS relation,
                     (SELECT count(*) FROM supplier) AS n_child,
                     (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM supplier c
                      WHERE c.s_nationkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM nation p WHERE p.n_nationkey = c.s_nationkey))
                       AS n_orphans
              UNION ALL
              SELECT 'nation->region' AS relation,
                     (SELECT count(*) FROM nation) AS n_child,
                     (SELECT count(*) FROM nation WHERE n_regionkey IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM nation c
                      WHERE c.n_regionkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM region p WHERE p.r_regionkey = c.n_regionkey))
                       AS n_orphans
              UNION ALL
              SELECT 'events->customer' AS relation,
                     (SELECT count(*) FROM events) AS n_child,
                     (SELECT count(*) FROM events WHERE user_id IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM events c
                      WHERE c.user_id IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM customer p WHERE p.c_custkey = c.user_id))
                       AS n_orphans
              UNION ALL
              SELECT 'embeddings->documents' AS relation,
                     (SELECT count(*) FROM embeddings) AS n_child,
                     (SELECT count(*) FROM embeddings WHERE vec_id IS NULL)
                       AS n_null_fk,
                     (SELECT count(*) FROM embeddings c
                      WHERE c.vec_id IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM documents p WHERE p.doc_id = c.vec_id))
                       AS n_orphans
        """,
        # PSI timeline: q_psi's bucket/smoothing/nano recipe, windowed
        # and self-joined on (window-1, bucket); integer closure DIV.
        "q_drift_timeline": """
            WITH base AS (
              SELECT epoch_ns(ts) // 3600000000000 AS w,
                     CAST(round(value * 1000) AS BIGINT) AS xq
              FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
            b AS (SELECT min(xq) AS mn, max(xq) AS mx FROM base),
            cnt AS (
              SELECT w, ((least(mx, greatest(mn, xq)) - mn) * 10)
                       // (mx - mn + 1) AS bucket, count(*) AS c
              FROM base, b GROUP BY 1, 2),
            wins AS (SELECT DISTINCT w FROM cnt),
            grid AS (SELECT w, unnest(generate_series(0, 9)) AS bucket
                     FROM wins),
            dense AS (
              SELECT g.w, g.bucket, coalesce(cnt.c, 0) + 1 AS a
              FROM grid g
              LEFT JOIN cnt ON cnt.w = g.w AND cnt.bucket = g.bucket),
            tot AS (SELECT w, sum(a) AS t FROM dense GROUP BY w),
            d AS (SELECT dense.w, bucket, a, t FROM dense JOIN tot USING (w)),
            j AS (
              SELECT c.w AS w, c.bucket,
                     p.a AS ar, p.t AS tr, c.a AS ac, c.t AS tc
              FROM d c JOIN d p ON p.w = c.w - 1 AND p.bucket = c.bucket)
            SELECT CAST(w * 3600000000000 AS BIGINT) AS win_start_ns,
                   CAST(max(tr) - 10 AS BIGINT) AS n_prev,
                   CAST(max(tc) - 10 AS BIGINT) AS n_cur,
                   CAST((sum(CAST(round((ar / tr - ac / tc)
                                        * ln((ar / tr) / (ac / tc))
                                        * 1e9) AS BIGINT)) + 500) // 1000
                        AS DOUBLE) / 1e6 AS psi
            FROM j GROUP BY w
        """,
        "q_lm_bigram": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_DOC_TOKENS}) AS term,
                     generate_subscripts({_DOC_TOKENS}, 1) AS pos
              FROM documents),
            big AS (
              SELECT a.doc_id, a.term AS prev, b.term AS w
              FROM tok a JOIN tok b
                ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
              WHERE a.term <> '' AND b.term <> ''),
            cu AS (SELECT term, count(*) AS cu FROM tok
                   WHERE term <> '' GROUP BY term),
            tot AS (SELECT sum(cu) AS t, count(*) AS v FROM cu),
            cb AS (SELECT prev, w, count(*) AS cb FROM big GROUP BY 1, 2),
            ctx AS (SELECT prev, sum(cb) AS ctx FROM cb GROUP BY prev),
            firsts AS (
              SELECT doc_id, ({_DOC_TOKENS})[1] AS term FROM documents
              WHERE len({_DOC_TOKENS}) >= 1 AND ({_DOC_TOKENS})[1] <> ''),
            fscore AS (
              SELECT f.doc_id,
                     CAST(round(-ln((coalesce(cu, 0) + 1) / (t + v + 1))
                                * 1e9) AS BIGINT) AS nano
              FROM firsts f LEFT JOIN cu ON cu.term = f.term
              CROSS JOIN tot),
            rscore AS (
              SELECT big.doc_id,
                     CAST(round(-ln(0.75 * coalesce(cb.cb / ctx.ctx, 0.0)
                                    + 0.25 * ((coalesce(cu.cu, 0) + 1)
                                              / (t + v + 1)))
                                * 1e9) AS BIGINT) AS nano
              FROM big
              LEFT JOIN cb ON cb.prev = big.prev AND cb.w = big.w
              LEFT JOIN ctx ON ctx.prev = big.prev
              LEFT JOIN cu ON cu.term = big.w
              CROSS JOIN tot),
            allsc AS (SELECT * FROM fscore UNION ALL SELECT * FROM rscore)
            SELECT doc_id, count(*) AS n_tokens,
                   round(sum(nano) / (count(*) * 1e9), 6) AS nll,
                   round(exp(sum(nano) / (count(*) * 1e9)), 4) AS ppl
            FROM allsc GROUP BY doc_id
        """,
        # Nano-nat integer sums make the log-prob path order-independent
        # in both engines; ln/exp libm drift is below the rounded grain.
        "q_lm_perplexity": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_DOC_TOKENS}) AS term FROM documents
            ),
            tok2 AS (SELECT * FROM tok WHERE term <> ''),
            cnt AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term),
            tot AS (SELECT sum(c) AS t, count(*) AS v FROM cnt),
            scored AS (
              SELECT doc_id,
                     CAST(round(-ln((c + 1) / (t + v + 1)) * 1e9) AS BIGINT)
                       AS nano
              FROM tok2 JOIN cnt USING (term) CROSS JOIN tot)
            SELECT doc_id,
                   count(*) AS n_tokens,
                   round(sum(nano) / (count(*) * 1e9), 6) AS nll,
                   round(exp(sum(nano) / (count(*) * 1e9)), 4) AS ppl
            FROM scored GROUP BY doc_id
        """,
        # Replays functions/dsir.py exactly: md5_32(gram) % 4096
        # buckets over unigrams+bigrams, add-one-smoothed log-ratio in
        # nano-nats (each factor cast to double separately, one
        # division, one ln — the engine's expression tree term for
        # term), exact BIGINT per-doc sums, top-100 on (sum DESC,
        # doc_id). Target = lang = 'en'.
        "q_dsir": f"""
            WITH tok AS (
              SELECT doc_id, lang, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL
            ),
            grams AS (
              SELECT doc_id, lang, unnest(list_concat(
                list_filter(t, x -> x <> ''),
                CASE WHEN len(t) >= 2 THEN
                  list_transform(generate_series(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1])
                ELSE [] END)) AS gram
              FROM tok),
            buck AS (
              SELECT doc_id, lang,
                     {_MD5_32.format(x='gram')} % 4096 AS b
              FROM grams),
            raw AS (SELECT b, count(*) AS rc FROM buck GROUP BY b),
            tgt AS (SELECT b, count(*) AS tc FROM buck
                    WHERE lang = 'en' GROUP BY b),
            tots AS (SELECT (SELECT sum(rc) FROM raw) AS rtot,
                            (SELECT coalesce(sum(tc), 0) FROM tgt) AS ttot),
            w AS (
              SELECT raw.b,
                     CAST(round(ln(
                       (CAST(coalesce(tc, 0) + 1 AS DOUBLE)
                          * (CAST(rtot AS DOUBLE) + 4096.0))
                       / (CAST(rc + 1 AS DOUBLE)
                          * (CAST(ttot AS DOUBLE) + 4096.0))
                     ) * 1e9) AS BIGINT) AS nano
              FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots),
            scored AS (
              SELECT doc_id, count(*) AS n_grams, sum(nano) AS s
              FROM buck JOIN w USING (b) GROUP BY doc_id)
            SELECT doc_id, n_grams, round(s / 1e9, 6) AS weight
            FROM scored ORDER BY s DESC, doc_id LIMIT 100
        """,
        # The oracle is the exact string-gram anti-join: the Bloom
        # prefilter in the Spark plan is correctness-neutral by design.
        "q_bloom_decontaminate": f"""
            WITH grams AS (
              SELECT doc_id, source, unnest(list_distinct(
                CASE WHEN len({_DOC_TOKENS}) >= 8 THEN
                  list_transform(generate_series(1, len({_DOC_TOKENS}) - 7),
                    i -> array_to_string(({_DOC_TOKENS})[i:i+7], ' '))
                ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS g
              FROM documents WHERE text IS NOT NULL),
            bench AS (SELECT DISTINCT g FROM grams
                      WHERE source IN ('src0', 'src1')),
            contaminated AS (
              SELECT DISTINCT doc_id FROM grams
              WHERE source NOT IN ('src0', 'src1')
                AND g IN (SELECT g FROM bench))
            SELECT doc_id FROM documents
            WHERE source NOT IN ('src0', 'src1')
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        """,
        # Seeds = 8 lowest vec_ids; assignment argmax on round-6 cosine
        # (ties to lowest seed); pair filter on round-4 cosine >= 0.4.
        # auto seed count (round 8): ns.s = max(8, floor(sqrt(N)))
        # replays the engine's max(8, isqrt(N)) — exact for every N
        # below 2^52 (double sqrt can't cross an integer boundary at
        # these magnitudes).
        "q_semantic_dedup": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            ns AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS INT))
                          AS s FROM embeddings),
            seeds AS (SELECT vec_id AS seed_id, e AS se FROM v
                      ORDER BY vec_id LIMIT (SELECT s FROM ns)),
            asg AS (
              SELECT v.vec_id, v.e, s.seed_id,
                     round(list_dot_product(v.e, s.se)
                           / (sqrt(list_dot_product(v.e, v.e))
                              * sqrt(list_dot_product(s.se, s.se))), 6) AS c
              FROM v CROSS JOIN seeds s),
            best AS (
              SELECT vec_id, e, seed_id AS cluster,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY c DESC, seed_id) AS rn
              FROM asg),
            a AS (SELECT * FROM best WHERE rn = 1),
            pairs AS (
              SELECT x.cluster, x.vec_id AS id_a, y.vec_id AS id_b,
                     round(list_dot_product(x.e, y.e)
                           / (sqrt(list_dot_product(x.e, x.e))
                              * sqrt(list_dot_product(y.e, y.e))), 4) AS cos
              FROM a x JOIN a y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
            SELECT cluster, id_a, id_b, cos FROM pairs WHERE cos >= 0.4
        """,
        "q_quality_filter": f"""
            WITH q AS (
              SELECT doc_id,
                     round((CAST(len(list_distinct({_DOC_TOKENS})) AS DOUBLE)
                            / len({_DOC_TOKENS}))
                           * least(len({_DOC_TOKENS}) / 50.0, 1.0), 6) AS quality
              FROM documents),
            -- threshold = exact (k+1)-th smallest quality, k = n // 10:
            -- strict order statistic (integer arithmetic), mirroring the
            -- Spark side — NOT quantile_cont, whose interpolation can
            -- differ by 1 ulp across engines
            n AS (SELECT count(*) // 10 AS k FROM q),
            vals AS (SELECT quality, count(*) AS c FROM q GROUP BY 1),
            cum AS (SELECT quality,
                           sum(c) OVER (ORDER BY quality
                                        ROWS UNBOUNDED PRECEDING) AS cc
                    FROM vals),
            t AS (SELECT min(quality) AS thr FROM cum, n WHERE cc >= k + 1)
            SELECT doc_id, quality FROM q, t WHERE quality >= thr
        """,
        "q_domain_mix": """
            WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
            w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)),
            rates AS (
              SELECT counts.source,
                     least(1.0, wt * 60.0 / n) AS rate
              FROM counts JOIN w USING (source))
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN rates USING (source)
            WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 4)) AS INT)
                  % 65536 < rate * 65536
        """,
        "q_ann_recall": _ann_recall_sql(),
        "q_simsearch_ivf": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            cent0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16),
            centroids AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     e AS ce
              FROM cent0),
            asg AS (
              SELECT v.vec_id, v.e, c.cell,
                     row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_dot_product(v.e, c.ce)
                                / (sqrt(list_dot_product(v.e, v.e))
                                   * sqrt(list_dot_product(c.ce, c.ce))), 6)
                                DESC, c.cell) AS rn
              FROM v CROSS JOIN centroids c),
            assigned AS (SELECT vec_id, e, cell FROM asg WHERE rn = 1),
            q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
            probe AS (
              SELECT c.cell
              FROM centroids c, q
              ORDER BY round(list_dot_product(c.ce, q.qe)
                       / (sqrt(list_dot_product(c.ce, c.ce))
                          * sqrt(list_dot_product(q.qe, q.qe))), 6) DESC,
                       c.cell
              LIMIT 4)
            SELECT a.vec_id,
                   round(list_dot_product(a.e, q.qe)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
            FROM assigned a JOIN probe USING (cell), q
            WHERE a.vec_id <> 0
            ORDER BY cos DESC, a.vec_id
            LIMIT 10
        """,
        "q_simsearch_lsh": f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            b AS (SELECT vec_id, e, {_bucket_sql(4)} AS bucket FROM v),
            q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
            SELECT b.vec_id,
                   round(list_dot_product(b.e, q.qe)
                         / (sqrt(list_dot_product(b.e, b.e))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
            FROM b, q
            WHERE b.bucket = q.qb AND b.vec_id <> 0
            ORDER BY cos DESC, b.vec_id
            LIMIT 10
        """,
        "q_simsearch_multiprobe": f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            b AS (SELECT vec_id, e, {_bucket_sql(4)} AS bucket FROM v),
            q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0),
            m AS (
              {_margin_union_sql(4)}),
            flips AS (SELECT i FROM m ORDER BY am, i LIMIT 2),
            probes AS (
              SELECT qb AS pb FROM q
              UNION ALL
              SELECT xor(qb, CAST(1 << i AS BIGINT)) FROM flips, q)
            SELECT b.vec_id,
                   {_COS4.format(a="b.e", b="q.qe")} AS cos
            FROM b, q
            WHERE b.bucket IN (SELECT pb FROM probes) AND b.vec_id <> 0
            ORDER BY cos DESC, b.vec_id
            LIMIT 10
        """,
        # auto plane count (round 8): kk.k = smallest k >= 4 with
        # 256 * 2^k >= N, replaying the engine's integer-exact rule;
        # pow(2.0, k) is exact in a double for k <= 40, so the
        # comparison is integer-exact too.
        "q_embed_neardup_lsh": f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            nn AS (SELECT count(*) AS n FROM embeddings),
            kk AS (SELECT greatest(4, (SELECT min(t.k)
                                       FROM range(1, 41) t(k), nn
                                       WHERE 256 * pow(2.0, t.k) >= nn.n))
                          AS k FROM nn),
            b AS (SELECT vec_id, e, {_masked_bucket_sql()} AS bucket
                  FROM v CROSS JOIN kk)
            SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                   round(list_dot_product(x.e, y.e)
                         / (sqrt(list_dot_product(x.e, x.e))
                            * sqrt(list_dot_product(y.e, y.e))), 4) AS cos
            FROM b x JOIN b y
              ON x.bucket = y.bucket AND x.vec_id < y.vec_id
            WHERE round(list_dot_product(x.e, y.e)
                        / (sqrt(list_dot_product(x.e, x.e))
                           * sqrt(list_dot_product(y.e, y.e))), 4) >= 0.4
        """,
        "q_simsearch": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))), 4) AS cos
              FROM embeddings e, q WHERE e.vec_id <> 0)
            SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10
        """,
        # Filtered vector search: the predicate joins in BEFORE the
        # dot product; the query vector comes from the FULL table (a
        # probe is valid even when its own doc fails the filter).
        "q_simsearch_filtered": """
            WITH keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
              FROM embeddings e JOIN keep k ON e.vec_id = k.doc_id, q
              WHERE e.vec_id <> 0)
            SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10
        """,
        # Largest-remainder (Hamilton) quota sampling: all-integer
        # apportionment + md5 draw order, replayed exactly. CASTs:
        # window SUM -> HUGEINT, its quotients -> HUGEINT, row_number
        # -> int64; Spark emits bigint everywhere.
        "q_quota_sample": """
            WITH d AS (SELECT doc_id, source FROM documents
                       WHERE doc_id % 7 <> 0),
            c AS (SELECT source, count(*) AS n_group FROM d GROUP BY source),
            q0 AS (SELECT source, n_group, SUM(n_group) OVER () AS N FROM c),
            q1 AS (SELECT source, n_group,
                          (97 * n_group) // N AS base,
                          (97 * n_group) % N AS rem
                   FROM q0),
            q2 AS (SELECT source, n_group, base,
                          row_number() OVER (ORDER BY rem DESC, source) AS rr,
                          97 - SUM(base) OVER () AS short
                   FROM q1),
            q AS (SELECT source, CAST(n_group AS BIGINT) AS n_group,
                         CAST(base + CASE WHEN rr <= short THEN 1 ELSE 0 END
                              AS BIGINT) AS quota
                  FROM q2),
            r AS (SELECT doc_id, source,
                         CAST(row_number() OVER (PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'),
                                    doc_id) AS BIGINT) AS draw_rank
                  FROM d)
            SELECT r.doc_id, r.source, q.n_group, q.quota, r.draw_rank
            FROM r JOIN q USING (source) WHERE r.draw_rank <= q.quota
        """,
        "q_simsearch_multi": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
              FROM embeddings e, q WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     CAST(row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, vec_id) AS INT) AS rank
              FROM scored)
            SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
        """,
        "q_multimodal_meta": """
            SELECT doc_id AS media_id,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   CAST(ascii(substring(text, 1, 1)) AS INT) AS first_byte
            FROM documents
        """,
        "q_frame_sample": """
            SELECT doc_id AS media_id,
                   CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_frames,
                   CAST(64 * (ceil(strlen(text) / 64.0) - 1) AS BIGINT) AS last_offset
            FROM documents WHERE strlen(text) > 0
        """,
        # Predicts decode_media_headers(synthetic_media(documents)):
        # every header field the REAL byte-parser extracts is an
        # arithmetic function of strlen(text) and doc_id % 3 (the
        # format selector) — see functions/multimodal.py layouts.
        "q_media_decode": """
            WITH m AS (SELECT doc_id, doc_id % 3 AS kind,
                              strlen(text) AS nb
                       FROM documents)
            SELECT doc_id AS media_id,
                   CASE kind WHEN 0 THEN 'wav' WHEN 1 THEN 'ppm'
                        ELSE 'bmp' END AS fmt,
                   CAST(CASE kind WHEN 0 THEN NULL WHEN 1 THEN 16
                        ELSE 8 END AS INT) AS width,
                   CAST(CASE kind WHEN 0 THEN NULL
                        WHEN 1 THEN greatest(1, nb // 48)
                        ELSE greatest(1, nb // 24) END AS INT) AS height,
                   CAST(CASE kind WHEN 0 THEN 1 ELSE 3 END AS INT)
                     AS n_channels,
                   CAST(CASE kind WHEN 0 THEN 8 WHEN 1 THEN 8
                        ELSE 24 END AS INT) AS bit_depth,
                   CAST(CASE kind WHEN 0 THEN nb ELSE NULL END AS BIGINT)
                     AS n_frames,
                   CAST(CASE kind WHEN 0 THEN 8000 ELSE NULL END AS INT)
                     AS sample_rate_hz,
                   CAST(CASE kind WHEN 0 THEN nb * 1000 // 8000
                        ELSE NULL END AS BIGINT) AS duration_ms
            FROM m
        """,
        "q_chunk_docs": f"""
            WITH t AS (
              SELECT doc_id, {_DOC_TOKENS} AS toks,
                     len({_DOC_TOKENS}) AS n
              FROM documents),
            c AS (
              SELECT doc_id, toks, n,
                     CASE WHEN n <= 64 THEN 1
                          ELSE 1 + CAST(ceil((n - 64) / 56.0) AS INT) END AS n_chunks
              FROM t),
            e AS (
              SELECT doc_id, toks, n,
                     unnest(generate_series(0, n_chunks - 1)) AS chunk_no
              FROM c)
            SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
                   CAST(chunk_no * 56 + 1 AS BIGINT) AS chunk_start,
                   CAST(least(chunk_no * 56 + 64, n) - chunk_no * 56 AS BIGINT)
                     AS n_chunk_tokens,
                   toks[chunk_no * 56 + 1] AS first_tok,
                   toks[least(chunk_no * 56 + 64, n)] AS last_tok
            FROM e
        """,
        "q_embed_neardup_exact": """
            WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_dot_product(a.e, b.e)
                           / (sqrt(list_dot_product(a.e, a.e))
                              * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4
        """,
        # Cost-model oracles reproduce the reference's fitted formulas
        # with the same literal expression shape (IEEE-stable); the
        # reference's Int/Int division M/m in costAPK is // here and
        # floor() on the Spark side.
        "q_cost_model_batch": """
            WITH counts AS (
              SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
            s AS (
              SELECT total AS m_total, count(*) AS k_keys, max(cnt) AS max_cnt,
                     CAST(sum(CASE WHEN cnt > 0.2 * total / 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
                     CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
                     CAST(max(cnt) AS DOUBLE) / total AS raw_p1
              FROM counts, t GROUP BY total)
            SELECT m_total, k_keys, max_cnt, n_heavy, n_singletons,
                   round(raw_p1, 9) AS p1,
                   round((14.55 * raw_p1 - 0.3857 + 1.0) * m_total / 12, 6) AS cost_hh,
                   -- CAST: 1.0 parses as DECIMAL in DuckDB, so this sum
                   -- is decimal(22,1) — Spark emits double.
                   CAST(round(m_total // 12 + 1.0 * (k_keys + n_heavy * (12 - 2) - n_singletons), 6) AS DOUBLE) AS cost_apk,
                   CAST(CASE WHEN (14.55 * raw_p1 - 0.3857 + 1.0) * m_total / 12
                              <= m_total // 12 + 1.0 * (k_keys + n_heavy * (12 - 2) - n_singletons)
                         THEN 0 ELSE 1 END AS INT) AS strategy,
                   CAST(CASE WHEN raw_p1 > 0.1 THEN 1 ELSE 0 END AS INT) AS rr_switch
            FROM s
        """,
        "q_cost_model_window": f"""
            WITH counts AS (
              SELECT event_type AS key, epoch_ns(ts) // {LGW_NS} AS ltw, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            t AS (SELECT ltw, CAST(sum(cnt) AS BIGINT) AS total FROM counts GROUP BY ltw),
            s AS (
              SELECT c.ltw, total AS m_total, count(*) AS k_keys, max(cnt) AS max_cnt,
                     CAST(sum(CASE WHEN cnt > 0.2 * total / 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
                     CAST(max(cnt) AS DOUBLE) / total AS raw_p1
              FROM counts c JOIN t ON c.ltw = t.ltw GROUP BY c.ltw, total)
            SELECT ltw, m_total, k_keys, max_cnt, n_heavy,
                   round(raw_p1, 9) AS p1,
                   round((13.26 * raw_p1 + 1.02) * m_total / 12, 6) AS cost_hh,
                   CAST(round(m_total // 12 + 1.0 * (k_keys + n_heavy * (12 - 2)), 6) AS DOUBLE) AS cost_apk,
                   CAST(CASE WHEN (13.26 * raw_p1 + 1.02) * m_total / 12
                              <= m_total // 12 + 1.0 * (k_keys + n_heavy * (12 - 2))
                         THEN 0 ELSE 1 END AS INT) AS strategy,
                   CAST(CASE WHEN raw_p1 > 0.1 THEN 1 ELSE 0 END AS INT) AS rr_switch
            FROM s
        """,
        # Streaming oracles: append mode emits a window once the final
        # watermark (max event-time ms − 1h delay) passes its end; the
        # ≤ boundary matches Spark's state eviction (verified in
        # tests/test_streaming.py).
        "q_stream_min_count_window": f"""
            WITH per_source AS ({_PER_SOURCE}),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms FROM events)
            SELECT key, ltw, CAST(min(cnt) AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key, ltw
            HAVING count(*) = 3
               AND (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_min_count_join": f"""
            WITH per_source AS ({_PER_SOURCE}),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms FROM events)
            SELECT key, ltw, CAST(min(cnt) AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key, ltw
            HAVING count(*) = 3
               AND (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_min_count_zero": f"""
            WITH per_source AS ({_PER_SOURCE}),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms FROM events)
            SELECT key, ltw,
                   CAST(CASE WHEN count(*) = 3 THEN min(cnt) ELSE 0 END AS BIGINT) AS min_cnt
            FROM per_source GROUP BY key, ltw
            HAVING (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_expectations": f"""
            WITH parsed AS (
              SELECT (epoch_ns(ts) // 1000000) // {CFG.lgw_ms} AS ltw,
                     value, event_type
              FROM events),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms
                   FROM events),
            agg AS (
              SELECT ltw,
                     -- CASE WHEN pred THEN 0 ELSE 1: a NULL predicate
                     -- counts as a violation, matching the batch
                     -- expectations operator (and Spark's
                     -- when(pred, 0).otherwise(1))
                     sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS v_nonneg,
                     sum(CASE WHEN value <= 100 THEN 0 ELSE 1 END) AS v_under,
                     sum(CASE WHEN event_type IS NOT NULL THEN 0 ELSE 1 END) AS v_type,
                     count(*) AS n_events
              FROM parsed GROUP BY ltw
              HAVING (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm))
            SELECT ltw, 'value_nonneg' AS check,
                   CAST(v_nonneg AS BIGINT) AS n_violations,
                   CAST(n_events AS BIGINT) AS n_events
            FROM agg
            UNION ALL
            SELECT ltw, 'value_under_100', CAST(v_under AS BIGINT),
                   CAST(n_events AS BIGINT)
            FROM agg
            UNION ALL
            SELECT ltw, 'type_known', CAST(v_type AS BIGINT),
                   CAST(n_events AS BIGINT)
            FROM agg
        """,
        "q_stream_dedup": f"""
            WITH parsed AS (
              SELECT event_type AS key, user_id,
                     (epoch_ns(ts) // 1000000) // {CFG.lgw_ms} AS ltw
              FROM events),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms FROM events)
            SELECT key, ltw, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM parsed GROUP BY key, ltw
            HAVING (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_sessions": f"""
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us FROM events),
            flagged AS (
              SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
                       PARTITION BY user_id ORDER BY ts_us)
                     > 14400000000 THEN 1 ELSE 0 END AS is_new
              FROM e),
            sess AS (
              SELECT *, sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms FROM events)
            SELECT user_id, min(ts_us) AS session_start,
                   max(ts_us) AS session_end,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
            HAVING max(ts_us) // 1000 + 14400000 <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_enrich": f"""
            WITH parsed AS (
              SELECT c_mktsegment,
                     (epoch_ns(ts) // 1000000) // {CFG.lgw_ms} AS ltw,
                     value
              FROM events JOIN customer ON c_custkey = user_id),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms
                   FROM events)
            SELECT c_mktsegment, ltw, count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM parsed GROUP BY 1, 2
            HAVING (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_interval_join": """
            WITH c AS (SELECT user_id, event_id AS click_id,
                              epoch_us(ts) AS click_ts_us
                       FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, event_id AS purchase_id,
                         epoch_us(ts) AS purchase_ts_us
                  FROM events WHERE event_type = 'purchase')
            SELECT c.user_id, click_id, purchase_id, click_ts_us, purchase_ts_us
            FROM c JOIN p ON c.user_id = p.user_id
                         AND purchase_ts_us >= click_ts_us
                         AND purchase_ts_us < click_ts_us + 3600000000
        """,
        "q_stream_interval_join_outer": """
            WITH c AS (SELECT user_id, event_id AS click_id,
                              epoch_us(ts) AS click_ts_us
                       FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, event_id AS purchase_id,
                         epoch_us(ts) AS purchase_ts_us
                  FROM events WHERE event_type = 'purchase'),
            wm AS (SELECT least((SELECT (max(click_ts_us) // 1000) * 1000 FROM c),
                                (SELECT (max(purchase_ts_us) // 1000) * 1000 FROM p))
                          - 3600000000 AS wm_us),
            m AS (SELECT c.user_id, click_id, purchase_id,
                         click_ts_us, purchase_ts_us
                  FROM c JOIN p ON c.user_id = p.user_id
                               AND purchase_ts_us >= click_ts_us
                               AND purchase_ts_us < click_ts_us + 3600000000)
            SELECT * FROM m
            UNION ALL
            SELECT user_id, click_id, CAST(NULL AS BIGINT) AS purchase_id,
                   click_ts_us, CAST(NULL AS BIGINT) AS purchase_ts_us
            FROM c
            WHERE click_id NOT IN (SELECT click_id FROM m)
              AND click_ts_us + 3600000000 <= (SELECT wm_us FROM wm)
        """,
        "q_stream_topk": """
            SELECT event_type AS key, count(*) AS n
            FROM events GROUP BY 1
            ORDER BY n DESC, key ASC LIMIT 3
        """,
        "q_stream_update": f"""
            SELECT event_type AS key,
                   (epoch_ns(ts) // 1000000) // {CFG.lgw_ms} AS ltw,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "q_stream_sliding": f"""
            WITH e AS (SELECT event_type AS key,
                              epoch_ns(ts) // 1000000 AS ms
                       FROM events),
            x AS (SELECT key, ms, unnest(generate_series(0, 1)) AS k FROM e),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms
                   FROM events)
            SELECT key,
                   (ms // {CFG.lgw_ms} - k) * {CFG.lgw_ms} AS win_start_ms,
                   count(*) AS n
            FROM x GROUP BY 1, 2
            HAVING win_start_ms + {2 * CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        "q_stream_max_window": f"""
            WITH parsed AS (
              SELECT event_type AS key,
                     (epoch_ns(ts) // 1000000) // {CFG.lgw_ms} AS ltw,
                     value
              FROM events),
            wm AS (SELECT max(epoch_ns(ts)) // 1000000 - {3_600_000} AS wm_ms FROM events)
            SELECT key, ltw, round(max(value), 6) AS max_val
            FROM parsed GROUP BY key, ltw
            HAVING (ltw + 1) * {CFG.lgw_ms} <= (SELECT wm_ms FROM wm)
        """,
        # Seeded epoch reshuffle: digest = md5(doc_id || ':epoch1')
        # drives both shard (first 16 bits mod 16) and within-shard
        # order (full digest); the rank × (doc_id mod P) checksum is
        # order-SENSITIVE, so this replays the exact permutation.
        # CASTs: window row_number and SUM(BIGINT) promote to
        # HUGEINT/decimal128 in DuckDB — pin every sum to BIGINT.
        "q_epoch_shuffle": """
            WITH h AS (
              SELECT doc_id, n_chars,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch1') AS dg
              FROM documents),
            s AS (
              SELECT doc_id, n_chars, dg,
                     CAST(('0x' || substring(dg, 1, 4)) AS INT) % 16 AS shard
              FROM h),
            r AS (
              SELECT doc_id, n_chars, shard,
                     CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY dg, doc_id) AS BIGINT) AS rnk
              FROM s)
            SELECT shard,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_weight,
                   CAST(sum(rnk * (doc_id % 1000003)) AS BIGINT) AS order_checksum,
                   arg_min(doc_id, rnk) AS first_doc,
                   arg_max(doc_id, rnk) AS last_doc
            FROM r GROUP BY shard
        """,
        # Stride-scheduled weighted source interleave over the epoch-1
        # shuffle: source s's k-th doc runs at virtual time
        # k*720720 // w_s (all-integer; 720720 = lcm(1..16)); weights
        # derive from the source suffix so no lookup table is needed.
        # Checksum is order-sensitive — it replays the exact mixing
        # order, not just membership.
        "q_epoch_interleave": """
            WITH h AS (
              SELECT doc_id, source,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch1') AS dg,
                     CAST(CAST(substring(source, 4) AS INT) % 4 + 1
                          AS BIGINT) AS w
              FROM documents),
            s AS (
              SELECT *, CAST(('0x' || substring(dg, 1, 4)) AS INT) % 16 AS shard
              FROM h),
            r AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY shard, source ORDER BY dg, doc_id)
                     AS BIGINT) AS sr
              FROM s),
            v AS (SELECT *, (sr * 720720) // w AS vt FROM r),
            o AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY vt, dg, doc_id)
                     AS BIGINT) AS rnk
              FROM v)
            SELECT shard,
                   count(*) AS n_docs,
                   CAST(sum(rnk * (doc_id % 1000003)) AS BIGINT) AS order_checksum,
                   arg_min(source, rnk) AS first_source
            FROM o GROUP BY shard
        """,
        # Embedding-space decontamination: per corpus vector, the max
        # rounded cosine vs the benchmark slice and the count at or
        # above threshold. Same cast-to-double + list_dot_product
        # recipe as q_embed_neardup_exact (identical IEEE fold order).
        "q_semantic_decontaminate": """
            WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            bench AS (SELECT e FROM n WHERE vec_id < 100),
            corpus AS (SELECT vec_id, e FROM n WHERE vec_id >= 100),
            p AS (
              SELECT c.vec_id,
                     round(list_dot_product(c.e, b.e)
                           / (sqrt(list_dot_product(c.e, c.e))
                              * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
              FROM corpus c CROSS JOIN bench b)
            SELECT vec_id, max(cos) AS max_cos,
                   CAST(sum(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_hits
            FROM p GROUP BY vec_id
        """,
        # Epoch-2 export round trip: the Spark side rebuilds the
        # manifest from the PERSISTED shard files; the oracle replays
        # the permutation from the source table — agreement proves the
        # written tree carries the exact epoch order.
        "q_epoch_roundtrip": """
            WITH h AS (
              SELECT doc_id, n_chars,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch2') AS dg
              FROM documents),
            s AS (
              SELECT doc_id, n_chars, dg,
                     CAST(('0x' || substring(dg, 1, 4)) AS INT) % 16 AS shard
              FROM h),
            r AS (
              SELECT doc_id, n_chars, shard,
                     CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY dg, doc_id) AS BIGINT) AS rnk
              FROM s)
            SELECT shard,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_weight,
                   CAST(sum(rnk * (doc_id % 1000003)) AS BIGINT) AS order_checksum,
                   arg_min(doc_id, rnk) AS first_doc,
                   arg_max(doc_id, rnk) AS last_doc
            FROM r GROUP BY shard
        """,
        # Small-file compaction round trip: the Spark side rebuilds the
        # per-bin manifest from the COMPACTED files; the oracle replays
        # shard assignment → per-shard sums → prefix DIV budget → bin
        # rollup from the source table. The checksum is the associative
        # order-free Σ md5_32(normalized text), so agreement proves the
        # rewrite lossless.
        "q_compact_shards": f"""
            WITH b AS (
              SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                       % 32 AS shard,
                     CASE WHEN text IS NULL THEN 0
                          ELSE len({_DOC_TOKENS}) END AS nt,
                     CAST(('0x' || substring(md5(
                       regexp_replace(trim(lower(coalesce(text, ''))),
                                      '\\s+', ' ', 'g')), 1, 8)) AS BIGINT) AS h
              FROM documents),
            s AS (
              SELECT shard, count(*) AS nd,
                     CAST(sum(nt) AS BIGINT) AS n_tokens,
                     CAST(sum(h) AS BIGINT) AS cs
              FROM b GROUP BY shard),
            p AS (
              SELECT *, COALESCE(SUM(n_tokens) OVER (
                       ORDER BY shard
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS prefix
              FROM s)
            SELECT CAST(prefix // 4096 AS BIGINT) AS bin,
                   count(*) AS n_shards,
                   CAST(sum(nd) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(sum(cs) AS BIGINT) AS checksum
            FROM p GROUP BY 1
        """,
        # Soft dedup over the planted-duplicate corpus: each copy in a
        # normalized-content cluster carries 1000000 DIV n_copies ppm.
        "q_soft_dedup": f"""
            WITH corpus AS (
              SELECT doc_id, text, source, n_chars FROM documents
              UNION ALL SELECT doc_id + 10000, text, 'dupA', n_chars
                FROM documents WHERE doc_id % 5 = 0
              UNION ALL SELECT doc_id + 20000, text, 'dupB', n_chars
                FROM documents WHERE doc_id % 15 = 0),
            w AS (SELECT source, n_chars,
                    1000000 // count(*) OVER (
                      PARTITION BY md5({_DOC_NORM})) AS w_ppm
                  FROM corpus)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars,
                   CAST(sum(w_ppm) AS BIGINT) AS eff_docs_ppm,
                   CAST(sum(n_chars * w_ppm) AS BIGINT) AS eff_chars_ppm
            FROM w GROUP BY source
        """,
        # Chi² over the DENSE grid (unobserved cells contribute e);
        # nano-unit integer fold, IEEE-exact e and closing sqrt.
        "q_assoc": """
            WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
                           FROM documents
                           WHERE lang IS NOT NULL AND source IS NOT NULL
                           GROUP BY 1, 2),
            ra AS (SELECT a, sum(o) AS rt FROM cells GROUP BY 1),
            cb AS (SELECT b, sum(o) AS ct FROM cells GROUP BY 1),
            tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS n_a,
                           count(DISTINCT b) AS n_b FROM cells),
            dense AS (SELECT g.a, g.b, g.rt, g.ct, coalesce(cells.o, 0) AS o
                      FROM (SELECT a, rt, b, ct FROM ra CROSS JOIN cb) g
                      LEFT JOIN cells ON cells.a = g.a AND cells.b = g.b),
            t AS (SELECT CAST(round((CAST(o AS DOUBLE) - e)
                                    * (CAST(o AS DOUBLE) - e) / e * 1e9)
                         AS BIGINT) AS nano, n, n_a, n_b
                  FROM (SELECT o, CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                                  / CAST(n AS DOUBLE) AS e, n, n_a, n_b
                        FROM dense CROSS JOIN tot)),
            f AS (SELECT n, n_a, n_b, sum(nano) AS s FROM t GROUP BY 1, 2, 3)
            SELECT CAST(n AS BIGINT) AS n, CAST(n_a AS BIGINT) AS n_a,
                   CAST(n_b AS BIGINT) AS n_b,
                   CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
                   CAST((s + 500) // 1000 AS DOUBLE) / 1e6 AS chi2,
                   CASE WHEN least(n_a - 1, n_b - 1) > 0 THEN
                     sqrt((CAST((s + 500) // 1000 AS DOUBLE) / 1e6)
                          / (CAST(n AS DOUBLE)
                             * CAST(least(n_a - 1, n_b - 1) AS DOUBLE)))
                   END AS cramers_v
            FROM f
        """,
        # Exact rank-based winsorization in integer milli-units.
        "q_winsorize": """
            WITH base AS (SELECT event_type AS key,
                                 CAST(round(value * 1000) AS BIGINT) AS xq,
                                 event_id AS id
                          FROM events
                          WHERE value IS NOT NULL AND event_type IS NOT NULL),
            r AS (SELECT key, xq,
                    row_number() OVER (PARTITION BY key ORDER BY xq, id) AS rn,
                    count(*) OVER (PARTITION BY key) AS n
                  FROM base),
            c AS (SELECT key, xq, n,
                    max(CASE WHEN rn <= greatest(1, (n * 5) // 100)
                        THEN xq END) OVER (PARTITION BY key) AS cut_lo,
                    min(CASE WHEN rn >= least(n, (n * 95 + 99) // 100)
                        THEN xq END) OVER (PARTITION BY key) AS cut_hi
                  FROM r)
            SELECT key, CAST(max(n) AS BIGINT) AS n,
                   CAST(max(cut_lo) AS BIGINT) AS cut_lo,
                   CAST(max(cut_hi) AS BIGINT) AS cut_hi,
                   CAST(sum(xq) AS BIGINT) AS sum_raw,
                   CAST(sum(greatest(cut_lo, least(cut_hi, xq)))
                        AS BIGINT) AS sum_wins,
                   CAST(sum(CASE WHEN xq < cut_lo THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clamped_lo,
                   CAST(sum(CASE WHEN xq > cut_hi THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clamped_hi
            FROM c GROUP BY key
        """,
        # Ranking-quality metrics over the exact retriever: the same
        # cast-to-double cosine recipe as q_simsearch_multi, label-match
        # relevance, ppm discount literals, exact integer closes.
        "q_retrieval_eval": f"""
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
                     label AS ql
              FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
            scored AS (
              SELECT q.query_id, q.ql, e.vec_id, e.label,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
              FROM embeddings e, q WHERE e.vec_id <> q.query_id),
            top AS (
              SELECT * FROM (
                SELECT query_id, ql, vec_id, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id) AS rank
                FROM scored)
              WHERE rank <= 10),
            lc AS (SELECT label, count(*) AS c FROM embeddings GROUP BY label),
            per AS (
              SELECT query_id, ql,
                     sum(CASE WHEN label = ql THEN 1 ELSE 0 END) AS hits,
                     sum(CASE WHEN label = ql THEN ({_nd_sql})[rank]
                         ELSE 0 END) AS dcg,
                     min(CASE WHEN label = ql THEN rank END) AS first
              FROM top GROUP BY 1, 2)
            SELECT per.query_id,
                   CAST(lc.c - 1 AS BIGINT) AS n_rel_corpus,
                   CAST(hits AS BIGINT) AS hits_at_k,
                   CAST(dcg AS BIGINT) AS dcg_ppm,
                   CAST(coalesce(
                     (dcg * 1000000)
                       // ({_np_sql})[greatest(1, least(10, lc.c - 1))],
                     0) AS BIGINT) AS ndcg_ppm,
                   CAST(coalesce(1000000 // first, 0) AS BIGINT) AS mrr_ppm,
                   CAST(hits * 1000000 // 10 AS BIGINT) AS p_at_k_ppm
            FROM per JOIN lc ON lc.label = per.ql
        """,
        # Curriculum epoch-1: stage-leading rank over the seeded digest
        # order; the checksum replays the exact permutation.
        "q_epoch_curriculum": """
            WITH h AS (
              SELECT doc_id, n_chars // 40 AS stage,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch1') AS dg
              FROM documents),
            s AS (SELECT doc_id, stage, dg,
                         CAST(('0x' || substring(dg, 1, 4)) AS INT) % 16
                           AS shard
                  FROM h),
            r AS (SELECT doc_id, stage, shard,
                         CAST(row_number() OVER (
                           PARTITION BY shard
                           ORDER BY stage, dg, doc_id) AS BIGINT) AS rnk
                  FROM s)
            SELECT shard, CAST(stage AS BIGINT) AS stage, count(*) AS n_docs,
                   CAST(sum(rnk * (doc_id % 1000003)) AS BIGINT)
                     AS order_checksum,
                   min(rnk) AS rank_from, max(rnk) AS rank_to
            FROM r GROUP BY shard, stage
        """,
        # Incremental dedup: the fp index is md5(norm) but md5 equality
        # IS norm equality, so the oracle matches on the normalized
        # text directly; within-delta ties go to the lowest doc_id
        # (the exact_dedup_stats survivor rule).
        "q_dedup_incremental": f"""
            WITH delta AS (
              SELECT doc_id, source, {_DOC_NORM} AS norm
              FROM documents WHERE doc_id % 2 = 1),
            idx AS (
              SELECT DISTINCT {_DOC_NORM} AS norm
              FROM documents WHERE doc_id % 2 = 0),
            tagged AS (
              SELECT d.doc_id, d.source,
                     CASE
                       WHEN i.norm IS NOT NULL THEN 'dup_index'
                       WHEN d.doc_id = min(d.doc_id)
                              OVER (PARTITION BY d.norm) THEN 'kept'
                       ELSE 'dup_within'
                     END AS status
              FROM delta d LEFT JOIN idx i USING (norm))
            SELECT source,
                   count(*) AS n_new,
                   CAST(sum(CASE WHEN status = 'dup_index' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_dup_index,
                   CAST(sum(CASE WHEN status = 'dup_within' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_dup_within,
                   CAST(sum(CASE WHEN status = 'kept' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN status = 'kept' THEN doc_id
                            ELSE 0 END) AS BIGINT) AS kept_id_sum
            FROM tagged GROUP BY source
        """,
        # Blocklist: non-overlapping leftmost substring counts via the
        # replace-length identity — the independent recomputation of
        # the Aho-Corasick kernel's greedy counts.
        "q_blocklist": f"""
            WITH t(term) AS (VALUES ('table'), ('scan'), ('a'),
                                    ('fast merge'), ('window')),
            n AS (SELECT doc_id, {_DOC_NORM} AS norm FROM documents),
            hits AS (
              SELECT n.doc_id, t.term,
                     (length(n.norm) - length(replace(n.norm, t.term, '')))
                       // length(t.term) AS n_hits
              FROM n CROSS JOIN t)
            SELECT term,
                   count(*) AS n_docs,
                   CAST(sum(n_hits) AS BIGINT) AS n_hits,
                   CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
            FROM hits WHERE n_hits > 0
            GROUP BY term
        """,
        # Incremental near-dup: q_minhash_pairs' replayable machinery
        # with candidates restricted cross-parity (new = odd doc_ids,
        # index = even) and oriented (doc_new, doc_old).
        "q_neardup_incremental": f"""
            WITH sh0 AS ({_SHINGLES}),
            sh AS (SELECT DISTINCT doc_id,
                     {_MD5_32.format(x='shingle')} AS h
                   FROM sh0),
            coef(i, a, b) AS (VALUES {mh_coef}),
            sig AS (
              SELECT doc_id, i, min((a * h + b) % 4294967311) AS mv
              FROM sh CROSS JOIN coef GROUP BY 1, 2),
            bands AS (
              SELECT doc_id, i // 4 AS band,
                     string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS bkey
              FROM sig GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT nw.doc_id AS doc_new, ol.doc_id AS doc_old
              FROM bands nw JOIN bands ol
                ON nw.band = ol.band AND nw.bkey = ol.bkey
              WHERE nw.doc_id % 2 = 1 AND ol.doc_id % 2 = 0),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT nw.doc_id AS doc_new, ol.doc_id AS doc_old,
                     count(*) AS n_common
              FROM sh nw JOIN sh ol ON nw.h = ol.h
              WHERE nw.doc_id % 2 = 1 AND ol.doc_id % 2 = 0
              GROUP BY 1, 2)
            SELECT c.doc_new, c.doc_old,
                   round(CAST(n_common AS DOUBLE)
                         / (nn.n_sh + no.n_sh - n_common), 6) AS jaccard
            FROM cand c
            JOIN common USING (doc_new, doc_old)
            JOIN sizes nn ON nn.doc_id = c.doc_new
            JOIN sizes no ON no.doc_id = c.doc_old
            WHERE CAST(n_common AS DOUBLE)
                  / (nn.n_sh + no.n_sh - n_common) >= 0.2
        """,
        # q_simsearch_ivf's replayable IVF math generalized to a
        # 4-query batch (PARTITION BY query_id at each ranking step) —
        # the persisted-index query must reproduce the inline
        # assignment/probe/rerank exactly.
        "q_ivf_index_search": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            cent0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16),
            centroids AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     e AS ce
              FROM cent0),
            asg AS (
              SELECT v.vec_id, v.e, c.cell,
                     row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_dot_product(v.e, c.ce)
                                / (sqrt(list_dot_product(v.e, v.e))
                                   * sqrt(list_dot_product(c.ce, c.ce))), 6)
                                DESC, c.cell) AS rn
              FROM v CROSS JOIN centroids c),
            assigned AS (SELECT vec_id, e, cell FROM asg WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, e AS qe FROM v
                  WHERE vec_id IN (0, 1, 2, 3)),
            cprobe AS (
              SELECT q.query_id, c.cell,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(c.ce, q.qe)
                                / (sqrt(list_dot_product(c.ce, c.ce))
                                   * sqrt(list_dot_product(q.qe, q.qe))), 6)
                                DESC, c.cell) AS crank
              FROM centroids c CROSS JOIN q),
            probe AS (SELECT query_id, cell FROM cprobe WHERE crank <= 4),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     round(list_dot_product(a.e, q.qe)
                           / (sqrt(list_dot_product(a.e, a.e))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4)
                       AS cos
              FROM assigned a
              JOIN probe p USING (cell)
              JOIN q ON q.query_id = p.query_id
              WHERE a.vec_id <> p.query_id),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     CAST(row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, vec_id)
                          AS INT) AS rank
              FROM scored)
            SELECT query_id, vec_id, cos, rank
            FROM ranked WHERE rank <= 10
        """,
        "q_tpch_q5": """
            SELECT n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS revenue
            FROM customer
            JOIN orders   ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
                         AND s_nationkey = c_nationkey
            JOIN nation   ON n_nationkey = s_nationkey
            JOIN region   ON r_regionkey = n_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        # Composed ingest gate: blocklist → exact-vs-index →
        # within-batch → near-dup-vs-index, first match wins. The
        # near-dup leg is q_neardup_incremental's replayable machinery
        # with signatures built over corpus ∪ kept-batch docs and
        # candidates restricted to (kept, corpus).
        "q_ingest_e2e": f"""
            WITH delta AS (
              SELECT doc_id, text, source FROM documents
              WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 10000000, text, source FROM documents
              WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000000, text, source FROM documents
              WHERE doc_id % 10 = 1),
            dn AS (SELECT doc_id, source, {_DOC_NORM} AS norm
                   FROM delta),
            blocked AS (
              SELECT doc_id FROM dn
              WHERE (length(norm) - length(replace(norm, 'slow', '')))
                    // 4 > 4),
            idxn AS (SELECT DISTINCT {_DOC_NORM} AS norm
                     FROM documents WHERE doc_id % 2 = 0),
            pass1 AS (SELECT * FROM dn
                      WHERE doc_id NOT IN (SELECT doc_id FROM blocked)),
            ex AS (
              SELECT p.doc_id,
                     CASE
                       WHEN i.norm IS NOT NULL THEN 'dup_exact'
                       WHEN p.doc_id = min(p.doc_id)
                              OVER (PARTITION BY p.norm) THEN 'kept'
                       ELSE 'dup_within'
                     END AS st
              FROM pass1 p LEFT JOIN idxn i USING (norm)),
            kept AS (SELECT doc_id FROM ex WHERE st = 'kept'),
            all_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT d.doc_id, d.text FROM delta d JOIN kept USING (doc_id)),
            sh0 AS ({_SHINGLES.replace("FROM documents", "FROM all_docs")}),
            sh AS (SELECT DISTINCT doc_id,
                     {_MD5_32.format(x='shingle')} AS h
                   FROM sh0),
            coef(i, a, b) AS (VALUES {mh_coef}),
            sig AS (
              SELECT doc_id, i, min((a * h + b) % 4294967311) AS mv
              FROM sh CROSS JOIN coef GROUP BY 1, 2),
            bands AS (
              SELECT doc_id, i // 4 AS band,
                     string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS bkey
              FROM sig GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT nw.doc_id AS doc_new, ol.doc_id AS doc_old
              FROM bands nw JOIN bands ol
                ON nw.band = ol.band AND nw.bkey = ol.bkey
              WHERE nw.doc_id IN (SELECT doc_id FROM kept)
                AND ol.doc_id % 2 = 0 AND ol.doc_id < 10000000),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT c.doc_new, c.doc_old, count(*) AS n_common
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_new
              JOIN sh b ON b.doc_id = c.doc_old AND b.h = a.h
              GROUP BY 1, 2),
            verified AS (
              SELECT DISTINCT c.doc_new
              FROM cand c
              JOIN common USING (doc_new, doc_old)
              JOIN sizes nn ON nn.doc_id = c.doc_new
              JOIN sizes no ON no.doc_id = c.doc_old
              WHERE CAST(n_common AS DOUBLE)
                    / (nn.n_sh + no.n_sh - n_common) >= 0.2),
            status AS (
              SELECT d.doc_id, d.source,
                     CASE
                       WHEN d.doc_id IN (SELECT doc_id FROM blocked)
                         THEN 'blocked'
                       WHEN e.st = 'dup_exact' THEN 'dup_exact'
                       WHEN e.st = 'dup_within' THEN 'dup_within'
                       WHEN d.doc_id IN (SELECT doc_new FROM verified)
                         THEN 'dup_near'
                       ELSE 'admitted'
                     END AS status
              FROM dn d LEFT JOIN ex e USING (doc_id))
            SELECT source,
                   count(*) AS n_in,
                   CAST(sum(CASE WHEN status = 'blocked' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_blocked,
                   CAST(sum(CASE WHEN status = 'dup_exact' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_dup_exact,
                   CAST(sum(CASE WHEN status = 'dup_within' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_dup_within,
                   CAST(sum(CASE WHEN status = 'dup_near' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_dup_near,
                   CAST(sum(CASE WHEN status = 'admitted' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_admitted,
                   CAST(sum(CASE WHEN status = 'admitted' THEN doc_id
                            ELSE 0 END) AS BIGINT) AS admitted_id_sum
            FROM status GROUP BY source
        """,
        # lines CTE shared shape: wrap the normalized token stream into
        # non-overlapping 12-token lines (functions/lines.py::doc_lines)
        "q_line_dedup": f"""
            WITH toked AS (
              SELECT doc_id, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL),
            lines AS (
              SELECT doc_id, CAST(i AS INT) AS line_no,
                     array_to_string(t[(i*12+1):(i*12+12)], ' ') AS line
              FROM toked,
                   unnest(generate_series(0, CAST((len(t)+11)//12 AS BIGINT) - 1)) AS u(i)),
            ranked AS (
              SELECT doc_id, line_no,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) AS rn
              FROM lines WHERE len(line) >= 1),
            drops AS (SELECT doc_id, line_no FROM ranked WHERE rn > 1),
            kept AS (
              SELECT l.doc_id, l.line_no, l.line
              FROM lines l LEFT JOIN drops d
                ON l.doc_id = d.doc_id AND l.line_no = d.line_no
              WHERE d.doc_id IS NULL),
            agg AS (
              SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS text_clean,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
            SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
                   CAST(t.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
                   coalesce(a.text_clean, '') AS text_clean
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "q_boilerplate": f"""
            WITH toked AS (
              SELECT doc_id, source, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL),
            lines AS (
              SELECT doc_id, source,
                     array_to_string(t[(i*12+1):(i*12+12)], ' ') AS line
              FROM toked,
                   unnest(generate_series(0, CAST((len(t)+11)//12 AS BIGINT) - 1)) AS u(i)),
            per_line AS (
              SELECT source, line, count(DISTINCT doc_id) AS df, count(*) AS n_occ
              FROM lines GROUP BY source, line),
            boiler AS (SELECT source, line FROM per_line WHERE df >= 2),
            occ AS (
              SELECT l.source, l.line, l.doc_id
              FROM lines l JOIN boiler b
                ON l.source = b.source AND l.line = b.line),
            stats AS (
              SELECT source, count(DISTINCT line) AS n_boiler_lines,
                     count(*) AS n_lines_removed,
                     count(DISTINCT doc_id) AS n_docs_touched,
                     sum(len(line)) AS chars_removed
              FROM occ GROUP BY source)
            SELECT s.source,
                   CAST(coalesce(n_boiler_lines, 0) AS BIGINT) AS n_boiler_lines,
                   CAST(coalesce(n_lines_removed, 0) AS BIGINT) AS n_lines_removed,
                   CAST(coalesce(n_docs_touched, 0) AS BIGINT) AS n_docs_touched,
                   CAST(coalesce(chars_removed, 0) AS BIGINT) AS chars_removed
            FROM (SELECT DISTINCT source FROM documents WHERE text IS NOT NULL) s
            LEFT JOIN stats USING (source)
        """,
        "q_line_dedup_incremental": f"""
            WITH toked AS (
              SELECT doc_id, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL),
            lines AS (
              SELECT doc_id, CAST(i AS INT) AS line_no,
                     array_to_string(t[(i*12+1):(i*12+12)], ' ') AS line
              FROM toked,
                   unnest(generate_series(0, CAST((len(t)+11)//12 AS BIGINT) - 1)) AS u(i)),
            idx AS (
              SELECT DISTINCT line FROM lines
              WHERE doc_id % 2 = 0 AND len(line) >= 1),
            delta AS (
              SELECT doc_id, line_no, line FROM lines WHERE doc_id % 2 = 1),
            ranked AS (
              SELECT doc_id, line_no, line,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) AS rn
              FROM delta WHERE len(line) >= 1),
            tagged AS (
              SELECT r.doc_id, r.line_no,
                     CASE WHEN i.line IS NOT NULL THEN 'dup_index'
                          WHEN r.rn = 1 THEN 'kept'
                          ELSE 'dup_within' END AS status
              FROM ranked r LEFT JOIN idx i ON r.line = i.line),
            status AS (
              SELECT * FROM tagged
              UNION ALL
              SELECT doc_id, line_no, 'kept' FROM delta WHERE len(line) < 1),
            kept AS (
              SELECT d.doc_id,
                     string_agg(d.line, ' ' ORDER BY d.line_no) AS text_clean
              FROM delta d JOIN status s
                ON d.doc_id = s.doc_id AND d.line_no = s.line_no
              WHERE s.status = 'kept' GROUP BY d.doc_id),
            counts AS (
              SELECT doc_id, count(*) AS n_lines,
                     sum(CASE WHEN status = 'dup_index' THEN 1 ELSE 0 END) AS n_dup_index,
                     sum(CASE WHEN status = 'dup_within' THEN 1 ELSE 0 END) AS n_dup_within
              FROM status GROUP BY doc_id)
            SELECT c.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
                   CAST(n_dup_index AS BIGINT) AS n_dup_index,
                   CAST(n_dup_within AS BIGINT) AS n_dup_within,
                   coalesce(k.text_clean, '') AS text_clean
            FROM counts c LEFT JOIN kept k USING (doc_id)
        """,
        "q_interleave_mm": f"""
            WITH toked AS (
              SELECT doc_id, {_DOC_TOKENS} AS t
              FROM documents WHERE text IS NOT NULL),
            chunks AS (
              SELECT doc_id, i,
                     array_to_string(t[(i*24+1):(i*24+24)], ' ') AS txt,
                     least(24, len(t) - i*24) AS n_toks,
                     len(t) AS n
              FROM toked,
                   unnest(generate_series(0, CAST((len(t)+23)//24 AS BIGINT) - 1)) AS u(i)),
            segs AS (
              SELECT doc_id, i*2 AS ord, 'text' AS kind,
                     CAST(NULL AS BIGINT) AS media_id,
                     CAST(n_toks AS BIGINT) AS n_tokens,
                     CAST(octet_length(encode(txt)) AS BIGINT) AS byte_len
              FROM chunks
              UNION ALL
              SELECT doc_id, i*2+1, 'image',
                     CAST(doc_id*100 + i AS BIGINT), 0, 0
              FROM chunks WHERE (i+1)*24 <= n),
            numbered AS (
              SELECT doc_id, kind, media_id, n_tokens, byte_len,
                     CAST(row_number() OVER (PARTITION BY doc_id
                                             ORDER BY ord) - 1 AS INT) AS seg_no,
                     coalesce(sum(byte_len) OVER (PARTITION BY doc_id ORDER BY ord
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                              0) AS byte_offset
              FROM segs)
            SELECT doc_id, seg_no, kind, media_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(byte_offset AS BIGINT) AS byte_offset,
                   CAST(byte_len AS BIGINT) AS byte_len
            FROM numbered
        """,
    }


def oracle_sql() -> dict[str, str]:
    """Per-query DuckDB oracles. Queries equivalent by construction
    share one oracle: the streaming CDC snapshot must satisfy exactly
    the batch MERGE's SQL (stream ≡ batch for the CDC path)."""
    d = _oracle_sql_base()
    # ftfy-lite repair: the replace chain and per-entry occurrence
    # counts are GENERATED from the engine's own MOJIBAKE_MAP constant
    # (same literals both sides by construction), over the same
    # synthesized corruption the Spark wrapper applies.
    from myasynstreamjoin_spark.functions.text import MOJIBAKE_MAP
    from myasynstreamjoin_spark.functions.text import _mojibake as _mj

    def _sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    _bad_tok = _sq(_mj("tabl\u00e9\u2019"))
    _expr = "corrupted"
    _fix_terms = []
    for _b, _g in MOJIBAKE_MAP:
        _fix_terms.append(
            f"(length({_expr}) - length(replace({_expr}, {_sq(_b)}, ''))) // {len(_b)}"
        )
        _expr = f"replace({_expr}, {_sq(_b)}, {_sq(_g)})"
    d["q_fix_encoding"] = f"""
        WITH corrupted_t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0
                      THEN base || chr(65533) || chr(65533)
                      ELSE base END AS corrupted
          FROM (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN replace(text, 'table', {_bad_tok})
                            ELSE text END AS base
                FROM documents WHERE text IS NOT NULL))
        SELECT doc_id,
               CAST({' + '.join(_fix_terms)} AS BIGINT) AS n_fixes,
               CAST(length({_expr}) - length(replace({_expr}, chr(65533), ''))
                    AS BIGINT) AS n_bad_chars,
               {_expr} AS text_fixed
        FROM corrupted_t
    """
    # The hygiene chain: the SAME corruption + generated repair chain,
    # then the q_line_dedup election replayed on the REPAIRED text,
    # rolled up per source.
    d["q_hygiene_e2e"] = f"""
        WITH corrupted_t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0
                      THEN base || chr(65533) || chr(65533)
                      ELSE base END AS corrupted
          FROM (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN replace(text, 'table', {_bad_tok})
                            ELSE text END AS base
                FROM documents WHERE text IS NOT NULL)),
        fixed AS (
          SELECT doc_id,
                 CAST({' + '.join(_fix_terms)} AS BIGINT) AS n_fixes,
                 CAST(length({_expr}) - length(replace({_expr}, chr(65533), ''))
                      AS BIGINT) AS n_bad_chars,
                 {_expr} AS text_fixed
          FROM corrupted_t),
        toked AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text_fixed)), '\\s+') AS t
          FROM fixed),
        lines AS (
          SELECT doc_id, CAST(i AS INT) AS line_no,
                 array_to_string(t[(i*12+1):(i*12+12)], ' ') AS line
          FROM toked,
               unnest(generate_series(0, CAST((len(t)+11)//12 AS BIGINT) - 1)) AS u(i)),
        ranked AS (
          SELECT doc_id, line_no,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, line_no) AS rn
          FROM lines WHERE len(line) >= 1),
        drops AS (SELECT doc_id, line_no FROM ranked WHERE rn > 1),
        kept AS (
          SELECT l.doc_id, l.line_no, l.line
          FROM lines l LEFT JOIN drops dr
            ON l.doc_id = dr.doc_id AND l.line_no = dr.line_no
          WHERE dr.doc_id IS NULL),
        agg AS (
          SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
        per_doc AS (
          SELECT t.doc_id, t.n_lines,
                 t.n_lines - coalesce(a.n_kept, 0) AS n_removed,
                 coalesce(a.text_clean, '') AS text_clean
          FROM tot t LEFT JOIN agg a USING (doc_id))
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f.n_fixes) AS BIGINT) AS n_fixes,
               CAST(sum(f.n_bad_chars) AS BIGINT) AS n_bad_chars,
               CAST(sum(p.n_lines) AS BIGINT) AS n_lines,
               CAST(sum(p.n_removed) AS BIGINT) AS n_lines_removed,
               CAST(sum(len(p.text_clean)) AS BIGINT) AS clean_chars
        FROM per_doc p
        JOIN fixed f USING (doc_id)
        JOIN documents d USING (doc_id)
        GROUP BY d.source
    """
    # CCNet terciles compose the perplexity oracle with the same
    # integer rank rule the engine applies.
    d["q_ccnet_buckets"] = f"""
        WITH ppl AS ({d['q_lm_perplexity']}),
        j AS (
          SELECT p.doc_id, d.source, p.n_tokens, p.nll, p.ppl
          FROM ppl p JOIN documents d USING (doc_id)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY nll, doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM j)
        SELECT doc_id, source, n_tokens, ppl,
               CASE WHEN rn*3 <= n THEN 'head'
                    WHEN rn*3 <= 2*n THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM r
    """
    d["q_unpivot"] = """
        WITH long AS (
          SELECT l_returnflag, 'quantity' AS metric,
                 CAST(l_quantity AS DECIMAL(18,4)) AS value FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'extendedprice',
                 CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'discount',
                 CAST(l_discount AS DECIMAL(18,4)) FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'tax',
                 CAST(l_tax AS DECIMAL(18,4)) FROM lineitem)
        SELECT l_returnflag, metric, count(*) AS n,
               CAST(round(sum(value), 2) AS DOUBLE) AS total,
               CAST(round(max(value), 2) AS DOUBLE) AS max_value
        FROM long GROUP BY l_returnflag, metric
    """
    # Budget selection composes the waterfilling-plan and quality
    # oracles, then replays the greedy whole-doc cut with a window.
    d["q_budget_select"] = f"""
        WITH plan AS ({d['q_data_budget']}),
        q AS ({d['q_quality']}),
        per_doc AS (
          SELECT d.doc_id, d.source,
                 CAST(len(string_split_regex(trim(lower(d.text)), '\\s+'))
                      AS BIGINT) AS toks,
                 q.quality
          FROM documents d JOIN q USING (doc_id)
          WHERE d.text IS NOT NULL),
        eff AS (
          SELECT source, least(alloc, n_tokens) AS eff FROM plan),
        cum AS (
          SELECT p.doc_id, p.source, p.toks, e.eff,
                 COALESCE(sum(p.toks) OVER (
                   PARTITION BY p.source
                   ORDER BY p.quality DESC, p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS cum_prev
          FROM per_doc p JOIN eff e USING (source))
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs_sel,
               CAST(sum(toks) AS BIGINT) AS tokens_sel,
               CAST(sum(doc_id) AS BIGINT) AS sel_id_sum
        FROM cum WHERE cum_prev < eff
        GROUP BY source
    """
    d["q_matryoshka"] = """
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
        dims(d) AS (VALUES (8), (16), (32), (64)),
        scored AS (
          SELECT q.query_id, dims.d AS dim, e.vec_id,
                 round(
                   list_dot_product((CAST(e.embedding AS DOUBLE[]))[1:dims.d],
                                    q.qe[1:dims.d])
                   / (sqrt(list_dot_product((CAST(e.embedding AS DOUBLE[]))[1:dims.d],
                                            (CAST(e.embedding AS DOUBLE[]))[1:dims.d]))
                      * sqrt(list_dot_product(q.qe[1:dims.d], q.qe[1:dims.d]))),
                   4) AS cos
          FROM embeddings e, q, dims WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id, dim
                                       ORDER BY cos DESC, vec_id) AS rn
          FROM scored),
        topk AS (SELECT query_id, dim, vec_id FROM ranked WHERE rn <= 10),
        full_k AS (SELECT query_id, vec_id FROM topk WHERE dim = 64),
        trunc AS (SELECT * FROM topk WHERE dim <> 64),
        ov AS (
          SELECT t.query_id, t.dim, count(*) AS n_overlap
          FROM trunc t JOIN full_k f
            ON t.query_id = f.query_id AND t.vec_id = f.vec_id
          GROUP BY 1, 2),
        sums AS (
          SELECT query_id, dim, CAST(sum(vec_id) AS BIGINT) AS topk_id_sum
          FROM trunc GROUP BY 1, 2)
        SELECT s.query_id, CAST(s.dim AS INT) AS dim,
               CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
               s.topk_id_sum
        FROM sums s LEFT JOIN ov o USING (query_id, dim)
    """
    d["q_orc_roundtrip"] = """
        SELECT doc_id, text, lang, source, n_chars
        FROM documents
        WHERE source = (SELECT min(source) FROM documents)
    """
    d["q_debounce"] = """
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_ns(ts) // 1000 AS ts_us
          FROM events),
        l AS (
          SELECT *, lag(ts_us) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts_us, event_id) AS prev
          FROM e),
        b AS (
          SELECT *, sum(CASE WHEN prev IS NOT NULL
                              AND ts_us - prev >= 3600000000
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, event_type
                          ORDER BY ts_us, event_id) AS burst
          FROM l),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, event_type, burst
                                       ORDER BY ts_us, event_id) AS rn
          FROM b)
        SELECT user_id, event_type, event_id, CAST(ts_us AS BIGINT) AS ts_us
        FROM r WHERE rn = 1
    """
    d["q_throttle"] = """
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_ns(ts) // 1000 AS ts_us
          FROM events),
        b AS (
          SELECT *, CAST(ts_us // 3600000000 AS BIGINT) AS bucket FROM e),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY user_id, event_type, bucket
                                       ORDER BY ts_us, event_id) AS rn
          FROM b)
        SELECT user_id, event_type, event_id,
               CAST(ts_us AS BIGINT) AS ts_us, bucket
        FROM r WHERE rn = 1
    """
    # Ascending event-time batches + the last-raw-ts seed make the
    # streamed burst chain identical to the batch one.
    d["q_stream_debounce"] = d["q_debounce"]
    d["q_stream_throttle"] = d["q_throttle"]
    # The VARIANT extraction path must agree with from_json on every
    # number — one oracle for both.
    d["q_variant_props"] = d["q_json_props"]
    d["q_observed_pipeline"] = f"""
        WITH q AS (
          SELECT d.doc_id, d.n_chars, qq.quality
          FROM documents d JOIN ({{}}) qq USING (doc_id)
          WHERE d.text IS NOT NULL)
        SELECT 'n_in' AS metric,
               CAST(count(*) AS BIGINT) AS value
        FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT 'chars_in', CAST(sum(n_chars) AS BIGINT)
        FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT 'n_pass', CAST(count(*) AS BIGINT)
        FROM q WHERE quality >= 0.5
        UNION ALL
        SELECT 'chars_pass', CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM q WHERE quality >= 0.5
    """.format(d["q_quality"])
    d["q_augment"] = f"""
        WITH toked AS (
          SELECT doc_id, {_DOC_TOKENS} AS t
          FROM documents WHERE text IS NOT NULL),
        pos AS (
          SELECT doc_id, t, len(t) AS n, CAST(i AS BIGINT) AS i
          FROM toked, unnest(generate_series(1, len(t))) AS u(i)),
        drawn AS (
          SELECT doc_id, t, n, i,
                 CAST('0x' || substr(md5(doc_id || ':' ||
                      (i - ((i + 1) % 2)) || ':swap:aug'), 1, 8)
                      AS BIGINT) % 100 AS d_swap_head,
                 CAST('0x' || substr(md5(doc_id || ':' || i || ':del:aug'),
                      1, 8) AS BIGINT) % 100 AS d_del
          FROM pos),
        sw AS (
          SELECT doc_id, n, i,
                 CASE WHEN i % 2 = 1 AND i < n AND d_swap_head < 10
                        THEN t[CAST(i + 1 AS BIGINT)]
                      WHEN i % 2 = 0 AND d_swap_head < 10
                        THEN t[CAST(i - 1 AS BIGINT)]
                      ELSE t[CAST(i AS BIGINT)] END AS tok,
                 d_del >= 10 AS keep,
                 (i % 2 = 1 AND i < n AND d_swap_head < 10) AS swap_head
          FROM drawn)
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN swap_head THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_swapped_pairs,
               CAST(count(*) - count(*) FILTER (WHERE keep) AS BIGINT)
                 AS n_deleted,
               coalesce(string_agg(tok, ' ' ORDER BY i)
                        FILTER (WHERE keep), '') AS text_aug
        FROM sw GROUP BY doc_id
    """
    d["q_link_negatives"] = """
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        bounded AS (
          SELECT l_orderkey FROM items
          GROUP BY l_orderkey HAVING count(*) <= 64),
        edges AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM items a
          JOIN items b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
          JOIN bounded ON a.l_orderkey = bounded.l_orderkey),
        nodes AS (
          SELECT u AS node FROM edges UNION SELECT v FROM edges),
        ranked AS (
          SELECT node,
                 row_number() OVER (ORDER BY md5(CAST(node AS VARCHAR)),
                                    node) - 1 AS r
          FROM nodes),
        params AS (SELECT count(*) AS n FROM ranked),
        cand AS (
          SELECT DISTINCT least(x.node, y.node) AS u,
                          greatest(x.node, y.node) AS v
          FROM ranked x, ranked y, params p
          WHERE y.r = (x.r + greatest(1, p.n // 2)) % p.n
            AND x.node <> y.node)
        SELECT c.u, c.v
        FROM cand c LEFT JOIN edges e ON c.u = e.u AND c.v = e.v
        WHERE e.u IS NULL
    """
    d["q_stream_cdc"] = d["q_cdc_merge"]
    # Streamed near-dup pairs must union to the batch operator's set.
    d["q_stream_neardup"] = d["q_minhash_pairs"]
    # Ingest-time decontamination must pass exactly the batch gate's
    # clean set (static bench ⇒ no cross-batch state ⇒ stream ≡ batch).
    d["q_stream_decontaminate"] = d["q_bloom_decontaminate"]
    # Ascending-range batches make first-seen order ≡ (doc_id, pos)
    # order, so the streamed cleaned corpus equals the batch one.
    d["q_stream_remove_spans"] = d["q_remove_spans"]
    # Same argument at line granularity: ascending ranges ⇒ the
    # streamed keep-first line election equals the batch one.
    d["q_stream_line_dedup"] = d["q_line_dedup"]
    # The reservoir equality needs no feed-order assumption at all:
    # the E–S key is a pure row function, top-k merges are order-free.
    d["q_stream_weighted_sample"] = d["q_weighted_sample"]
    # Chunk-count folding is commutative: the accumulated
    # (source, chunk) index is the same multiset for ANY batch order,
    # so the streamed stats equal the batch operator's verbatim.
    d["q_stream_cdc_chunks"] = d["q_cdc_chunks"]
    # Manifest statistics are order-free integer sums: the folded
    # latest version equals the batch manifest under ANY batch split.
    d["q_stream_shard_manifest"] = d["q_shard_manifest"]
    # One event-time window per micro-batch in order ⇒ the streamed
    # PSI rows are the batch timeline at week granularity: the same
    # oracle with the window constant swapped (hour → week).
    d["q_stream_drift"] = d["q_drift_timeline"].replace(
        "3600000000000", "604800000000000"
    )
    # Dataset card: the component queries' oracles CTE-composed and
    # rolled up per source — micro-unit integer sums, one division.
    d["q_dataset_card"] = f"""
        WITH q AS ({d['q_quality']}),
        l AS ({d['q_langid']}),
        e AS ({d['q_char_entropy']}),
        ds AS ({d['q_dup_spans']}),
        ts AS ({d['q_textstats']}),
        j AS (
          SELECT doc.source, doc.doc_id, q.quality, l.lang_guess,
                 e.n_chars, e.nano_entropy, ds.n_spans, ds.n_dup_spans,
                 ts.n_tokens
          FROM documents doc
          JOIN q USING (doc_id) JOIN l USING (doc_id)
          JOIN e USING (doc_id) JOIN ds USING (doc_id)
          JOIN ts USING (doc_id))
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(CASE WHEN lang_guess = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_en,
               CAST(sum(CAST(round(quality * 1e6) AS BIGINT)) AS DOUBLE)
                 / (count(*) * 1000000.0) AS avg_quality,
               -- (nano + 500) // 1000 IS the micro integer the card's
               -- Spark side sums (char_entropy grain="micro" × 1e6)
               CAST(sum((nano_entropy + 500) // 1000) AS DOUBLE)
                 / (count(*) * 1000000.0) AS avg_entropy,
               CAST(sum(n_dup_spans) AS DOUBLE)
                 / CAST(sum(n_spans) AS DOUBLE) AS dup_frac
        FROM j GROUP BY source
    """
    # End-to-end pipeline oracle: one CTE chain replaying every stage —
    # WARC ingest = identity minus NULL texts (the codec itself is
    # independently verified by q_warc_roundtrip), span removal = the
    # q_remove_spans election scoped to the training split, gates and
    # decontamination grams re-tokenize the CLEANED text (bench grams
    # stay on the originals), packing/manifest are the
    # q_pack_sequences / q_shard_manifest formulas at (8 shards, 512
    # budget). Every window/aggregate integer is CAST to BIGINT — the
    # driver's value hash is typed.
    d["q_pipeline_e2e"] = f"""
        WITH ingested AS (
          SELECT doc_id, source, text FROM documents
          WHERE text IS NOT NULL),
        toked AS (
          SELECT doc_id, {_DOC_TOKENS} AS t FROM ingested
          WHERE source NOT IN ('src0', 'src1')),
        grams AS (
          SELECT doc_id, i - 1 AS pos,
                 t[i]   || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                 t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                 t[i+6] || ' ' || t[i+7] AS gram
          FROM toked, unnest(generate_series(1, len(t) - 7)) AS u(i)
          WHERE len(t) >= 8),
        ranked AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram
                                    ORDER BY doc_id, pos) AS rn
          FROM grams),
        dels AS (
          SELECT DISTINCT doc_id, pos + j AS pos
          FROM ranked, unnest(generate_series(0, 7)) AS u(j)
          WHERE rn > 1),
        pos_tok AS (
          SELECT doc_id, t[i] AS tok, i - 1 AS pos
          FROM toked, unnest(generate_series(1, len(t))) AS u(i)),
        kept AS (
          SELECT p.doc_id, p.pos, p.tok
          FROM pos_tok p LEFT JOIN dels dd
            ON p.doc_id = dd.doc_id AND p.pos = dd.pos
          WHERE dd.doc_id IS NULL),
        clean AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
          FROM kept GROUP BY doc_id HAVING count(*) >= 8),
        ct AS (
          SELECT doc_id, text,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM clean),
        gated AS (
          SELECT doc_id, text, t FROM ct
          WHERE round((CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                      * least(len(t) / 50.0, 1.0), 6) >= 0.2
            AND round(CAST(len(list_filter(list_distinct(t),
                                           x -> x IN ({_SW_SQL}))) AS DOUBLE)
                      / len(list_distinct(t)), 6) > 0.05),
        tg AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(t) >= 8 THEN
              list_transform(generate_series(1, len(t) - 7),
                i -> array_to_string(t[i:i+7], ' '))
            ELSE [array_to_string(t, ' ')] END)) AS g
          FROM gated),
        bg AS (
          SELECT DISTINCT unnest(list_distinct(
            CASE WHEN len({_DOC_TOKENS}) >= 8 THEN
              list_transform(generate_series(1, len({_DOC_TOKENS}) - 7),
                i -> array_to_string(({_DOC_TOKENS})[i:i+7], ' '))
            ELSE [array_to_string({_DOC_TOKENS}, ' ')] END)) AS g
          FROM ingested WHERE source IN ('src0', 'src1')),
        contaminated AS (
          SELECT DISTINCT doc_id FROM tg
          WHERE g IN (SELECT g FROM bg)),
        survivors AS (
          SELECT doc_id, text, t FROM gated
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        d5 AS (
          SELECT doc_id, text,
                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS INT) % 8 AS shard,
                 CAST(len(t) AS BIGINT) AS n_tokens
          FROM survivors),
        p5 AS (
          SELECT doc_id, text, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prefix
          FROM d5)
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(max(prefix // 512) + 1 AS BIGINT) AS n_seqs,
               CAST(sum(CAST(('0x' || substring(md5(
                 regexp_replace(trim(lower(coalesce(text, ''))),
                                '\\s+', ' ', 'g')), 1, 8)) AS BIGINT))
                 AS BIGINT) AS checksum
        FROM p5 GROUP BY shard
    """
    # The continuous pipeline's folded manifest equals the batch
    # pipeline's rows under ascending-doc_id batches (stage-by-stage
    # argument in streaming/pipeline_e2e.py).
    d["q_stream_pipeline_e2e"] = d["q_pipeline_e2e"]
    # Both pair sets replay in SQL (md5 shingles/permutations), so
    # the audit's oracle recomputes precision/recall from scratch.
    d["q_dedup_audit"] = f"""
        WITH e AS ({d['q_ngram_jaccard']}),
        a AS ({d['q_minhash_pairs']}),
        c AS (SELECT count(*) AS n_common
              FROM a WHERE EXISTS (SELECT 1 FROM e
                                   WHERE e.doc_a = a.doc_a
                                     AND e.doc_b = a.doc_b)),
        ne AS (SELECT count(*) AS n_exact FROM e),
        na AS (SELECT count(*) AS n_lsh FROM a)
        SELECT n_exact, n_lsh, n_common,
               round(CAST(n_common AS DOUBLE) / n_lsh, 6) AS precision,
               round(CAST(n_common AS DOUBLE) / n_exact, 6) AS recall
        FROM ne, na, c
    """
    # Hybrid fusion composes the two already-verified retriever
    # oracles: rank each pool-of-10 list, full-outer join, integer
    # Borda sum with the truncated-list penalty 11.
    d["q_hybrid"] = f"""
        WITH lex AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM ({d['q_bm25']})),
        den AS (
          SELECT vec_id AS doc_id,
                 row_number() OVER (ORDER BY cos DESC, vec_id) AS r
          FROM ({d['q_simsearch']}))
        SELECT doc_id,
               CAST(COALESCE(lex.r, 11) AS INTEGER) AS lex_rank,
               CAST(COALESCE(den.r, 11) AS INTEGER) AS dense_rank,
               CAST(COALESCE(lex.r, 11) + COALESCE(den.r, 11) AS INTEGER)
                 AS fused
        FROM lex FULL OUTER JOIN den USING (doc_id)
        ORDER BY fused ASC, doc_id LIMIT 10
    """
    # Feature assembly composes the component oracles as CTEs — the
    # oracle is exactly the join of the already-verified signals.
    d["q_doc_features"] = f"""
        WITH ts AS ({d['q_textstats']}),
        q AS ({d['q_quality']}),
        lg AS ({d['q_langid']}),
        rep AS ({d['q_repetition']}),
        lm AS ({d['q_lm_perplexity']})
        SELECT ts.doc_id, ts.n_tokens, ts.n_distinct_tokens,
               ts.avg_token_len, q.quality, lg.en_ratio, lg.lang_guess,
               rep.rep_ratio, lm.nll, lm.ppl
        FROM ts
        JOIN q USING (doc_id)
        JOIN lg USING (doc_id)
        JOIN rep USING (doc_id)
        JOIN lm USING (doc_id)
    """
    # --- sketch-bank oracles (upgraded from rows-only, round 7) ---
    # Theta @ 4096 nominal entries is EXACT through sf0.1 (1500
    # distinct users/type, measured), so the oracle is the real SQL
    # set algebra over the same pair list.
    d["q_theta_audience"] = """
        WITH u AS (SELECT DISTINCT event_type AS g, user_id AS uid
                   FROM events WHERE user_id IS NOT NULL),
        c AS (SELECT g, count(*) AS n FROM u GROUP BY 1),
        p AS (SELECT * FROM (VALUES ('click','purchase'),
                                    ('view','error'),
                                    ('signup','click')) AS t(a, b)),
        i AS (SELECT p.a, p.b, count(*) AS n_int
              FROM p
              JOIN u x ON x.g = p.a
              JOIN u y ON y.g = p.b AND y.uid = x.uid
              GROUP BY 1, 2)
        SELECT p.a, p.b,
               CAST(ca.n AS BIGINT) AS est_a,
               CAST(cb.n AS BIGINT) AS est_b,
               CAST(ca.n + cb.n - coalesce(i.n_int, 0) AS BIGINT) AS est_union,
               CAST(coalesce(i.n_int, 0) AS BIGINT) AS est_intersection,
               CAST(ca.n - coalesce(i.n_int, 0) AS BIGINT) AS est_a_minus_b
        FROM p
        JOIN c ca ON ca.g = p.a
        JOIN c cb ON cb.g = p.b
        LEFT JOIN i ON i.a = p.a AND i.b = p.b
    """
    # The streamed accumulator provably equals the batch algebra
    # (order-free union, exact regime) — same oracle.
    d["q_stream_theta"] = d["q_theta_audience"]
    # HLL @ lg_k=12 is in its exact coupon regime at the correctness
    # SFs (measured: exact at 150 distinct/type, first divergence at
    # 1500): est_merged == exact count, audit bit true.
    d["q_sketch_distinct"] = """
        WITH e AS (SELECT event_type AS grp,
                          epoch_us(ts) // 86400000000 AS day, user_id
                   FROM events),
        -- count(DISTINCT day) skips NULL, but Spark's groupBy keeps a
        -- NULL-ts shard as one real sketch row — count it back in.
        s AS (SELECT grp,
                     count(DISTINCT day)
                       + max(CASE WHEN day IS NULL THEN 1 ELSE 0 END)
                       AS n_shards,
                     count(DISTINCT user_id) AS n_exact
              FROM e GROUP BY 1)
        SELECT grp, CAST(n_shards AS BIGINT) AS n_shards,
               CAST(n_exact AS BIGINT) AS est_merged,
               CAST(n_exact AS BIGINT) AS n_exact,
               TRUE AS approx_ok
        FROM s
    """
    # KLL estimates are estimator-internal, but the RANK-ERROR
    # CONTRACT is checkable data: Spark computes approx_ok against
    # exact ±5%-rank percentile bands in-query; the oracle asserts it
    # TRUE (KLL k=200 rank error ≈1.65% ≪ 5%) plus the exact shard
    # and row counts. A contract violation reds the driver row.
    d["q_kll_quantiles"] = """
        WITH e AS (SELECT event_type AS grp,
                          epoch_us(ts) // 86400000000 AS day, value
                   FROM events WHERE value IS NOT NULL)
        SELECT grp,
               -- NULL-day shard counted back in (see q_sketch_distinct)
               CAST(count(DISTINCT day)
                    + max(CASE WHEN day IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shards,
               CAST(count(*) AS BIGINT) AS n_total,
               TRUE AS approx_ok
        FROM e GROUP BY 1
    """
    return d
