"""Two threads building queries on one session get their own inputs.

The operators that bind a DataFrame into SQL text pass it as a
``spark.sql`` argument, which PySpark registers under a fresh uuid view
name and drops when the call returns. A fixed view name let one
thread's build resolve the other thread's source, and left the view in
the catalog after the query.
"""

from __future__ import annotations

import threading

from myasynstreamjoin_spark.config import EngineConfig
from myasynstreamjoin_spark.functions.udtf_ops import split_sentences
from myasynstreamjoin_spark.streaming.windowed import (
    EVENTS_SCHEMA,
    run_stream_to_table,
    stream_min_count_per_window,
)
from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

ROUNDS = 12
SEC_NS = 1_000_000_000


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _build_in_two_threads(builds):
    """Run the two zero-argument ``builds`` at once (released together by
    a barrier) and return their results in order."""
    barrier = threading.Barrier(len(builds), timeout=60)
    out = [None] * len(builds)
    errors = []

    def run(i, build):
        try:
            barrier.wait()
            out[i] = build()
        except Exception as exc:  # surfaced below, in the test thread
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i, b)) for i, b in enumerate(builds)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive(), "a build did not finish"
    if errors:
        raise errors[0]
    return out


def test_split_sentences_from_two_threads(spark):
    docs = {
        "a": spark.createDataFrame([(1, "alpha one. alpha two")], "doc_id long, text string"),
        "b": spark.createDataFrame([(2, "beta one! beta two? beta")], "doc_id long, text string"),
    }
    expected = {
        "a": {(1, 0, "alpha one"), (1, 1, "alpha two")},
        "b": {(2, 0, "beta one"), (2, 1, "beta two"), (2, 2, "beta")},
    }
    views = _temp_views(spark)
    for _ in range(ROUNDS):
        got = _build_in_two_threads(
            [lambda d=d: split_sentences(spark, d) for d in docs.values()]
        )
        assert _temp_views(spark) == views
        for name, df in zip(docs, got):
            rows = {(r.doc_id, r.sent_idx, r.sentence) for r in df.collect()}
            assert rows == expected[name]


def _stage_feed(spark, tmp_path, name: str, key: str, per_source: int):
    """A one-file events feed: ``per_source`` rows of ``key`` from each
    of the three ports in the first 1 s window, then one row 10 s later
    so the watermark closes that window."""
    rows = [
        (i, (i + 1) * 10_000_000, i % 3, key, 1.0, "")
        for i in range(3 * per_source)
    ]
    rows.append((999, 10 * SEC_NS, 0, key, 1.0, ""))
    feed = tmp_path / name
    feed.mkdir()
    stage_stream_file(spark.createDataFrame(rows, EVENTS_SCHEMA), feed, "p0.parquet", 1)
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(str(feed)), str(feed)


def test_stream_min_count_per_window_from_two_threads(spark, tmp_path):
    cfg = EngineConfig(lgw_ms=1000, watermark_delay="0 seconds")
    feeds = {
        "a": _stage_feed(spark, tmp_path, "feed_a", "ka", per_source=1),
        "b": _stage_feed(spark, tmp_path, "feed_b", "kb", per_source=2),
    }
    views = _temp_views(spark)
    for _ in range(ROUNDS):
        got = _build_in_two_threads(
            [lambda s=s: stream_min_count_per_window(s, cfg) for s, _ in feeds.values()]
        )
        assert _temp_views(spark) == views
        for (name, (_, path)), df in zip(feeds.items(), got):
            plan = df._jdf.queryExecution().analyzed().toString()
            other = feeds["b" if name == "a" else "a"][1]
            assert path in plan and other not in plan, name
    rows = {
        name: {tuple(r) for r in run_stream_to_table(df, spark).collect()}
        for name, df in zip(feeds, got)
    }
    assert rows == {"a": {("ka", 0, 1)}, "b": {("kb", 0, 2)}}
