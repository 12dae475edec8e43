"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints a COMPACT JSON headline as the
LAST stdout line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, ...}

plus writes the FULL artifact (artifact_version 6: all three
per-query passes with each query's ``run_query`` record, both ANN
recall profiles) to ``BENCH_full.json`` at the repo root, which the
round snapshot commits. The split exists because the driver records
only a 2000-char tail of stdout: round 10's single fat line (3 runs x
34 queries at 3 decimals) overflowed it and the driver artifact came
back ``parsed: null`` — the compact line carries the headline value,
the cold/warm-min totals, and the per-query warm-min map at 2
decimals, and names the committed file holding everything else.

Each query is timed end-to-end by ``observe.run_query``: construction,
a write of the full result to the ``noop`` sink (every output row and
column is materialized on the executors but nothing ships to the
driver), and the release of the blocks it left persisted. (v1/v2
artifacts used ``df.count()``, which let Catalyst prune whole branches
of some plans; BASELINE.md carries a v3 anchor and
``tools/bench_compare.py`` refuses to diff mismatched artifact
versions.) ``value`` is total wall time over the headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as contract  # noqa: E402
from myasynstreamjoin_spark.observe import run_query  # noqa: E402
from myasynstreamjoin_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (SURVEY.md §2 + phase-5 ops).
# Kept to the representative/expensive members so the bench signal is
# about engine quality, not query count.
HEADLINE = [
    "q_min_count_window",     # flagship stateful async join (A7/J1)
    "q_min_count_batch",      # stateless async join (A1/A2)
    "q_word_count",           # grouped count (A3)
    "q_split_skew_count",     # heavy-hitter salted agg (X7)
    "q_sum_window",           # windowed sum (A5)
    "q_batch_stats",          # driver stats agg (A10-A12)
    "q_star_count",           # star cardinality (J2)
    "q_star_join",            # relational 3-way join (J2)
    "q_topk_revenue",         # join + agg + top-k
    "q_tpch_q1",              # wide aggregation
    "q_regional_revenue",     # 6-way join w/ broadcast dims
    "q_asof_join",            # single-shuffle as-of join
    "q_cost_model_window",    # per-window strategy selection (X11)
    "q_textstats",            # text analysis
    "q_dedup_exact",          # exact dedup
    "q_minhash_pairs",        # MinHash LSH near-dup
    "q_ngram_jaccard",        # inverted-index Jaccard
    "q_simsearch",            # brute-force cosine top-k
    "q_embed_neardup_lsh",    # LSH-bucketed embedding near-dup
    "q_bm25",                 # BM25 lexical retrieval
    "q_bloom_decontaminate",  # Bloom-prefiltered exact decontamination
    "q_semantic_decontaminate",  # embedding-space decontamination (broadcast bench)
    "q_epoch_interleave",     # stride-scheduled epoch shuffle + source mixing
    "q_remove_spans",         # ExactSubstr-style duplicate-span removal
    "q_line_dedup",           # C4-style keep-first line dedup (r6)
    "q_interleave_mm",        # interleaved multimodal assembly (r6)
    "q_semantic_dedup_arrow",  # SemDeDup cluster-then-pair (Arrow scale kernel;
                              # the SQL twin carries the DuckDB oracle)
    "q_stream_min_count_window",  # Structured Streaming flagship
    "q_stream_grammar",       # S1 grammar DataSource stream (fixed grid; measures
                              # the partitioned Python-source + decode machinery)
    # TPC-H subset (round 8, verdict stretch: cross-round perf tracking
    # for the relational tier now that all 22 are driver-confirmed).
    # One per plan shape: Q3 join+agg+topk, Q5 6-way snowflake join,
    # Q9 9-scan star with expression-heavy agg, Q13 outer join +
    # distribution, Q18 semi-join on a large aggregate.
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q9",
    "q_tpch_q13",
    "q_tpch_q18",
]


def grammar_warmup(spark, _sf_dir: str):
    """Warms the Python-DataSource streaming machinery (worker pool,
    source registration, state store) with an 8-message grammar
    stream — a different, tiny workload, so the timed
    q_stream_grammar measures the 200-message grid, not cold-start."""
    from myasynstreamjoin_spark.config import EngineConfig
    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_table,
        stream_grammar_min_count,
    )

    return run_stream_to_table(
        stream_grammar_min_count(
            spark, EngineConfig(lgw_ms=1000, watermark_delay="2 seconds"),
            messages="8", records_per_message="8", partitions="2",
            messages_per_batch="8",
        ),
        spark,
    )


def timed_passes(
    spark, names: list[str], sf_dir: str
) -> list[dict[str, dict]]:
    """Three passes over ``names``; each query is built, written to the
    ``noop`` sink and released through ``observe.run_query``, and the
    cache is cleared after each pass. Returns one ``{name: record}``
    map per pass, figures at 3 decimals. A query's time is its
    record's ``wall_s``: construct + execute + release.

    Pass 1 is the cold anchor; passes 2-3 are warm, and callers report
    the per-query MIN of the two. A single warm pass whipsawed ±10-20%
    on sub-second queries (round-9 verdict #8), and interference only
    adds time, so min-of-warm is the de-noised statistic for a
    deterministic workload."""
    queries = contract.queries()
    passes: list[dict[str, dict]] = []
    for i in range(3):
        records: dict[str, dict] = {}
        for name in names:
            rec = run_query(spark, queries[name], sf_dir)
            records[name] = {k: round(v, 3) for k, v in rec.items()}
            print(f"# pass{i} {name}: {records[name]['wall_s']}s",
                  file=sys.stderr)
        passes.append(records)
        spark.catalog.clearCache()
    return passes


def wall_times(records: dict[str, dict]) -> dict[str, float]:
    """``{name: wall_s}`` of one ``timed_passes`` pass."""
    return {name: rec["wall_s"] for name, rec in records.items()}


def warm_min(runs: list[dict[str, float]]) -> dict[str, float]:
    """Per-query min over the warm passes (all but the first)."""
    return {name: round(min(r[name] for r in runs[1:]), 3) for name in runs[0]}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="bench")
    queries = contract.queries()

    # Warm the engine before timing (JIT/codegen, parquet reader, Python
    # gateway) on the *smoke* dataset so headline numbers measure query
    # execution, not JVM startup: one cheap agg plus one pass through
    # the explode/array/cache-heavy dedup path, whose columnar-cache
    # writer and array-expression codegen otherwise JIT inside the
    # first timed dedup query. The benchmarked sf_dir is untouched.
    # Round 12 (verdict item 7): the r12 cold-pass breakdown showed
    # ~21 s of the ~32 s cold/warm gap concentrated in two MORE
    # codegen/worker classes the original warmup never touched —
    # q_remove_spans (checkpoint-writer + span-reassembly codegen,
    # cold 12.4 s vs 2.6 s warm) and q_semantic_dedup_arrow (the
    # Arrow Python-worker pool + kernel import, cold 7.8 s vs 1.1 s).
    # Warm those classes too, still at sf0.001 (sub-second each).
    # MEASUREMENT CHANGE, disclosed in OPTIMIZATION_r12.md: the run-1
    # "cold" total is lower from r12 on because this JIT/worker
    # startup now happens in the untimed warmup — same policy, wider
    # coverage; pre-r12 cold anchors include it.
    smoke = "/root/testdata/sf0.001"
    for wq in ("q_word_count", "q_minhash_pairs"):
        run_query(spark, queries[wq], smoke, action=lambda df: df.count())
    for wq in ("q_remove_spans", "q_semantic_dedup_arrow"):
        # noop, not count(): count() would prune the reassembly /
        # kernel output columns whose codegen is exactly what needs
        # warming (same reasoning as the timed action, guide §1.4)
        run_query(spark, queries[wq], smoke)
    run_query(spark, grammar_warmup, smoke, action=lambda df: df.count())
    spark.catalog.clearCache()

    # The headline ``value`` is pass 1 (the cold pass, comparable to
    # every prior round's recording); the per-query ``queries`` map is
    # the warm-min (round-6 verdict item: per-query regression tables
    # must not mix cold-start noise). Every recording carries its own
    # same-machine repeat, so drift questions are answerable from the
    # artifact alone (SCALE.md round-5 bisect).
    passes = timed_passes(spark, HEADLINE, sf_dir)
    runs = [wall_times(p) for p in passes]

    total = round(sum(runs[0].values()), 3)
    # Retrieval-quality regression guard (round-9 verdict stretch #8):
    # recall@10 of the LSH and IVF searchers vs exact, recorded per
    # round so an ANN plan change can't silently trade recall for wall
    # time across rounds. Runs OUTSIDE the timed loops (it's a quality
    # metric, not a wall metric) on the same bench SF. Round 11
    # (verdict #5): BOTH LSH profiles are recorded — the shipped
    # default (3 planes x 8 tables) and the measured high-recall
    # headroom config (3 x 16, 0.98 recall at 2x explode volume) —
    # each with its own wall so the recall/cost dial is a measured
    # tradeoff in every artifact, not SCALE.md prose.
    ann_recall: dict[str, dict] | None = {}
    for profile in ("default", "high-recall"):
        t0 = time.perf_counter()
        rows = queries["q_ann_recall"](spark, sf_dir, profile=profile).collect()
        wall = round(time.perf_counter() - t0, 3)
        if not rows:
            # tiny SF / fixture drift can legitimately yield zero
            # rows; never lose the whole timing artifact to an
            # IndexError AFTER the timed passes completed (r9 advice).
            ann_recall = None
            break
        row = rows[0].asDict()
        ann_recall[profile.replace("-", "_")] = {
            "k": int(row["k"]),
            "n_queries": int(row["n_queries"]),
            "recall_lsh": float(row["recall_lsh"]),
            "recall_ivf": float(row["recall_ivf"]),
            "wall_sec": wall,
        }
    warm = warm_min(runs)
    run_totals = [round(sum(r.values()), 3) for r in runs]
    # Artifact-semantics marker (round-8 advice): in v1 artifacts
    # (BENCH_r01..r06) `queries` held the COLD run-1 timings; v2 (r07+)
    # holds the WARM run-2 pass, with run 1 preserved as
    # `queries_cold`. v3 (r08+) additionally changes the timed action
    # from count() to a noop-sink full materialization — count() lets
    # Catalyst prune columns (and whole plan branches) the count never
    # reads, undertiming projection-terminated queries like
    # q_asof_join. v4 (r10+) keeps the noop action but runs TWO warm
    # passes and reports their per-query MIN in `queries`
    # (single-warm-run comparisons whipsawed ±10-20% on sub-second
    # queries — r9 verdict #8); raw warm passes are in
    # `queries_warm_runs`. v5 (r11+) keeps v4 timing semantics but
    # SPLITS the output: the full record (cold + raw warm passes at 3
    # decimals, both ANN profiles) goes to the committed
    # ``BENCH_full.json``; stdout's last line is a compact headline
    # (per-query warm-min at 2 decimals) sized for the driver's
    # 2000-char tail capture, which r10's single fat line overflowed
    # (BENCH_r10.json parsed=null). v6 keeps v5 timing semantics and
    # adds `records`: per pass, each query's `run_query` record
    # (construct/execute/release wall, their sum `wall_s` — the
    # query's time — and `persisted_n`). Cross-round per-query tooling
    # must branch on this field instead of silently comparing
    # semantics.
    # Scaling legibility (round-11 verdict #2): the effective master
    # and scheduler parallelism, read back from the LIVE context — not
    # an echo of the env var — so the driver's low-core run can verify
    # $SPARK_GRAFT_CPUS took effect from the compact line alone
    # (r11's scaling block misread overhead-bound sf0.1 ratios as an
    # ignored env var). Additive fields; nothing removed or renamed.
    eff_master = spark.sparkContext.master
    eff_par = spark.sparkContext.defaultParallelism
    full = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": warm,
        "sf": sf,
        "runs": run_totals,
        "master": eff_master,
        "parallelism": eff_par,
        "queries_cold": runs[0],
        "queries_warm_runs": runs[1:],
        "records": passes,
        "artifact_version": 6,
        "queries_semantics": "warm_min_noop_sink",
        "ann_recall": ann_recall,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    compact = json.dumps({
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        # 2-decimal warm-min map: the driver tail budget is 2000 chars
        # and 34 queries at 3 decimals plus the raw passes was what
        # overflowed it in r10.
        "queries": {k: round(v, 2) for k, v in warm.items()},
        "sf": sf,
        "runs": run_totals,
        "warm_min_total": round(sum(warm.values()), 2),
        "artifact_version": 6,
        "queries_semantics": "warm_min_noop_sink",
        "master": eff_master,
        "parallelism": eff_par,
        "ann_recall": ann_recall,
        "full_artifact": "BENCH_full.json",
    }, separators=(",", ":"))
    if len(compact) > 1800:
        # Never regrow past the driver tail capture: drop the bulkiest
        # optional field and say so on stderr (the full artifact still
        # has it).
        print(f"# compact line {len(compact)} chars > 1800 budget; "
              "dropping ann_recall from the stdout line "
              "(still in BENCH_full.json)", file=sys.stderr)
        slim = json.loads(compact)
        slim["ann_recall"] = "see_full_artifact"
        compact = json.dumps(slim, separators=(",", ":"))
    print(f"# full artifact written to {full_path} "
          f"(compact line: {len(compact)} chars)", file=sys.stderr)
    print(compact)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
