"""sf1-equivalent stress probe of the dedup/ANN family (SCALE.md).

Runs the shuffle- and explode-heavy queries against the 10×-sf0.1
corpus built by tools/make_scale_probe.py and reports, per query:
output rows, the ``observe.run_query`` record (construct, execute and
release wall, ``wall_s``, ``persisted_n``), and the query's jobs,
stages, spill and shuffle read/write (MiB) from the Spark status
store via ``perfbench.probes.StatusDelta`` (the numbers SCALE.md
records). Exits non-zero on any query error.

Usage: python tools/scale_probe.py [probe_dir] [query ...]

Set SPARK_GRAFT_PROBE_JSON=/path/out.json to additionally write the
per-query rows as a JSON artifact (checked into the repo per round as
SCALEPROBE_r{N}.json so probe regressions diff like bench regressions).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from myasynstreamjoin_spark.observe import run_query  # noqa: E402
from myasynstreamjoin_spark.session import (  # noqa: E402
    get_spark,
    prepare_streaming_scale,
)
from perfbench.probes import StatusDelta  # noqa: E402

PROBE_DIR = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf1ish"
DEFAULT = [
    "q_ngram_jaccard",
    "q_minhash_pairs",
    "q_simhash",
    "q_dedup_clusters",
    # round 8: the registered q_embed_neardup_lsh / q_semantic_dedup
    # now RIDE the auto-scaled parameters (their oracles recompute
    # n_planes / n_seeds from count(*)), so the probe runs the
    # contract forms directly — the old pinned-literal carve-outs
    # (killed at ~7.8e11 pair folds in the r7 sf10ish campaign) are
    # retired.
    "q_embed_neardup_lsh",
    "q_semantic_dedup",
    "semantic_dedup_arrow",
    "q_remove_spans",
    "remove_spans_hashed",
    "q_bloom_decontaminate",
    "q_contamination_report",
    "q_warc_roundtrip",
    "q_bm25",
    "q_simsearch",
    "q_dup_spans",
    "q_copurchase",
    # q_pagerank now consumes __spark_entry__._graph_edges (round 6):
    # its row measures materialize-once + prebuilt consume — the shape
    # that survives sf3 where the old inline build OOM'd.
    "q_pagerank",
    "edges_materialize",
    "pagerank_prebuilt",
    "triangles_prebuilt",
    "lpa_prebuilt",
    "q_event_sequences",
    "q_expectations",
    "q_epoch_shuffle",
    "q_epoch_interleave",
    # q_semantic_decontaminate (SQL kernel) is quadratic-in-SF by
    # construction (corpus×bench both grow) and DNF'd at 30× — probe
    # the map-only Arrow twin at ≥10×; the SQL form's oracle replay
    # happens at the correctness SF where it is trivial.
    "semantic_decontaminate_arrow",
    "q_quality_classifier",
    "q_pipeline_e2e",
    "pipeline_e2e_nolang",
    "q_dataset_card",
    "q_compact_shards",
    "q_tokenize_pack",
    "q_image_neardup",
    "q_quota_sample",
    "q_drift_timeline",
    # round 8: make_scale_probe now replicates the FULL relational
    # schema (customer/supplier/part + fixed nation/region, with
    # per-replica custkey/suppkey offsets), so the relational tier
    # probes at scale alongside the pipeline tier.
    "q_fk_audit",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q9",
    "q_tpch_q13",
    "q_tpch_q18",
    "q_trend",
    "q_soft_dedup",
    "q_assoc",
    "q_winsorize",
    "q_epoch_curriculum",
    "q_sketch_distinct",
    "q_retrieval_eval",
    "q_compression_ratio",
    "q_webdataset_roundtrip",
    "q_sorted_export",
    "q_hard_negatives",
    "q_line_dedup",
    "line_dedup_hashed",
    "q_boilerplate",
    "q_line_dedup_incremental",
    "q_interleave_mm",
    "q_fix_encoding",
    "q_ccnet_buckets",
    "q_unpivot",
    "q_budget_select",
    "q_matryoshka",
    "q_hygiene_e2e",
    "q_augment",
    "q_link_negatives",
    "q_kll_quantiles",
    "q_theta_audience",
    "q_stream_theta",
    "q_debounce",
    "q_throttle",
    "q_stream_debounce",
    "q_stream_throttle",
    "q_stream_line_dedup",
    "q_stream_weighted_sample",
    "q_stream_drift",
    "q_stream_min_count_window",
    "q_stream_dedup",
    # q_stream_sessions' memory sink is driver-bound by design (oracle
    # collection); at probe scale run the production parquet-sink twin.
    "stream_sessions_parquet",
]
NAMES = sys.argv[2:] or DEFAULT


def materialize(df) -> int:
    """Force FULL materialization of every output column and return the
    row count.

    ``df.count()`` is not a benchmark action: Catalyst re-optimizes the
    counted plan, and column pruning can delete whole subtrees whose
    values the count never needs — measured round 8 on q_asof_join,
    where count() pruned the as-of Window (and, via the ``__is_left``
    filter pushed into the union, the entire purchase-aggregation
    branch), reporting 2.6 s / 0 shuffle for a plan whose honest
    materialization is 6.3 s with two exchanges. A ``noop``-format
    write computes every column and discards the rows (the standard
    Spark benchmarking sink); the row count rides along as an
    Observation so nothing recomputes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get["n"]


def _semantic_dedup_arrow(spark, sf_dir):
    """Auto seeds + Arrow matmul kernels — the full 100 TB path."""
    from myasynstreamjoin_spark.functions.similarity import semantic_dedup_pairs

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup_pairs(embs, n_seeds=None, threshold=0.4, kernel="arrow")


def _semantic_decontaminate_arrow(spark, sf_dir):
    """Arrow matmul kernel on the r8-era GROWING benchmark slice
    (vec_id % 50 — |bench| scales with the corpus, the shape whose SQL
    fold DNF'd at 30×). Kept as the worst-case stressor: the r9
    contract re-shape fixed the REGISTERED q_semantic_decontaminate to
    a constant 100-vector holdout (linear-in-SF on both kernels — run
    the registered names for that shape); this entry still measures
    the kernel at O(|corpus|·|corpus|/50) cosine volume."""
    from pyspark.sql import functions as F

    from myasynstreamjoin_spark.functions.similarity import (
        semantic_decontaminate,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = embs.where(F.col("vec_id") % 50 == 0)
    corpus = embs.where(F.col("vec_id") % 50 != 0)
    return semantic_decontaminate(corpus, bench, threshold=0.4, kernel="arrow")


def _stream_sessions_parquet(spark, sf_dir):
    """q_stream_sessions through the PRODUCTION sink: the registered
    form collects via the memory sink (needed for its oracle compare
    at the correctness SF), which is driver-bound by design — at 30 M
    events the collected sessions blow spark.driver.maxResultSize.
    The kernel itself is sound; probe it through the exactly-once
    parquet sink a real deployment uses. The replayed file's size sets
    the state width (session.replay_state_partitions), so probe-scale
    state is spread over up to the scheduler parallelism."""
    import tempfile

    from myasynstreamjoin_spark.streaming.windowed import (
        run_stream_to_parquet,
        stream_events,
        stream_sessions,
    )

    out = tempfile.mkdtemp(prefix="sessions_")
    return run_stream_to_parquet(
        stream_sessions(stream_events(spark, sf_dir)),
        spark,
        out_path=f"{out}/data",
        input_bytes=os.path.getsize(f"{sf_dir}/events.parquet"),
    )


def _remove_spans_hashed(spark, sf_dir):
    """The 100 TB setting of q_remove_spans: 8-byte xxhash64 election
    keys instead of gram strings (the contract query keeps strings for
    its oracle)."""
    from myasynstreamjoin_spark.functions.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(docs, k=8, hashed=True)


def _line_dedup_hashed(spark, sf_dir):
    """The 100 TB setting of q_line_dedup: 8-byte xxhash64 election
    keys instead of line strings (the contract query keeps strings for
    its oracle)."""
    from myasynstreamjoin_spark.functions.lines import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return line_dedup(docs, width=12, hashed=True)


_EDGE_TABLE = "probe_copurchase_edges"


def _edges_materialize(spark, sf_dir):
    """Build-once cost of the bucketed co-purchase edge table — the
    price the prebuilt graph ops amortize. Row count = directed edges.

    Stale managed-table locations from interrupted sessions are
    cleared inside the bucketed writer itself (sources/sinks.py)."""
    from myasynstreamjoin_spark.operators.graph import (
        read_copurchase_edges,
        write_copurchase_edges,
    )
    from myasynstreamjoin_spark.sources.tables import load_table

    # Since round 10 the writer sizes buckets DATA-PROPORTIONALLY
    # (est_edges / target_rows_per_bucket, one sorted file per
    # bucket); this env only raises the FLOOR and normally stays at
    # the default — 957 M edges auto-size to 480 buckets.
    # SPARK_GRAFT_PROBE_TARGET_ROWS overrides the per-bucket row
    # target for bucket-knee sweeps (round-11 verdict #4: measure
    # 500 k vs the 1 M default at sf40).
    n_buckets = int(os.environ.get("SPARK_GRAFT_PROBE_BUCKETS", "32"))
    target = int(
        os.environ.get("SPARK_GRAFT_PROBE_TARGET_ROWS", "1000000")
    )
    write_copurchase_edges(
        load_table(spark, sf_dir, "lineitem"), _EDGE_TABLE,
        n_buckets=n_buckets, target_rows_per_bucket=target,
    )
    return read_copurchase_edges(spark, _EDGE_TABLE)


def _edges(spark, sf_dir):
    """The prebuilt edge table, materializing it on demand — so the
    prebuilt probes also work when invoked individually (fresh
    in-memory catalog) instead of only after edges_materialize in the
    same run. When the table already exists, its one-time build cost
    stays out of the prebuilt queries' walls — which is the number
    being measured.

    SPARK_GRAFT_PROBE_REUSE_EDGES=1 re-REGISTERS the previous
    session's written files (the local catalog is in-memory and dies
    with the session that built them) instead of rebuilding — the
    fresh-session, no-rebuild measurement round 10's triangle number
    conflated (649.2 s included a ~220 s in-session rebuild). Explicit
    opt-in: auto-reuse could silently measure a STALE table from a
    different SF."""
    from myasynstreamjoin_spark.operators.graph import read_copurchase_edges

    if not spark.catalog.tableExists(_EDGE_TABLE):
        if os.environ.get("SPARK_GRAFT_PROBE_REUSE_EDGES") == "1":
            from myasynstreamjoin_spark.sources.sinks import register_bucketed

            loc = os.path.join(
                spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                    "file:"
                ),
                _EDGE_TABLE,
            )
            register_bucketed(
                spark, _EDGE_TABLE, loc, ["src"], sort_cols=["src", "dst"]
            )
        else:
            _edges_materialize(spark, sf_dir)
    return read_copurchase_edges(spark, _EDGE_TABLE)


def _pagerank_prebuilt(spark, sf_dir):
    from myasynstreamjoin_spark.operators.graph import pagerank_edges

    return pagerank_edges(_edges(spark, sf_dir))


def _triangles_prebuilt(spark, sf_dir):
    from myasynstreamjoin_spark.operators.graph import triangle_count_edges

    return triangle_count_edges(_edges(spark, sf_dir))


def _lpa_prebuilt(spark, sf_dir):
    from myasynstreamjoin_spark.operators.graph import label_propagation_edges

    return label_propagation_edges(_edges(spark, sf_dir))


def _lpa_prebuilt_shufflejoin(spark, sf_dir):
    """LPA with the node-grain broadcast DISABLED — the >8 M-node
    fallback path, probed below the threshold to measure the crossover
    as the corpus approaches the cap (judge r7 brief #5)."""
    from myasynstreamjoin_spark.operators.graph import label_propagation_edges

    return label_propagation_edges(_edges(spark, sf_dir), broadcast_nodes_max=0)


def _pagerank_prebuilt_shufflejoin(spark, sf_dir):
    """PageRank on the shuffle-join fallback path, same rationale."""
    from myasynstreamjoin_spark.operators.graph import pagerank_edges

    return pagerank_edges(_edges(spark, sf_dir), broadcast_nodes_max=0)


def _link_negatives_prebuilt(spark, sf_dir):
    """The round-8 distributed rotation rank on the PREBUILT edge
    table — isolates the negative-sampling cost (range-partitioned
    two-level rank + anti-join) from the pay-once edge build that
    dominated the sf1ish q_link_negatives row."""
    from myasynstreamjoin_spark.operators.graph import link_negative_pairs

    return link_negative_pairs(_edges(spark, sf_dir))


def _pipeline_e2e_nolang(spark, sf_dir):
    """q_pipeline_e2e with the stopword langid gate off: the probe
    corpus prefixes every token per replica, so the 'en' gate
    legitimately passes 0 docs there — this variant drives full
    volume through decontamination, packing, and the manifest."""
    return contract._q_pipeline_e2e(spark, sf_dir, lang_gate=False)


# Operator-DECLARED static session confs (round-11 verdict #3): when
# every requested probe query belongs to the same declaring operator,
# the probe session is built with that operator's confs — the operator
# picks its codec, not an out-of-band env var. Static confs apply to
# the whole session, so mixed probe lists keep the engine default.
def _declared_confs() -> dict[str, str]:
    from myasynstreamjoin_spark.operators.graph import TRIANGLE_SCALE_CONFS

    per_query = {"triangles_prebuilt": TRIANGLE_SCALE_CONFS}
    if NAMES and all(n in per_query for n in NAMES):
        # An explicit SPARK_GRAFT_EXTRA_CONFS override WINS over the
        # operator's declaration — the env escape hatch exists to run
        # controls (e.g. an lz4 census A/B) and session.py already
        # logs every injection; without this carve-out the declared
        # conf is applied after the env and silently reverts it.
        env_keys = {
            p.split("=", 1)[0].strip()
            for p in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";")
            if "=" in p
        }
        confs: dict[str, str] = {}
        for n in NAMES:
            confs.update(per_query[n])
        confs = {k: v for k, v in confs.items() if k not in env_keys}
        for k, v in confs.items():
            print(f"# operator-declared session conf: {k}={v}")
        return confs
    return {}


def main() -> int:
    spark = get_spark(app_name="scale-probe", extra_confs=_declared_confs())
    # The stress probe IS the large-state streaming deployment the
    # opt-in targets: a probe-scale corpus arrives in a handful of
    # giant micro-batches, and the default HDFS-backed provider holds
    # ALL stateful-operator state in executor heap (q_stream_sessions
    # heap-OOM'd the shared JVM at 30 M events). RocksDB keeps state
    # off-heap/on-disk so executor memory bounds the WORKING SET, not
    # total state — the same posture a 100 TB cluster runs with.
    # Small-SF tests/bench keep the default (see session.py).
    prepare_streaming_scale(spark)
    queries = dict(contract.queries())
    queries["pipeline_e2e_nolang"] = _pipeline_e2e_nolang
    queries["semantic_dedup_arrow"] = _semantic_dedup_arrow
    queries["semantic_decontaminate_arrow"] = _semantic_decontaminate_arrow
    queries["stream_sessions_parquet"] = _stream_sessions_parquet
    queries["remove_spans_hashed"] = _remove_spans_hashed
    queries["line_dedup_hashed"] = _line_dedup_hashed
    queries["edges_materialize"] = _edges_materialize
    queries["pagerank_prebuilt"] = _pagerank_prebuilt
    queries["triangles_prebuilt"] = _triangles_prebuilt
    queries["lpa_prebuilt"] = _lpa_prebuilt
    queries["lpa_prebuilt_shufflejoin"] = _lpa_prebuilt_shufflejoin
    queries["pagerank_prebuilt_shufflejoin"] = _pagerank_prebuilt_shufflejoin
    queries["link_negatives_prebuilt"] = _link_negatives_prebuilt
    failures = 0
    records = []
    status = StatusDelta(spark)
    for name in NAMES:
        counted: list[int] = []
        status.mark()
        try:
            rec = run_query(
                spark, queries[name], PROBE_DIR,
                action=lambda df: counted.append(materialize(df)),
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: FAIL {type(exc).__name__}: {exc}")
            records.append({"query": name, "error": f"{type(exc).__name__}: {exc}"})
            failures += 1
            # A task-level OOM can leave the shared local JVM's session
            # half-dead (measured r9: after lpa OOM'd at the 8 M-node
            # probe, every later query failed with an unrelated
            # "SparkPlan.session() is null" NPE — cascade artifacts,
            # not real results). Probe session health and rebuild it so
            # the remaining rows measure THEIR query, not the corpse.
            try:
                spark.range(1).count()
            except Exception:
                print(f"{name}: session unhealthy after failure — rebuilding")
                try:
                    spark.stop()
                except Exception:
                    pass
                try:
                    spark = get_spark(app_name="scale-probe")
                    prepare_streaming_scale(spark)
                    status = StatusDelta(spark)
                except Exception as rexc:  # noqa: BLE001
                    # a hard executor OOM kills the shared local JVM;
                    # py4j launches ONE gateway per Python process, so
                    # an in-process rebuild reuses the corpse and fails
                    # here. Record the abort and stop — rerun the
                    # remaining queries in a fresh invocation.
                    print(f"JVM unrecoverable ({type(rexc).__name__}) — "
                          "aborting remaining queries; rerun them in a "
                          "fresh process")
                    records.append({
                        "query": "__aborted__",
                        "error": "JVM unrecoverable after previous "
                                 "failure; remaining queries not run",
                    })
                    break
            continue
        # Read the status store per job, not as a diff of cumulative
        # stage sums: once it holds spark.ui.retainedStages stages,
        # every new stage evicts an old one and such a diff shrinks
        # toward 0.
        m = status.collect()
        row = {
            "query": name,
            "rows": counted[0],
            **{k: round(v, 2) for k, v in rec.items()},
            "jobs": int(m["jobs"]),
            "stages": int(m["stages"]),
            "spill_mib": round(m["spill_mb"]),
            "shuffle_read_mib": round(m["shuffle_read_mb"]),
            "shuffle_write_mib": round(m["shuffle_write_mb"]),
        }
        records.append(row)
        print(
            f"{name}: {rec['wall_s']:.1f}s rows={row['rows']} "
            f"construct={rec['construct_s']:.1f}s "
            f"jobs={row['jobs']} spill={row['spill_mib']}MiB "
            f"shuffle_r={row['shuffle_read_mib']}MiB "
            f"shuffle_w={row['shuffle_write_mib']}MiB"
        )
    out = os.environ.get("SPARK_GRAFT_PROBE_JSON")
    if out:
        with open(out, "w") as fh:
            json.dump(
                {"probe_dir": PROBE_DIR, "queries": records}, fh, indent=1
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
