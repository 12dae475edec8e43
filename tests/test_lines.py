"""Line-granularity corpus hygiene (functions/lines.py): C4-style
global line dedup, CCNet-style boilerplate stripping, and the
persisted line index that makes line dedup incremental.

Property tests pin every operator against a brute-force plain-Python
model over random small corpora; plan tests pin the scale shapes
(min-struct election without a window sort, broadcast boilerplate
application, bucket-local index probe)."""

from __future__ import annotations

import math
import os
import re
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from myasynstreamjoin_spark.functions.lines import (
    boilerplate_lines,
    boilerplate_report,
    doc_lines,
    line_dedup,
    line_dedup_against_index,
    strip_boilerplate,
    write_line_index,
)

W = 3  # test line width (tokens)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


# ---------------------------------------------------------------------------
# Plain-Python models
# ---------------------------------------------------------------------------


def _wrap(text: str, w: int) -> list[str]:
    toks = re.split(r"\s+", text.strip().lower())
    n = max(1, math.ceil(len(toks) / w))
    return [" ".join(toks[i * w : (i + 1) * w]) for i in range(n)]


def model_line_dedup(rows, w, min_chars):
    """rows: (doc_id, text, source) → {doc_id: (n_lines, n_removed, clean)}."""
    occ = []
    for did, text, _ in rows:
        if text is None:
            continue
        for i, line in enumerate(_wrap(text, w)):
            occ.append((did, i, line))
    seen: set[str] = set()
    kept: dict[tuple[int, int], bool] = {}
    for did, i, line in sorted(occ):
        if len(line) < min_chars:
            kept[(did, i)] = True
        elif line in seen:
            kept[(did, i)] = False
        else:
            seen.add(line)
            kept[(did, i)] = True
    out = {}
    for did, text, _ in rows:
        if text is None:
            continue
        lines = _wrap(text, w)
        k = [l for i, l in enumerate(lines) if kept[(did, i)]]
        out[did] = (len(lines), len(lines) - len(k), " ".join(k))
    return out


def model_boilerplate(rows, w, min_df, frac):
    """→ {source: (n_boiler_lines, n_lines_removed, n_docs_touched,
    chars_removed)} with one entry per source (zeros included)."""
    by_src: dict[str, list] = {}
    for did, text, src in rows:
        if text is None:
            continue
        by_src.setdefault(src, []).append((did, _wrap(text, w)))
    out = {}
    for src, docs in by_src.items():
        df: dict[str, set] = {}
        for did, lines in docs:
            for line in lines:
                df.setdefault(line, set()).add(did)
        thr = max(min_df, math.ceil(frac * len(docs)))
        boiler = {l for l, dids in df.items() if len(dids) >= thr}
        occ = [
            (did, l) for did, lines in docs for l in lines if l in boiler
        ]
        out[src] = (
            len(boiler),
            len(occ),
            len({d for d, _ in occ}),
            sum(len(l) for _, l in occ),
        )
    return out


doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=18
    ).map(" ".join),
    min_size=1,
    max_size=10,
)


# ---------------------------------------------------------------------------
# line_dedup
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(doc_texts, st.sampled_from([1, 2]))
def test_line_dedup_matches_model(spark, texts, min_chars):
    rows = [
        (i, t, "web" if i % 2 == 0 else "book")
        for i, t in enumerate(texts)
    ]
    got = {
        r["doc_id"]: (r["n_lines"], r["n_removed"], r["text_clean"])
        for r in line_dedup(
            _docs(spark, rows), width=W, min_chars=min_chars
        ).collect()
    }
    assert got == model_line_dedup(rows, W, min_chars)


def test_line_dedup_hashed_matches_exact(spark):
    rows = [
        (i, f"x{i % 4} y{i % 3} z{i % 2} " * 4, "web") for i in range(20)
    ]
    exact = line_dedup(_docs(spark, rows), width=W).collect()
    hashed = line_dedup(_docs(spark, rows), width=W, hashed=True).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(map(tuple, exact), key=lambda t: t[0]) == sorted(
        map(tuple, hashed), key=lambda t: t[0]
    )
    # and the corpus genuinely contains duplicates
    assert any(r["n_removed"] > 0 for r in exact)


def test_line_dedup_delim_mode_real_newlines(spark):
    rows = [
        (1, "intro\nshared footer line\nbody one", "web"),
        (2, "other intro\nshared footer line\nbody two", "web"),
    ]
    got = {
        r["doc_id"]: r["text_clean"]
        for r in line_dedup(_docs(spark, rows), width=None).collect()
    }
    assert got[1] == "intro\nshared footer line\nbody one"
    assert got[2] == "other intro\nbody two"


def test_line_dedup_min_chars_exempts_short_lines(spark):
    # "a b" (3 chars) repeats in both docs; with min_chars=4 it is
    # structural and survives everywhere
    rows = [(1, "a b", "web"), (2, "a b", "web")]
    got = line_dedup(_docs(spark, rows), width=W, min_chars=4).collect()
    assert all(r["n_removed"] == 0 for r in got)
    # with min_chars=1 the later copy dies entirely
    got2 = {
        r["doc_id"]: r["text_clean"]
        for r in line_dedup(_docs(spark, rows), width=W).collect()
    }
    assert got2 == {1: "a b", 2: ""}


def test_line_dedup_election_has_no_window_sort(spark):
    """First-occurrence election must be the groupBy min-struct, not a
    row_number window — a Window over the exploded line table would
    sort corpus-lines rows at scale."""
    rows = [(i, "a b c d e f", "web") for i in range(4)]
    plan = (
        line_dedup(_docs(spark, rows), width=W)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan


def test_line_dedup_reassembly_is_single_doc_pass(spark):
    """Reassembly marks drops and aggregates ONCE at doc grain
    (round 12): exactly one doc_id hash exchange in the whole plan.
    The prior shape aggregated the line table a second time for the
    per-doc totals and outer-joined the halves — one extra
    corpus-scale pass."""
    rows = [(i, "a b c d e f g h i j k l m n", "web") for i in range(4)]
    plan = (
        line_dedup(_docs(spark, rows), width=W)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    doc_grain = re.findall(r"Exchange hashpartitioning\(doc_id#\d+L, \d+\)", plan)
    assert len(doc_grain) == 1, plan


def test_incremental_reassembly_is_single_doc_pass(spark, line_index):
    """line_dedup_against_index carries the line text through the
    status tagging and produces counts + reassembled text in ONE
    doc-grain aggregation (round 12): exactly one doc_id hash
    exchange (the prior shape aggregated status twice and joined)."""
    delta = _docs(spark, [(31, "alpha beta gamma fresh new content", "web")])
    plan = (
        line_dedup_against_index(delta, TABLE, width=W)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    doc_grain = re.findall(r"Exchange hashpartitioning\(doc_id#\d+L, \d+\)", plan)
    assert len(doc_grain) == 1, plan


# ---------------------------------------------------------------------------
# boilerplate
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(doc_texts, st.sampled_from([2, 3]), st.sampled_from([0.0, 0.5]))
def test_boilerplate_report_matches_model(spark, texts, min_df, frac):
    rows = [
        (i, t, "web" if i % 2 == 0 else "book")
        for i, t in enumerate(texts)
    ]
    got = {
        r["source"]: (
            r["n_boiler_lines"],
            r["n_lines_removed"],
            r["n_docs_touched"],
            r["chars_removed"],
        )
        for r in boilerplate_report(
            _docs(spark, rows), width=W, min_df=min_df, frac=frac
        ).collect()
    }
    assert got == model_boilerplate(rows, W, min_df, frac)


def test_strip_consistent_with_report(spark):
    rows = [
        (1, "nav bar home about us contact page", "web"),
        (2, "nav bar home other content here now", "web"),
        (3, "nav bar home totally different body", "web"),
        (4, "unique document body with no chrome", "book"),
    ]
    rep = {
        r["source"]: r
        for r in boilerplate_report(
            _docs(spark, rows), width=W, min_df=2
        ).collect()
    }
    stripped = strip_boilerplate(_docs(spark, rows), width=W, min_df=2)
    per_src = stripped.groupBy("source").agg(
        F.sum("n_removed").alias("n"),
    )
    got = {r["source"]: r["n"] for r in per_src.collect()}
    assert got["web"] == rep["web"]["n_lines_removed"]
    assert got["book"] == rep["book"]["n_lines_removed"] == 0
    # the repeated "nav bar home" line is gone from every web doc
    web = {
        r["doc_id"]: r["text_clean"]
        for r in stripped.collect()
        if r["source"] == "web"
    }
    assert all(not t.startswith("nav bar home") for t in web.values())
    # boilerplate strips ALL occurrences (line_dedup keeps the first)
    assert sum(1 for t in web.values() if "nav bar home" in t) == 0


def test_line_is_doc_frequency_not_occurrence(spark):
    # the same line 3× in ONE doc is repetition, not boilerplate
    rows = [(1, "a b c a b c a b c", "web"), (2, "x y z q r s", "web")]
    assert (
        boilerplate_lines(_docs(spark, rows), width=W, min_df=2).count()
        == 0
    )


def test_boilerplate_application_is_broadcast(spark):
    """The elected line set must broadcast — the corpus pays no
    exchange for the strip itself (the plan's only hash exchanges are
    the election aggs and per-doc reassembly, all line- or doc-grain)."""
    rows = [(i, "nav bar home body %d" % i, "web") for i in range(6)]
    plan = (
        strip_boilerplate(_docs(spark, rows), width=W, min_df=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# persisted line index / incremental dedup
# ---------------------------------------------------------------------------

TABLE = "test_line_index"


@pytest.fixture()
def line_index(spark):
    corpus = _docs(
        spark,
        [
            (0, "alpha beta gamma delta epsilon zeta", "web"),
            (2, "one two three four five six", "web"),
        ],
    )
    tmp = tempfile.mkdtemp(prefix="line_idx_")
    write_line_index(
        corpus, TABLE, width=W, n_buckets=4, path=os.path.join(tmp, "idx")
    )
    yield TABLE
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_index_rows_are_first_occurrences(spark, line_index):
    idx = {r["line"]: r["keep_doc"] for r in spark.table(TABLE).collect()}
    assert idx == {
        "alpha beta gamma": 0,
        "delta epsilon zeta": 0,
        "one two three": 2,
        "four five six": 2,
    }


def test_incremental_matches_model(spark, line_index):
    delta = _docs(
        spark,
        [
            # line 0 hits the index, line 1 is new
            (11, "alpha beta gamma fresh new content", "web"),
            # duplicates doc 11's second line within the delta
            (13, "fresh new content tail bit here", "web"),
            (15, "entirely novel document text here now", "web"),
        ],
    )
    got = {
        r["doc_id"]: (
            r["n_lines"],
            r["n_dup_index"],
            r["n_dup_within"],
            r["text_clean"],
        )
        for r in line_dedup_against_index(delta, TABLE, width=W).collect()
    }
    assert got == {
        11: (2, 1, 0, "fresh new content"),
        13: (2, 0, 1, "tail bit here"),
        15: (2, 0, 0, "entirely novel document text here now"),
    }


def test_incremental_equals_batch_on_union(spark, line_index):
    """Probing a delta against the corpus index drops exactly the lines
    the BATCH operator would drop from the delta's documents when run
    over corpus ∪ delta (corpus doc_ids all smaller, so corpus lines
    always win election)."""
    corpus_rows = [
        (0, "alpha beta gamma delta epsilon zeta", "web"),
        (2, "one two three four five six", "web"),
    ]
    delta_rows = [
        (11, "alpha beta gamma fresh new content", "web"),
        (13, "fresh new content one two three", "web"),
    ]
    batch = {
        r["doc_id"]: (r["n_removed"], r["text_clean"])
        for r in line_dedup(
            _docs(spark, corpus_rows + delta_rows), width=W
        ).collect()
        if r["doc_id"] >= 10
    }
    incr = {
        r["doc_id"]: (
            r["n_dup_index"] + r["n_dup_within"],
            r["text_clean"],
        )
        for r in line_dedup_against_index(
            _docs(spark, delta_rows), TABLE, width=W
        ).collect()
    }
    assert batch == incr


def test_index_append_steady_state(spark, line_index):
    delta = _docs(spark, [(21, "brand new lines here today ok", "web")])
    write_line_index(delta, TABLE, width=W, n_buckets=4, mode="append")
    again = line_dedup_against_index(delta, TABLE, width=W).collect()
    assert again[0]["n_dup_index"] == again[0]["n_lines"]


def test_index_append_keeps_one_row_per_line(spark, line_index):
    """An append that repeats indexed lines adds only the new one: the
    repeated lines keep their first occurrence, and a probe reads the
    index as if the append had held the new line alone."""
    write_line_index(
        _docs(spark, [(41, "alpha beta gamma one two three brand new line", "web")]),
        TABLE, width=W, n_buckets=4, mode="append",
    )
    rows = spark.table(TABLE).collect()
    assert len(rows) == len({r["line"] for r in rows})
    assert {r["line"]: r["keep_doc"] for r in rows} == {
        "alpha beta gamma": 0,
        "delta epsilon zeta": 0,
        "one two three": 2,
        "four five six": 2,
        "brand new line": 41,
    }

    def probe(table):
        delta = _docs(
            spark, [(51, "alpha beta gamma brand new line fresh words here", "web")]
        )
        return sorted(
            tuple(r) for r in line_dedup_against_index(delta, table, width=W).collect()
        )

    overlapping = probe(TABLE)
    disjoint = "test_line_index_disjoint"
    tmp = tempfile.mkdtemp(prefix="line_idx_")
    write_line_index(
        _docs(spark, [(0, "alpha beta gamma delta epsilon zeta", "web"),
                      (2, "one two three four five six", "web")]),
        disjoint, width=W, n_buckets=4, path=os.path.join(tmp, "idx"),
    )
    try:
        write_line_index(
            _docs(spark, [(41, "brand new line", "web")]),
            disjoint, width=W, n_buckets=4, mode="append",
        )
        assert overlapping == probe(disjoint)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {disjoint}")
    assert overlapping == [(51, 3, 2, 0, "fresh words here")]


def test_index_probe_is_bucket_local(spark, line_index):
    """The index side must read bucket-local: zero Exchange above the
    index scan (the bucketed table's output partitioning already
    matches the join key). Broadcast disabled to pin the at-scale
    sort-merge shape."""
    delta = _docs(spark, [(31, "omicron pi rho sigma tau phi", "web")])
    idx = spark.table(TABLE)
    probe = (
        doc_lines(delta, width=W)
        .join(idx.withColumnRenamed("keep_doc", "doc_old"), "line")
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert plan.count("Exchange hashpartitioning") == 1, plan
