"""Property-based tests (hypothesis): invariants that must hold for
arbitrary inputs, not just the driver fixtures.

Spark-session-per-example would be prohibitively slow, so each property
generates a full small dataset per example and runs a handful of
examples against the shared session (deadline disabled; Spark job
latency dominates).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from myasynstreamjoin_spark.config import EngineConfig
from myasynstreamjoin_spark.operators.cost_model import batch_strategy
from myasynstreamjoin_spark.operators.skew import salted_agg, split_skew_agg
from myasynstreamjoin_spark.operators.star_join import (
    star_cardinality,
    star_cardinality_hypercube,
    star_join_hypercube_rows,
)
from myasynstreamjoin_spark.operators.stats import batch_stats
from myasynstreamjoin_spark.sources.fixtures import (
    decode_packed_lines,
    encode_packed_lines,
)

# Keys from the reference's demo key space plus awkward-but-legal words
# (the grammar is space/semicolon-delimited, so keys exclude both).
KEY = st.sampled_from(["A", "B", "C", "D", "E", "F", "zipf_head", "x1"])
ROW = st.tuples(
    st.integers(min_value=0, max_value=2**40),  # ts
    st.integers(min_value=0, max_value=2),      # source
    KEY,
)
ROWS = st.lists(ROW, min_size=1, max_size=60)

PROP_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(rows=ROWS)
@PROP_SETTINGS
def test_packed_codec_round_trips(spark, rows):
    """encode(decode) is the identity on (ts, source, key) multisets —
    the reference's Kafka text grammar (P1/P2) loses nothing."""
    df = spark.createDataFrame(rows, "ts long, source int, key string")
    back = decode_packed_lines(encode_packed_lines(df, pack_by="source"))
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@given(rows=ROWS, fanout=st.sampled_from([2, 4, 16]))
@PROP_SETTINGS
def test_salted_agg_equals_plain_agg(spark, rows, fanout):
    """Salting (PKG/X4) is a pure physical rewrite: counts per key are
    identical to the direct groupBy for any data and any fan-out."""
    df = spark.createDataFrame(rows, "ts long, source int, key string")
    plain = {(r["key"], r["cnt"]) for r in df.groupBy("key").agg(
        F.count("*").alias("cnt")).collect()}
    salted = {(r["key"], r["cnt"]) for r in salted_agg(
        df, ["key"], {"cnt": ("count", "*")}, fanout=fanout).collect()}
    assert salted == plain


@given(rows=ROWS)
@PROP_SETTINGS
def test_split_skew_agg_equals_plain_agg(spark, rows):
    """Heavy-only salting (APK/X7) is likewise semantics-preserving,
    whatever the actual skew of the data."""
    df = spark.createDataFrame(rows, "ts long, source int, key string")
    plain = {(r["key"], r["cnt"]) for r in df.groupBy("key").agg(
        F.count("*").alias("cnt")).collect()}
    got = {(r["key"], r["cnt"]) for r in split_skew_agg(
        df, ["key"], {"cnt": ("count", "*")}, fanout=8).collect()}
    assert got == plain


# Skewed F3 star rows (rel, ts, key, value): one hot key over a light
# tail, so the heavy-key rule splits the keys into both paths. With
# n_mappers=2 the rule is freq > 0.1 · total.
SKEW_CFG = EngineConfig(n_mappers=2)
STAR_ROW = st.tuples(
    st.integers(min_value=0, max_value=2),           # rel
    st.integers(min_value=0, max_value=2**40),       # ts
    st.sampled_from(["a", "b", "c", "d", "e", "f"]),  # tail key
    st.integers(min_value=0, max_value=9),           # value
)
SKEWED_STAR = st.tuples(
    st.lists(STAR_ROW, min_size=1, max_size=30),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 9)), max_size=30),
).map(lambda t: t[0] + [(r, 0, "hot", v) for r, v in t[1]])
STAR_SCHEMA = "rel int, ts long, key string, value int"


@given(rows=SKEWED_STAR, n_cells=st.sampled_from([2, 4, 8]))
@PROP_SETTINGS
def test_star_cardinality_hypercube_equals_counts_product(spark, rows, n_cells):
    """The salted J3 path (split_skew_agg over (key, rel)) counts the
    same per-key cardinalities as the plain counts-product."""
    star = spark.createDataFrame(rows, STAR_SCHEMA)
    want = {tuple(r) for r in star_cardinality(star).collect()}
    got = {tuple(r) for r in star_cardinality_hypercube(
        star, cfg=SKEW_CFG, n_cells=n_cells).collect()}
    assert got == want


@given(rows=SKEWED_STAR, cube=st.sampled_from([(1, 1, 1), (2, 2, 2), (3, 1, 2)]))
@PROP_SETTINGS
def test_hypercube_rows_static_equals_auto_equals_plain_join(spark, rows, cube):
    """Every cube plan materializes each joined triple exactly once:
    a static cube, the adaptive ``"auto"`` plan and the plain per-key
    3-way join give the same (key, x0, x1, x2) multiset."""
    star = spark.createDataFrame(rows, STAR_SCHEMA)
    rels = [
        star.where(F.col("rel") == r).select("key", F.col("value").alias(f"x{r}"))
        for r in range(3)
    ]
    plain = rels[0].join(rels[1], "key").join(rels[2], "key")
    want = sorted(tuple(r) for r in plain.select("key", "x0", "x1", "x2").collect())
    static = sorted(tuple(r) for r in star_join_hypercube_rows(
        star, cube=cube, cfg=SKEW_CFG).collect())
    auto = sorted(tuple(r) for r in star_join_hypercube_rows(
        star, cfg=SKEW_CFG, m=8).collect())
    assert static == want
    assert auto == want


@given(rows=SKEWED_STAR)
@PROP_SETTINGS
def test_batch_strategy_stats_equal_batch_stats(spark, rows):
    """The cost model reads the same count statistics as batch_stats."""
    kv = spark.createDataFrame(rows, STAR_SCHEMA).select("ts", "key", "value")
    cols = ["m_total", "k_keys", "max_cnt", "n_heavy", "n_singletons", "p1"]
    got = batch_strategy(kv, "key", SKEW_CFG).select(*cols).collect()
    assert got == batch_stats(kv, "key", SKEW_CFG).collect()


def test_reference_config_window_width(spark):
    """The literal reference configuration (1000 ms logic slots,
    stream.json:10) must flow through the window-assignment path: the
    rescaled 1 h default is a fixture choice, not a hardcode."""
    from pyspark.sql import functions as F

    from myasynstreamjoin_spark.config import REFERENCE_CONFIG
    from myasynstreamjoin_spark.sources.fixtures import with_window

    assert REFERENCE_CONFIG.lgw_ms == 1000
    df = spark.createDataFrame(
        [(999_999_999, "a"), (1_000_000_000, "b"), (2_500_000_000, "c")],
        "ts long, key string",
    )
    got = {
        (r["key"], r["ltw"])
        for r in with_window(df, REFERENCE_CONFIG).collect()
    }
    # 1000 ms = 1e9 ns per window: 0.999… s → window 0, 1 s → 1, 2.5 s → 2
    assert got == {("a", 0), ("b", 1), ("c", 2)}


# Arbitrary unicode-ish documents, including whitespace runs, empty-ish
# text, and duplicated content across source slices — the input class
# that fixture regeneration can drift into.
_WORD = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=6,
)
_TEXT = st.lists(_WORD, min_size=1, max_size=30).map(" ".join)
_DOC = st.tuples(st.integers(0, 10_000), _TEXT, st.sampled_from(["src0", "src1", "src2", "src3"]))


@given(docs=st.lists(_DOC, min_size=2, max_size=25, unique_by=lambda d: d[0]))
@PROP_SETTINGS
def test_bloom_decontaminate_equals_exact_for_any_corpus(spark, docs):
    """Bloom prefilter correctness-neutrality holds for ARBITRARY
    corpora (unicode words, dup texts across slices), not just the
    fixtures — result must equal the string-gram anti-join."""
    from myasynstreamjoin_spark.functions.dedup import bloom_decontaminate, shingle_docs

    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    bench = df.where(F.col("source").isin("src0", "src1"))
    train = df.where(~F.col("source").isin("src0", "src1"))
    got = sorted(
        r.doc_id
        for r in bloom_decontaminate(train, bench, k=3, m_bits=1 << 10).collect()
    )
    g = shingle_docs(df, 3, hashed=False)
    bg = (
        g.join(bench, "doc_id", "left_semi")
        .select(F.explode_outer("sh").alias("gr"))
        .distinct()
    )
    tg = g.join(train, "doc_id", "left_semi").select(
        "doc_id", F.explode_outer("sh").alias("gr")
    )
    bad = tg.join(bg, "gr", "left_semi").select("doc_id").distinct()
    want = sorted(
        r.doc_id for r in train.select("doc_id").join(bad, "doc_id", "left_anti").collect()
    )
    assert got == want


@given(docs=st.lists(_DOC, min_size=1, max_size=20, unique_by=lambda d: d[0]))
@PROP_SETTINGS
def test_bm25_matches_reference_formula(spark, docs):
    """BM25 scores equal a plain-Python computation of the same
    formula for arbitrary corpora (catches tokenization or pivot-order
    regressions, not just fixture luck)."""
    import math

    from myasynstreamjoin_spark.functions.retrieval import bm25_topk

    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    terms = ["the", "data"]
    rows = {r.doc_id: r.score for r in bm25_topk(df, terms, k=100).collect()}

    toks = {d[0]: d[1].lower().strip().split() for d in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = {
        t: sum(1 for tk in toks.values() if t in tk) for t in terms
    }
    expected = {}
    for did, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            if tf == 0:
                continue
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(tk) / avgdl))
        if s > 0:
            expected[did] = round(s, 4)
    assert set(rows) == set(expected)
    for did, sc in expected.items():
        assert abs(rows[did] - sc) <= 1e-3, (did, rows[did], sc)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)),
        min_size=1,
        max_size=40,
    )
)
@PROP_SETTINGS
def test_connected_components_vs_union_find(spark, rows):
    """Min-label propagation equals a classic union-find for arbitrary
    edge lists (chains, cliques, self-loops, dups)."""
    from myasynstreamjoin_spark.functions.cluster import connected_components

    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.node, r.component)
        for r in connected_components(df, "a", "b", max_iter=60).collect()
    }
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for a, b in rows:
        union(a, b)
    want = {(x, find(x)) for x in parent}
    assert got == want


# ---- round-4 late additions -----------------------------------------

CHANGE = st.tuples(
    st.integers(min_value=0, max_value=12),                  # key
    st.sampled_from(["I", "U", "D"]),                        # op
    st.integers(min_value=1, max_value=5),                   # gen
    st.integers(min_value=-1000, max_value=1000),            # payload
)


@given(
    base_keys=st.lists(st.integers(min_value=0, max_value=12),
                       unique=True, max_size=8),
    changes=st.lists(CHANGE, max_size=24),
)
@PROP_SETTINGS
def test_cdc_apply_matches_sequential_replay(spark, base_keys, changes):
    """cdc_apply == replaying the change log key-by-key in (gen, …)
    order against a dict — latest op wins, D removes, base passes
    through. Changes sharing (key, gen) would be ambiguous; dedup to
    the last-listed one to keep the model and engine aligned."""
    from myasynstreamjoin_spark.operators.cdc import cdc_apply

    seen = {}
    for k, op, gen, v in changes:
        seen[(k, gen)] = (op, v)
    uniq = [(k, op, gen, v) for (k, gen), (op, v) in seen.items()]

    base = spark.createDataFrame(
        [(k, k * 10) for k in base_keys] or [], "k long, v long"
    )
    if not uniq:
        merged = cdc_apply(
            base,
            spark.createDataFrame([], "k long, v long, op string, gen long"),
            keys=("k",), order_cols=("gen",),
        )
        assert {r.k: r.v for r in merged.collect()} == {k: k * 10 for k in base_keys}
        return
    ch = spark.createDataFrame(
        [(k, v, op, gen) for k, op, gen, v in uniq],
        "k long, v long, op string, gen long",
    )
    merged = cdc_apply(base, ch, keys=("k",), order_cols=("gen",))

    model = {k: k * 10 for k in base_keys}
    latest = {}
    for k, op, gen, v in uniq:
        if k not in latest or gen > latest[k][0]:
            latest[k] = (gen, op, v)
    for k, (gen, op, v) in latest.items():
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = v
    assert {r.k: r.v for r in merged.collect()} == model


@given(
    vals=st.lists(
        st.floats(min_value=-1000, max_value=1000,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=40,
    ),
    k=st.sampled_from([1, 2, 3]),
)
@PROP_SETTINGS
def test_zscore_outliers_matches_float_model(spark, vals, k):
    """The integer cross-multiplied flag == the float |x-μ| > kσ rule
    on milli-unit-quantized values, for arbitrary data and k."""
    from myasynstreamjoin_spark.operators.stats import zscore_outliers

    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(vals)],
        "event_type string, event_id long, value double",
    )
    got = {r.event_id for r in zscore_outliers(df, k=k).collect()}

    xs = [int(math.floor(abs(v * 1000) + 0.5) * (1 if v >= 0 else -1)) for v in vals]
    n = len(xs)
    s, ss = sum(xs), sum(x * x for x in xs)
    expect = {
        i for i, x in enumerate(xs)
        if (n * x - s) ** 2 > k * k * (n * ss - s * s)
    }
    assert got == expect


@given(
    weights=st.lists(
        st.floats(min_value=0.001, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=30,
    ),
    k=st.sampled_from([1, 5, 10]),
)
@PROP_SETTINGS
def test_weighted_sample_matches_key_model(spark, weights, k):
    """The selected set == the top-k of the ln(u)/w key computed in
    plain Python from the same md5 uniforms (exact replay)."""
    import hashlib
    import math

    from myasynstreamjoin_spark.functions.pipeline import weighted_sample_k

    df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)], "doc_id long, w double"
    )
    got = {r.doc_id for r in weighted_sample_k(df, "w", k=k).collect()}

    def key(i, w):
        h = hashlib.md5(f"{i}wrs".encode()).hexdigest()[:4]
        u = ((int(h, 16) % 65536) + 0.5) / 65536.0
        return (math.log(u) / w, -i)

    expect = {
        i for i, _ in sorted(
            enumerate(weights), key=lambda t: key(t[0], t[1]), reverse=True
        )[:k]
    }
    assert got == expect


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=8).map(" ".join),
        min_size=1, max_size=12,
    ),
    phrase=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3).map(
        " ".join
    ),
)
@PROP_SETTINGS
def test_phrase_search_matches_python_scan(spark, texts, phrase):
    """Occurrence counts == a naive Python sliding-window scan over
    the same tokenization, for arbitrary corpora and phrases."""
    from myasynstreamjoin_spark.functions.retrieval import phrase_search

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r.n_matches for r in phrase_search(docs, phrase).collect()}

    terms = phrase.split()
    expect = {}
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split()]
        if t.strip() == "":
            toks = [""]
        n = sum(
            1
            for j in range(len(toks) - len(terms) + 1)
            if toks[j : j + len(terms)] == terms
        )
        if n > 0:
            expect[i] = n
    assert got == expect


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    ),
    nb=st.sampled_from([1, 5, 20]),
)
@PROP_SETTINGS
def test_histogram_matches_python_model(spark, vals, nb):
    from myasynstreamjoin_spark.operators.relational import equi_width_histogram

    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    got = {r.bucket: r.n for r in
           equi_width_histogram(df, "value", n_buckets=nb).collect()}

    def q(v):
        x = v * 1000
        return int(math.floor(abs(x) + 0.5) * (1 if x >= 0 else -1))

    xs = [q(v) for v in vals]
    mn, mx = min(xs), max(xs)
    expect = {}
    for x in xs:
        b = ((x - mn) * nb) // (mx - mn + 1)
        expect[b] = expect.get(b, 0) + 1
    assert got == expect
    assert sum(got.values()) == len(vals)


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
@PROP_SETTINGS
def test_pareto_frontier_equals_bruteforce(spark, pts):
    """Skyline == brute-force dominance filter for arbitrary small-grid
    points (heavy ties by construction)."""
    from myasynstreamjoin_spark.operators.relational import pareto_frontier

    rows = [(i, x, float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x int, y double")
    got = {r.id for r in pareto_frontier(df, x="x", y="y", payload=["id"]).collect()}
    brute = {
        i
        for i, x, y in rows
        if not any(
            bx >= x and by >= y and (bx > x or by > y) for _, bx, by in rows
        )
    }
    assert got == brute


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.integers(min_value=0, max_value=50),  # ts
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=40,
    )
)
@PROP_SETTINGS
def test_markov_matches_python_model(spark, rows):
    """Transition counts equal a plain-Python bigram count over each
    user's (ts, event_id)-ordered sequence."""
    from collections import Counter

    from myasynstreamjoin_spark.operators.sessions import transition_matrix

    data = [(u, t, i, e) for i, (u, t, e) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id long, ts long, event_id long, event_type string"
    )
    seqs = {}
    for u, t, i, e in sorted(data, key=lambda r: (r[1], r[2])):
        seqs.setdefault(u, []).append(e)
    expected = Counter()
    for seq in seqs.values():
        for a, b in zip(seq, seq[1:]):
            expected[(a, b)] += 1
    got = {
        (r.from_type, r.to_type): r.n for r in transition_matrix(df).collect()
    }
    assert got == dict(expected)


@given(
    old=st.dictionaries(
        st.integers(min_value=0, max_value=15),
        st.sampled_from(["x", "y", ""]),
        max_size=12,
    ),
    new=st.dictionaries(
        st.integers(min_value=0, max_value=15),
        st.sampled_from(["x", "y", ""]),
        max_size=12,
    ),
)
@PROP_SETTINGS
def test_snapshot_diff_matches_dict_diff(spark, old, new):
    """snapshot_diff == the obvious dict diff for arbitrary key/value
    snapshots (including empty-string values)."""
    from myasynstreamjoin_spark.operators.cdc import snapshot_diff

    o = spark.createDataFrame(
        [(k, v) for k, v in old.items()] or [(None, None)], "k long, v string"
    ).where(F.col("k").isNotNull())
    n = spark.createDataFrame(
        [(k, v) for k, v in new.items()] or [(None, None)], "k long, v string"
    ).where(F.col("k").isNotNull())
    got = {r.k: r.change for r in snapshot_diff(o, n, keys=("k",)).collect()}
    expected = {}
    for k in old.keys() | new.keys():
        if k not in new:
            expected[k] = "removed"
        elif k not in old:
            expected[k] = "added"
        elif old[k] != new[k]:
            expected[k] = "changed"
    assert got == expected


# Tiny word pool → dense k-gram collisions: the input class where the
# canonical-first election and overlapping-removal policy actually bite.
_SPAN_DOC = st.tuples(
    st.integers(0, 500),
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0,
             max_size=12).map(" ".join),
)


def _remove_spans_model(docs, k):
    """Brute-force Python model of remove_duplicate_spans: global
    (doc_id, pos)-ordered canonical election, position-set union
    removal, whitespace-normalized reassembly."""
    import re
    from collections import Counter, defaultdict

    toked = {
        i: re.split(r"\s+", t.strip().lower())
        for i, t in docs
        if t is not None
    }
    occs = [
        (i, p, " ".join(toked[i][p:p + k]))
        for i in sorted(toked)
        for p in range(len(toked[i]) - k + 1)
    ]
    counts = Counter(g for _, _, g in occs)
    first = {}
    for i, p, g in occs:
        first.setdefault(g, (i, p))
    dels = defaultdict(set)
    for i, p, g in occs:
        if counts[g] >= 2 and first[g] != (i, p):
            dels[i].update(range(p, p + k))
    return {
        i: (
            len(toks),
            len(dels[i] & set(range(len(toks)))),
            " ".join(t for j, t in enumerate(toks) if j not in dels[i]),
        )
        for i, toks in toked.items()
    }


@given(docs=st.lists(_SPAN_DOC, min_size=1, max_size=12,
                     unique_by=lambda d: d[0]))
@PROP_SETTINGS
def test_remove_duplicate_spans_matches_python_model(spark, docs):
    from myasynstreamjoin_spark.functions.dedup import remove_duplicate_spans

    k = 3
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"])
        for r in remove_duplicate_spans(frame, k=k).collect()
    }
    assert got == _remove_spans_model(docs, k)


@given(docs=st.lists(st.tuples(st.integers(0, 500), _TEXT), min_size=1,
                     max_size=10, unique_by=lambda d: d[0]))
@PROP_SETTINGS
def test_char_entropy_matches_python_model(spark, docs):
    """Exact integer columns match a brute-force model exactly; the
    entropy float matches to ≤2 micro-nats (1-ulp libm ln skew can
    move one nano-nat per char type — the documented tolerance)."""
    import math
    import re
    from collections import Counter

    from myasynstreamjoin_spark.functions.text import char_entropy

    frame = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in char_entropy(frame).collect()}
    for i, t in docs:
        norm = re.sub(r"\s+", " ", t.strip().lower())
        counts = Counter(norm)
        if not counts:
            assert i not in got
            continue
        n = sum(counts.values())
        s = sum(
            math.floor((c / n) * math.log(n / c) * 1e9 + 0.5)
            for c in counts.values()
        )
        want = ((s + 500) // 1000) / 1e6
        assert got[i]["n_chars"] == n
        assert got[i]["n_distinct"] == len(counts)
        assert abs(got[i]["entropy"] - want) <= 2e-6


@given(docs=st.lists(
    st.tuples(
        st.integers(0, 300),
        st.one_of(st.none(), st.text(max_size=40)),
    ),
    min_size=1, max_size=10, unique_by=lambda d: d[0],
))
@PROP_SETTINGS
def test_warc_codec_round_trips_arbitrary_text(spark, docs):
    """encode→parse recovers exactly the non-null corpus for ARBITRARY
    unicode text — including \\r\\n runs, WARC-header-looking bodies,
    and empty strings (Content-Length framing is the only contract)."""
    from myasynstreamjoin_spark.sources.warc import (
        encode_warc_blobs,
        parse_warc_blobs,
        warc_documents,
    )

    frame = spark.createDataFrame(docs, "doc_id long, text string")
    back = sorted(
        tuple(r)
        for r in warc_documents(
            parse_warc_blobs(encode_warc_blobs(frame))
        ).collect()
    )
    assert back == sorted((i, t) for i, t in docs if t is not None)


@given(docs=st.lists(
    st.tuples(st.integers(0, 300), st.one_of(st.none(), _TEXT)),
    min_size=1, max_size=10, unique_by=lambda d: d[0],
))
@PROP_SETTINGS
def test_shard_manifest_matches_python_model(spark, docs):
    """Shard assignment, token counts (null → 0), and the order-free
    md5_32-sum checksum replicate exactly in plain Python."""
    import hashlib
    import re
    from collections import defaultdict

    from myasynstreamjoin_spark.functions.pipeline import shard_manifest

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def bucket(s, n):
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16) % n

    model = defaultdict(lambda: [0, 0, 0])
    for i, t in docs:
        norm = re.sub(r"\s+", " ", (t or "").strip().lower())
        nt = 0 if t is None else len(re.split(r"\s+", t.strip().lower()))
        m = model[bucket(str(i), 16)]
        m[0] += 1
        m[1] += nt
        m[2] += md5_32(norm)
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["shard"]: [r["n_docs"], r["n_tokens"], r["checksum"]]
        for r in shard_manifest(frame, n_shards=16).collect()
    }
    assert got == dict(model)


@given(docs=st.lists(
    st.tuples(
        st.integers(0, 300),
        st.lists(st.sampled_from(["tok", "x", "yy"]), min_size=0,
                 max_size=9).map(" ".join),
    ),
    min_size=1, max_size=10, unique_by=lambda d: d[0],
))
@PROP_SETTINGS
def test_pack_chunks_matches_python_model(spark, docs):
    """Head-to-tail packing replicates a brute-force model: per shard,
    concatenate token lists in doc_id order, cut every `budget`,
    drop the partial tail; n_docs = contributing documents."""
    import hashlib
    import re
    from collections import defaultdict

    from myasynstreamjoin_spark.functions.pipeline import pack_chunks

    budget, n_shards = 8, 4

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16) % n_shards

    stream = defaultdict(list)  # shard -> [(doc_id, tok), ...]
    for i, t in sorted(docs):
        toks = re.split(r"\s+", t.strip().lower())
        stream[bucket(str(i))].extend((i, tok) for tok in toks)
    want = {}
    for shard, pairs in stream.items():
        for seq in range(len(pairs) // budget):
            chunk = pairs[seq * budget : (seq + 1) * budget]
            want[(shard, seq)] = (
                len({i for i, _ in chunk}),
                [tok for _, tok in chunk],
            )
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["shard"], r["seq_id"]): (r["n_docs"], list(r["tokens"]))
        for r in pack_chunks(frame, budget=budget, n_shards=n_shards).collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**31 - 2),  # node
            st.integers(min_value=0, max_value=2**31 - 2),  # label
            st.integers(min_value=1, max_value=2**20),      # count
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lpa_packed_argmax_equals_struct_argmax(spark, rows):
    """The round-7 packed-BIGINT argmax (c·2³¹ + (2³¹−1−label)) must
    pick exactly the (max count, ties → smallest label) winner the
    struct max_by picks, for ANY (node, label, count) table in the
    packable id range."""
    frame = spark.createDataFrame(rows, "node long, label long, __c long")
    half = F.lit((1 << 31) - 1)
    packed = {
        r["node"]: r["label"]
        for r in frame.select(
            "node",
            (F.col("__c") * F.lit(1 << 31) + (half - F.col("label")))
            .alias("__s"),
        )
        .groupBy("node")
        .agg(F.max("__s").alias("__s"))
        .select("node", (half - F.col("__s") % F.lit(1 << 31)).alias("label"))
        .collect()
    }
    struct = {
        r["node"]: r["label"]
        for r in frame.groupBy("node")
        .agg(
            F.max_by(
                "label", F.struct(F.col("__c"), (-F.col("label")).alias("__t"))
            ).alias("label")
        )
        .collect()
    }
    # model: per node, the ROW maximizing (count, -label) — row-level
    # like both Spark expressions under test (the real LPA kernel
    # feeds pre-aggregated unique (node, label) rows; generated input
    # may carry duplicates, and summing them here would model a
    # DIFFERENT aggregate than the exprs compute)
    best: dict[int, tuple[int, int]] = {}
    for node, label, c in rows:
        if node not in best or (c, -label) > best[node]:
            best[node] = (c, -label)
    want = {node: -neg_label for node, (_, neg_label) in best.items()}
    assert packed == struct == want


@given(
    st.lists(
        st.integers(min_value=-127, max_value=127), min_size=1, max_size=24
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_embed_digest_fold_is_order_sensitive_and_exact(spark, vals):
    """The Σ i·q_i integer fold used by the q_embed_quant driver form:
    matches the Python model exactly, and any transposition of two
    UNEQUAL elements changes the digest (the property that makes it an
    ORDER-pinning digest, not a bag checksum)."""
    frame = spark.createDataFrame([(0, vals)], "vec_id long, q array<int>")
    weighted = F.zip_with(
        F.col("q"),
        F.sequence(F.lit(1), F.size("q")),
        lambda x, i: x.cast("long") * i.cast("long"),
    )
    got = frame.select(
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, b: a + b)
        .alias("d")
    ).first()["d"]
    assert got == sum((i + 1) * v for i, v in enumerate(vals))
    for j in range(len(vals) - 1):
        if vals[j] != vals[j + 1]:
            swapped = vals[:j] + [vals[j + 1], vals[j]] + vals[j + 2 :]
            assert sum((i + 1) * v for i, v in enumerate(swapped)) != got
            break
