"""Line-granularity corpus hygiene: C4-style global line dedup,
CCNet-style per-source boilerplate stripping, and a persisted
line-hash index that makes line dedup incremental at ingest time.

These complement the token-k-gram span family (`dedup.py::
remove_duplicate_spans`): spans are OVERLAPPING windows and cut
positions out of otherwise-kept text; lines are NON-OVERLAPPING
segments that are kept or dropped whole — the granularity C4
(Raffel et al. 2020, §2.2 "we discarded all but one of any
three-sentence span occurring more than once") and CCNet
(Wenzek et al. 2020, §3.1 per-shard paragraph dedup) actually
deduplicate at.

Scale design mirrors the span family:

- segmentation is a map-only explode (no shuffle);
- first-occurrence election is ONE hash groupBy(line) with a partial
  min over the (doc_id, line_no) struct — map-side combined, never a
  row_number window (which would sort the exploded line table);
- boilerplate APPLICATION is a broadcast join: the elected frequent
  lines are distinct-line-sized (tiny next to the corpus), so
  stripping them costs the corpus zero exchanges;
- the persisted index is bucketed by line key, so an ingest delta
  dedups bucket-locally and the 100 TB corpus never re-shuffles.

Real corpora segment on '\\n' (``delim`` mode); the synthetic test
corpus has no newlines, so the default segmenter WRAPS the normalized
token stream into fixed-``width`` non-overlapping pseudo-lines — the
same fixed-window compromise `remove_duplicate_spans` documents, and
an oracle-replayable one (DuckDB list slicing reproduces it exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myasynstreamjoin_spark.functions.text import tokens
from myasynstreamjoin_spark.sources.tables import rebalance


def doc_lines(
    docs: DataFrame,
    width: int | None = 12,
    delim: str = "\n",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode documents into (doc_id, line_no, line) segments.

    ``width`` set: wrap the normalized token stream into
    non-overlapping ``width``-token lines (the synthetic-corpus /
    fixed-window mode; the tail line may be shorter). ``width=None``:
    split raw text on ``delim`` (real-corpus mode; lines are kept
    verbatim, not normalized, so reassembly is lossless).

    NULL-text docs are excluded, matching every dedup op in this
    package. Map-only; ``rebalance`` evens out the explode fan-out.
    """
    base = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id", *keep_cols, F.col(text_col).alias("__text")
    )
    if width is None:
        segs = F.split(F.col("__text"), F.lit(delim), -1)
    else:
        t = tokens("__text")
        n_lines = F.floor((F.size(t) + F.lit(width - 1)) / F.lit(width))
        segs = F.transform(
            F.sequence(F.lit(0), n_lines.cast("int") - 1),
            lambda i: F.array_join(
                F.slice(t, i * F.lit(width) + 1, width), " "
            ),
        )
    return rebalance(base).select(
        "doc_id",
        *keep_cols,
        F.posexplode(segs).alias("line_no", "line"),
    )


def _line_key(hashed: bool) -> Column:
    """Election key for a line: the string itself (exact, replayable)
    or its 8-byte xxhash64 (the 100 TB mode — the election shuffle
    carries ~6× fewer bytes; a 2⁻⁶⁴ collision wrongly drops one line)."""
    return F.xxhash64("line") if hashed else F.col("line")


def line_dedup(
    docs: DataFrame,
    width: int | None = 12,
    delim: str = "\n",
    min_chars: int = 1,
    hashed: bool = False,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level exact LINE dedup, keep-first — the C4 rule at line
    granularity: every line occurring more than once in the corpus
    (across documents or twice in one document) survives only at its
    first occurrence in (doc_id, line_no) order; every other
    occurrence is dropped whole and each document is reassembled from
    its surviving lines in order.

    Lines shorter than ``min_chars`` characters are STRUCTURAL and
    always kept (never elected, never dropped) — the standard guard
    that stops line dedup from eating empty lines, bullets, and
    headers that legitimately repeat. ``min_chars=1`` still exempts
    empty lines ('' has length 0).

    Scale shape: segmentation is map-only; election is one hash
    groupBy(line) with a partial min-struct; the drop set (duplicate
    occurrences only) anti-joins back; reassembly is one
    groupBy(doc_id) bounded by document length. The line table is
    localCheckpoint-ed once — three branches (election, probe,
    reassembly) would otherwise re-run the explode (same rule as
    `_span_election_dels`, SCALE.md persist-vs-checkpoint).

    Output: (doc_id, n_lines, n_removed, text_clean); an exact
    duplicate document empties entirely (text_clean = '').
    """
    sep = " " if width is not None else delim
    lines = doc_lines(docs, width, delim, text_col).localCheckpoint(
        eager=True
    )
    cand = lines.where(F.length("line") >= min_chars).select(
        _line_key(hashed).alias("__k"), "doc_id", "line_no"
    )
    first = cand.groupBy("__k").agg(
        F.min(F.struct("doc_id", "line_no")).alias("first"),
        F.count("*").alias("__c"),
    )
    drops = (
        cand.join(first.where(F.col("__c") >= 2), "__k")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("line_no") == F.col("first.line_no"))
            )
        )
        .select("doc_id", "line_no")
    )
    return _line_reassemble(lines, drops, sep)


def _line_reassemble(
    lines: DataFrame, drops: DataFrame, sep: str
) -> DataFrame:
    """(doc_id, n_lines, n_removed, text_clean): rebuild each doc from
    the (doc_id, line_no) occurrences not in ``drops``. Shared by the
    batch operator and the streaming twin so the two can never
    diverge on reassembly semantics.

    One pass over the line table (round 12): drops are MARKED with a
    left join and totals/kept/reassembly all come out of a single
    doc-grain aggregation — collect_list skips the NULL structs the
    kept-filter leaves, count("__d") counts only marked rows, and an
    all-dropped doc still has its group (text_clean = ''). The prior
    shape (anti-join + kept agg + a SECOND full agg of `lines` for
    totals + a doc-grain outer join) paid one extra corpus-scale pass
    and exchange for a count this agg produces for free (guide §2.4).

    Contract: ``drops`` must be unique per (doc_id, line_no) — a
    duplicate would fan out the mark join. Both callers satisfy it
    structurally: `line_dedup` emits each non-canonical occurrence
    once, and the streaming twin's cross/within drop sets are disjoint
    (anti-join complements) and each occurrence-unique."""
    marked = lines.join(
        drops.withColumn("__d", F.lit(True)), ["doc_id", "line_no"], "left"
    )
    keep = F.col("__d").isNull()
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count("__d").cast("long").alias("n_removed"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("line_no", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text_clean"),
        )
        .select("doc_id", "n_lines", "n_removed", "text_clean")
    )


def boilerplate_lines(
    docs: DataFrame,
    width: int | None = 12,
    delim: str = "\n",
    min_df: int = 2,
    frac: float = 0.0,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Elect per-``by``-group boilerplate: lines whose document
    frequency within the group reaches ``max(min_df, ceil(frac ×
    group_docs))`` — the CCNet-style signal that a line is template
    chrome (nav bars, footers, cookie banners), not content. Frequency
    is DOCUMENT frequency (a line twice in one doc is repetition, not
    boilerplate — that's `line_dedup`'s job).

    Output: one row per elected (by, line): (by, line, df, n_occ,
    group_docs) — the broadcast-sized artifact `strip_boilerplate` and
    `boilerplate_report` consume.

    Scale shape: distinct (by, line, doc_id) then groupBy(by, line) —
    two map-side-combinable hash aggs over the exploded line table;
    the per-group doc totals are a group-count agg small enough to
    broadcast-join back.

    The line explode deliberately RECOMPUTES per branch (here and in
    `boilerplate_report`/`strip_boilerplate`) instead of being
    localCheckpoint-ed once: it is a cheap map-only projection that
    pipelines into each branch's scan stage, and materializing the
    exploded string table measured ~2× SLOWER at sf1ish (7.5 s vs
    3.8 s) than three pipelined scans of the compressed source — the
    opposite trade from the span family's tokenize+gram table, whose
    recomputation is the expensive part (SCALE.md multi-branch rule
    applies to expensive branches, not to free ones).
    """
    lines = doc_lines(docs, width, delim, text_col, keep_cols=(by,))
    per_line = (
        lines.select(by, "line", "doc_id")
        .distinct()
        .groupBy(by, "line")
        .agg(F.count("*").cast("long").alias("df"))
    )
    n_occ = lines.groupBy(by, "line").agg(
        F.count("*").cast("long").alias("n_occ")
    )
    group_docs = (
        docs.where(F.col(text_col).isNotNull())
        .groupBy(by)
        .agg(F.count("*").cast("long").alias("group_docs"))
    )
    threshold = F.greatest(
        F.lit(min_df).cast("long"),
        F.ceil(F.lit(float(frac)) * F.col("group_docs")).cast("long"),
    )
    return (
        per_line.join(F.broadcast(group_docs), by)
        .where(F.col("df") >= threshold)
        .join(n_occ, [by, "line"])
        .select(by, "line", "df", "n_occ", "group_docs")
    )


def boilerplate_report(
    docs: DataFrame,
    width: int | None = 12,
    delim: str = "\n",
    min_df: int = 2,
    frac: float = 0.0,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group summary of what `strip_boilerplate` would remove:
    (by, n_boiler_lines distinct elected lines, n_lines_removed total
    occurrences, n_docs_touched, chars_removed). Groups with no
    boilerplate emit zeros, so the report always has one row per
    group — an oracle can pin the whole corpus shape.
    """
    boiler = boilerplate_lines(
        docs, width, delim, min_df, frac, by, text_col
    )
    lines = doc_lines(docs, width, delim, text_col, keep_cols=(by,))
    occ = lines.join(F.broadcast(boiler.select(by, "line")), [by, "line"])
    stats = occ.groupBy(by).agg(
        F.countDistinct("line").cast("long").alias("n_boiler_lines"),
        F.count("*").cast("long").alias("n_lines_removed"),
        F.countDistinct("doc_id").cast("long").alias("n_docs_touched"),
        F.sum(F.length("line")).cast("long").alias("chars_removed"),
    )
    groups = (
        docs.where(F.col(text_col).isNotNull()).select(by).distinct()
    )
    return groups.join(stats, by, "left").select(
        by,
        F.coalesce("n_boiler_lines", F.lit(0)).cast("long").alias("n_boiler_lines"),
        F.coalesce("n_lines_removed", F.lit(0)).cast("long").alias("n_lines_removed"),
        F.coalesce("n_docs_touched", F.lit(0)).cast("long").alias("n_docs_touched"),
        F.coalesce("chars_removed", F.lit(0)).cast("long").alias("chars_removed"),
    )


def strip_boilerplate(
    docs: DataFrame,
    width: int | None = 12,
    delim: str = "\n",
    min_df: int = 2,
    frac: float = 0.0,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Produce the cleaned corpus: every elected boilerplate line
    (see `boilerplate_lines`) is dropped from every document in its
    group; documents are reassembled from surviving lines in order.

    The elected set is broadcast, so the corpus pays NO exchange for
    the strip itself — only the per-doc reassembly groupBy. At 100 TB
    this is the shape that matters: election cost is line-grain and
    paid once; application is a broadcast hash anti-join.

    Output: (doc_id, by, n_lines, n_removed, text_clean).
    """
    sep = " " if width is not None else delim
    boiler = boilerplate_lines(
        docs, width, delim, min_df, frac, by, text_col
    )
    lines = doc_lines(docs, width, delim, text_col, keep_cols=(by,))
    # Mark elected lines with a broadcast left join and produce totals,
    # removed-counts and the reassembled text in ONE doc-grain
    # aggregation (round 12, the `_line_reassemble` fold): the prior
    # shape anti-joined, aggregated the kept lines, aggregated the FULL
    # line table a second time for totals, and outer-joined the halves.
    # boiler is unique per (by, line) — one row per elected line — so
    # the mark join cannot fan out.
    marked = lines.join(
        F.broadcast(
            boiler.select(by, "line").withColumn("__b", F.lit(True))
        ),
        [by, "line"],
        "left",
    )
    keep = F.col("__b").isNull()
    return (
        marked.groupBy("doc_id", by)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count("__b").cast("long").alias("n_removed"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("line_no", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text_clean"),
        )
        .select("doc_id", by, "n_lines", "n_removed", "text_clean")
    )


# ---------------------------------------------------------------------------
# Persisted line index: incremental line dedup at ingest time
# ---------------------------------------------------------------------------


def write_line_index(
    docs: DataFrame,
    table: str = "line_index",
    width: int | None = 12,
    delim: str = "\n",
    min_chars: int = 1,
    n_buckets: int = 32,
    text_col: str = "text",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's line set as a parquet table BUCKETED BY
    line — the third persisted ingest index (exact-doc fingerprints,
    MinHash bands, now lines): once the corpus has paid its one
    line-grain shuffle, every future ingest batch line-dedups against
    it bucket-locally (`line_dedup_against_index`) instead of
    re-scanning the corpus. One row per distinct eligible line:
    (line, keep_doc, keep_line_no) — the elected first occurrence, so
    appends of later sightings can be skipped entirely.

    ``mode="append"`` is the steady-state: after a delta is admitted,
    append its surviving NEW lines; appends land in the same buckets,
    so the exchange-free probe plans survive updates. An append
    skips every line the index already holds, so the index keeps one
    row per line (which `line_dedup_against_index` relies on) and an
    indexed line keeps its original first occurrence.
    """
    from myasynstreamjoin_spark.sources.sinks import write_bucketed

    firsts = (
        doc_lines(docs, width, delim, text_col)
        .where(F.length("line") >= min_chars)
        .groupBy("line")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("first"))
        .select(
            "line",
            F.col("first.doc_id").alias("keep_doc"),
            F.col("first.line_no").alias("keep_line_no"),
        )
    )
    spark = docs.sparkSession
    if mode == "append" and spark.catalog.tableExists(table):
        firsts = firsts.join(spark.table(table).select("line"), "line", "left_anti")
    write_bucketed(
        firsts, table, ["line"], n_buckets=n_buckets,
        sort_cols=["line"], path=path, mode=mode,
    )


def line_dedup_against_index(
    new_docs: DataFrame,
    index_table: str,
    width: int | None = 12,
    delim: str = "\n",
    min_chars: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Line-dedup an ingest delta against a `write_line_index` table
    AND against itself: a delta line is dropped if its text is already
    in the index (``dup_index``) or if an earlier delta occurrence
    exists (``dup_within``, first = min (doc_id, line_no), mirroring
    `line_dedup`); sub-``min_chars`` lines are structural and always
    kept. Documents are reassembled from surviving lines.

    The corpus is never rescanned: the index side reads bucket-local
    (``spark.table``), the delta pays one exchange into the index's
    bucket layout for the probe join, and the within-delta election
    reuses that join's rows. Every shuffle is delta-sized.

    Output: (doc_id, n_lines, n_dup_index, n_dup_within, text_clean).
    """
    sep = " " if width is not None else delim
    spark = new_docs.sparkSession
    idx = spark.table(index_table).select(
        "line", F.lit(True).alias("__in_idx")
    )
    lines = doc_lines(new_docs, width, delim, text_col).localCheckpoint(
        eager=True
    )
    cand = lines.where(F.length("line") >= min_chars)
    first = cand.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_no")).alias("first")
    )
    # The status table CARRIES the line text through the tagging joins
    # (round 12): `line` is the join key of both probes anyway, so
    # keeping it costs the joins nothing — and reassembly + all three
    # counts then come out of ONE doc-grain aggregation over status,
    # instead of re-joining `lines` for the kept text, aggregating
    # status a second time for the counts, and outer-joining the two
    # doc-grain halves (guide §2.4 — the same single-pass fold as
    # `_line_reassemble`).
    tagged = (
        cand.join(idx, "line", "left")
        .join(first, "line")
        .withColumn(
            "__status",
            F.when(F.col("__in_idx"), F.lit("dup_index"))
            .when(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("line_no") == F.col("first.line_no")),
                F.lit("kept"),
            )
            .otherwise(F.lit("dup_within")),
        )
        .select("doc_id", "line_no", "line", "__status")
    )
    # structural short lines rejoin as always-kept
    short = lines.where(F.length("line") < min_chars).select(
        "doc_id", "line_no", "line", F.lit("kept").alias("__status")
    )
    status = tagged.unionByName(short)
    return status.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((F.col("__status") == "dup_index").cast("long"))
        .cast("long")
        .alias("n_dup_index"),
        F.sum((F.col("__status") == "dup_within").cast("long"))
        .cast("long")
        .alias("n_dup_within"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__status") == "kept",
                            F.struct("line_no", "line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
