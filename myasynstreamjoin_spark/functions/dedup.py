"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Beyond-reference surface (SURVEY.md §7 phase 5). Scale design:

- exact dedup: hash-groupBy on a 128-bit content fingerprint — one
  shuffle of (16-byte, id) pairs regardless of document size.
- n-gram Jaccard: inverted-index self-join on shingles (never an O(n²)
  cross join); shingle-frequency cap drops degenerate hot shingles the
  same way production near-dup pipelines do.
- MinHash/LSH: signatures via JVM-side xxhash64 over shingles, banded
  so candidate generation is a hash-groupBy; only candidates get exact
  verification.
- SimHash: 32-bit signature via per-bit majority vote, computed with
  explode + conditional aggregation (all JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from myasynstreamjoin_spark.functions.text import normalized, tokens
from myasynstreamjoin_spark.sources.tables import rebalance


def md5_32(c: Column) -> Column:
    """Oracle-replayable 32-bit hash: the first 8 hex digits of md5 as a
    long in [0, 2³²). An external SQL engine computes the identical
    value (DuckDB: ``CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)``),
    which is what lets MinHash/SimHash signatures — and therefore their
    LSH candidate sets — be verified by an independent oracle. md5 is
    ~2× the cost of xxhash64 but still JVM-side codegen; use xxhash64
    where replayability doesn't matter."""
    return F.conv(F.substring(F.md5(F.encode(c, "UTF-8")), 1, 8), 16, 10).cast("long")


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """The (aᵢ, bᵢ) affine MinHash coefficients, fixed by seed 42.
    Factored out so oracle SQL builders can embed the same literals."""
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(n_hashes)
    ]


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group documents by exact normalized content; per group report the
    survivor (min doc_id) and the copy count.

    Output: (fp, keep_id, n_copies).
    """
    fp = F.md5(F.encode(normalized(text_col), "UTF-8"))
    return (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _shingles_of_tokens(toks: Column, k: int, hashed: bool | str) -> Column:
    """k-gram shingle array over an ALREADY-MATERIALIZED token-array
    column. The caller must project the tokenization into a real column
    first: referencing the `tokens(...)` expression tree from inside
    the transform() lambda re-evaluates the regex split once per
    element_at reference (k per gram per row — measured 20 s for a
    5000-doc shingle pass at sf0.1 that runs in ~1 s materialized;
    common-subexpression elimination does not reach into higher-order
    function bodies).
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    if hashed == "md5":
        # oracle-replayable: 32-bit md5 of the k-gram STRING (the gram
        # string materializes transiently inside the hash call; the
        # stored array is still 8-byte longs). Collisions (~n²/2³³ per
        # corpus) are part of the operator's definition — the oracle
        # computes the same md5 values, so both engines collide
        # identically.
        gram = lambda i: md5_32(  # noqa: E731
            F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)])
        )
        short = F.array(md5_32(F.concat_ws(" ", toks)))
    elif hashed:
        gram = lambda i: F.xxhash64(  # noqa: E731
            *[F.element_at(toks, i + j + 1) for j in range(k)]
        )
        short = F.array(F.xxhash64(F.concat_ws(" ", toks)))
    else:
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        )
        short = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(n >= k, F.transform(idx, gram)).otherwise(short))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles of normalized text, de-duplicated.

    Built with transform over an index sequence — stays in codegen, no
    UDF. Documents shorter than k tokens yield their whole text as the
    single shingle.

    NOTE: this single-expression form re-tokenizes per gram reference;
    prefer ``shingle_docs`` (which materializes the token array first)
    anywhere the input is more than a handful of rows.
    """
    return _shingles_of_tokens(tokens(col), k, hashed=False)


def shingle_docs(docs: DataFrame, k: int = 3, hashed: bool | str = False) -> DataFrame:
    """(doc_id, sh) with sh the deduplicated shingle array, rebalanced
    for the downstream explode. Persist the result when several
    consumers branch from it — the explode is the expensive part and
    Spark otherwise recomputes it per branch.

    The tokenization is materialized BEFORE the gram transform by
    putting the rebalance exchange BETWEEN them (a bare projection
    doesn't survive — CollapseProject re-inlines it into the lambda,
    and the split expression then re-runs once per element_at
    reference, k× per gram: measured 21 s → ~1 s for the sf0.1 k=8
    pass). The exchange is also semantically where the rebalance
    belongs: it evens out work BEFORE the amplifying transform.

    ``hashed="md5"`` replaces each shingle string with the 32-bit
    ``md5_32`` hash instead — slower to build than xxhash64 but
    bit-replayable by an external SQL oracle (see ``md5_32``).

    ``hashed=True`` replaces each shingle string with a 64-bit hash —
    set equality (and therefore Jaccard) is preserved up to 64-bit
    collisions (~n²/2⁶⁵: irrelevant even at 100 TB corpus scale), while
    the cached footprint shrinks ~4× and downstream joins key on
    8-byte longs instead of ~25-byte strings. The hash is multi-arg
    ``xxhash64(tok_i, …, tok_{i+k-1})`` over the token slice directly —
    the k-gram strings are never materialized.
    """
    # text IS NOT NULL: guarantees sh is never null/empty (short docs
    # fall to the single-shingle branch), which is what makes
    # explode_outer ≡ explode for consumers — see note below.
    toked = rebalance(
        docs.where(F.col("text").isNotNull()).select(
            "doc_id", tokens("text").alias("__t")
        )
    )
    return toked.select(
        "doc_id", _shingles_of_tokens(F.col("__t"), k, hashed).alias("sh")
    )


# CONSUMER NOTE: explode the `sh` array with explode_outer, NOT explode.
# A plain explode makes Catalyst infer a `size(sh) > 0` filter
# (InferFiltersFromGenerate) and push it below the rebalance exchange,
# re-inlining the ENTIRE shingle expression with the tokenizing split
# substituted into every element_at reference — measured 21 s vs ~3 s
# for the sf0.1 k=8 pass. sh is non-empty by construction (null text
# filtered, short docs yield one shingle), so outer ≡ inner here and
# the inferred filter would never drop a row anyway.


def dup_span_stats(docs: DataFrame, k: int = 8, min_df: int = 2) -> DataFrame:
    """Per-document duplicated-span fraction: how much of each document
    consists of exact k-token spans that also appear in ≥ ``min_df``
    documents — the substring-level dedup signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §4's
    ExactSubstr, at span rather than suffix-array granularity) used to
    FILTER boilerplate-heavy docs rather than drop whole near-dups.

    Distinct from ngram_jaccard_pairs (pairwise whole-doc similarity):
    this is a per-doc quality score with no pair enumeration at all —
    one explode, one span-frequency aggregation, one semi-join back.
    Scale shape: span document-frequency is a hash groupBy (map-side
    combined); the explode is rebalanced like every shingle pass; at
    100 TB use shingle_docs(hashed=True) spans — string spans are kept
    here so an external oracle can replay the exact computation.

    Output: (doc_id, n_spans, n_dup_spans, dup_frac) — n_spans counts
    DISTINCT spans per doc; dup_frac = n_dup_spans / n_spans.
    """
    # persisted: three consumers branch from the exploded span table.
    # The per-doc RESULT (4 narrow columns, one row per document — tiny
    # next to the exploded spans) is materialized eagerly below so the
    # cache can be released before returning: without that, repeated
    # calls in a long-lived session accumulate cached span partitions
    # until LRU pressure evicts them. DISK_ONLY (round 8, corpus-grain
    # rule): memory-resident span partitions sit in the PROTECTED
    # storage region of unified memory, and at the 30× probe the 32
    # concurrent span-frequency partial aggs starved on what was left
    # (AGGREGATE_OUT_OF_MEMORY); on disk, execution gets the full pool
    # and the three consumers stream sequential re-reads.
    ex = shingle_docs(docs, k).select(
        "doc_id", F.explode_outer("sh").alias("span")
    ).persist(StorageLevel.DISK_ONLY)
    try:
        span_df = ex.groupBy("span").agg(F.countDistinct("doc_id").alias("__df"))
        # Mark hot spans with a left join and count totals + dup spans
        # in ONE doc-grain aggregation (round 12): the prior shape
        # aggregated the persisted span table a SECOND time for the
        # per-doc totals and outer-joined the doc-grain halves — one
        # extra corpus-scale pass for a count this agg produces for
        # free (guide §2.4). span_df is per-span unique (groupBy key),
        # so the mark join cannot fan out.
        hot = span_df.where(F.col("__df") >= min_df).select(
            "span", F.lit(True).alias("__d")
        )
        marked = ex.join(hot, "span", "left")
        # dup_frac: single exact-integer division, NOT round(double, 4) —
        # round() on a double is tie-fragile across engines (see
        # operators/sessions.py event_gaps); division of exact long
        # operands is one correctly-rounded IEEE op, identical everywhere.
        return (
            marked.groupBy("doc_id")
            .agg(
                F.count("*").alias("n_spans"),
                F.count("__d").cast("long").alias("n_dup_spans"),
            )
            .select(
                "doc_id",
                "n_spans",
                "n_dup_spans",
                (
                    F.col("n_dup_spans").cast("double")
                    / F.col("n_spans").cast("double")
                ).alias("dup_frac"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        ex.unpersist()


def remove_duplicate_spans(
    docs: DataFrame, k: int = 8, hashed: bool | str = False
) -> DataFrame:
    """Corpus-level exact-substring REMOVAL at token-k-gram granularity
    — the ExactSubstr dedup of Lee et al. 2022 (arXiv:2107.06499 §4.1,
    there via a suffix array; here on fixed k-token spans, the Spark-
    expressible granularity): every k-token span occurring more than
    once in the corpus (across documents OR twice in one document)
    keeps only its FIRST occurrence in (doc_id, pos) order; the k token
    positions of every other occurrence are cut and each document's
    text is reassembled from the surviving positions. Complements
    `dup_span_stats` (which only SCORES the duplication) — this is the
    op that actually produces the cleaned corpus.

    Semantics pinned for replayability: grams are computed ONCE on the
    original text; removal is the UNION of non-canonical occurrences'
    position ranges, so overlapping occurrences may cut into a kept
    span (greedy position-set removal — ExactSubstr shares the
    property); an exact duplicate document empties entirely
    (text_clean = '', n_removed = n_tokens). NULL-text docs are
    excluded, like every dedup op here. Output text is whitespace-
    normalized (tokens joined by single spaces).

    Scale shape: the gram explode is the standard rebalanced shingle
    pass (k·N amplification, never all-pairs); canonical-occurrence
    election is ONE hash groupBy(gram) with a partial min over the
    (doc_id, pos) struct (map-side combined — no window sort); deleted
    positions shuffle on (doc_id, pos) bounded by k × duplicate
    occurrences; reassembly is one groupBy(doc_id) whose collect_list
    is bounded by document length — corpora are wide, not deep. The
    token table is localCheckpoint-ed: three branches (grams, position
    table, totals) re-resolve it as clones, and the checkpoint also
    stops InferFiltersFromGenerate from re-inlining the tokenizer
    under the explode (SCALE.md HOF rule).

    ``hashed=True`` elects canonical occurrences on the 8-byte
    ``xxhash64`` of the token slice instead of the gram STRING — the
    100 TB setting: the election shuffle carries ~6× fewer bytes, and
    a 2⁻⁶⁴ collision (which would wrongly delete one non-duplicate
    span) is noise next to the tokenizer's own approximations.
    ``hashed="md5"`` uses the 32-bit oracle-replayable hash —
    replayable but collision-REAL at corpus scale (2³² space), so it
    exists for verification, not production. Default is exact strings.

    Output: (doc_id, n_tokens, n_removed, text_clean).
    """
    toked = _span_toked(docs)
    # ONE bounded control read over the checkpointed token table yields
    # BOTH downstream data-proportional widths (round 11): the total
    # token count (reassembly) and the gram-occurrence count (election)
    # — sum over docs of max(n−k+1, 0) is exactly the number of rows
    # _span_grams emits (docs shorter than k contribute none). This
    # replaces two separate full block passes: a count() over the
    # bigger checkpointed gram table plus a token sum over toked.
    b = toked.agg(
        F.sum(F.size("__t")).alias("n_tok"),
        F.sum(
            F.greatest(F.size("__t") - F.lit(k - 1), F.lit(0))
        ).alias("n_grams"),
    ).first()
    grams = _span_grams(toked, k, hashed)
    dels = _span_election_dels(grams, k, n_rows=int(b["n_grams"] or 0))
    return _span_reassemble(toked, dels, n_tok=int(b["n_tok"] or 0))


def _span_toked(docs: DataFrame) -> DataFrame:
    """(doc_id, __t): the rebalanced, checkpointed token table every
    span-removal stage branches from (see remove_duplicate_spans).

    DISK_ONLY checkpoint (blocks.py corpus-grain rule): the token
    table is corpus-scale bytes, and memory-resident checkpoint blocks
    from one query starve the heap of the next in a long-lived session
    — the round-8 30× probe measured a later query dying with a JVM
    heap OutOfMemoryError under the residue. Callers that materialize
    results should release via blocks.batch_scope."""
    from myasynstreamjoin_spark.blocks import ckpt_disk

    return ckpt_disk(
        rebalance(
            docs.where(F.col("text").isNotNull()).select(
                "doc_id", tokens("text").alias("__t")
            )
        )
    )


def _span_grams(toked: DataFrame, k: int, hashed: bool | str) -> DataFrame:
    """(doc_id, pos, gram): one row per k-gram occurrence, docs shorter
    than k contribute none."""
    t = F.col("__t")
    n = F.size(t)
    if hashed == "md5":
        gram = lambda i: md5_32(  # noqa: E731
            F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(k)])
        )
    elif hashed:
        gram = lambda i: F.xxhash64(  # noqa: E731
            *[F.element_at(t, i + j + 1) for j in range(k)]
        )
    else:
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(t, i + j + 1) for j in range(k)]
        )
    spans = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.struct(
            i.cast("int").alias("pos"), gram(i).alias("gram")
        ),
    )
    return (
        toked.where(n >= k)
        .select("doc_id", F.explode(spans).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )


def _span_election_dels(
    grams: DataFrame, k: int, disk: bool = True, n_rows: int | None = None
) -> DataFrame:
    """(doc_id, pos) delete positions: every occurrence of a ≥2-count
    gram except the (doc_id, pos)-min canonical one donates its k
    positions. One hash groupBy with a partial min over the struct —
    never a row_number window (which would sort the exploded gram
    table).

    The input branches twice here (election + join probe) and exchange
    reuse does NOT kick in for the differently-shaped subplans, so the
    gram construction would run per branch (verified: 2 Generate
    explodes, 0 ReusedExchange) — checkpoint it once (SCALE.md
    persist-vs-checkpoint rule). ``disk=True`` (the default since
    round 8, for the batch path too) puts the checkpoint on DISK_ONLY
    blocks — the blocks.py corpus-grain rule: the gram table is
    corpus-scale and memory-resident checkpoint residue from one query
    heap-OOMs the next in a long-lived session (measured at the 30×
    probe)."""
    if disk:
        from myasynstreamjoin_spark.blocks import ckpt_disk

        grams = ckpt_disk(grams)
    else:
        grams = grams.localCheckpoint(eager=True)
    # Data-proportional election width (round 8): the gram-grain
    # groupBy and the election SMJ sort the FULL occurrence table, and
    # at the interactive session width the 30× probe's ~200 M gram
    # rows leave sort partitions that exhaust execution memory under
    # full-thread concurrency (UNABLE_TO_ACQUIRE_MEMORY in SortExec
    # init — the honest noop probe caught it; count()-pruned plans
    # had masked it). The operator is lazy, so the width is baked into
    # the plan: one repartition on the election key, consumed by BOTH
    # the canonical-min agg and the join probe (same exchange, reused).
    # grams is checkpointed just above, so the count is a bounded read;
    # callers that already know the row count (remove_duplicate_spans
    # derives it from the token table in the same control read as the
    # reassembly width) pass it in and skip this block pass.
    n_grams = grams.count() if n_rows is None else n_rows
    session_w = int(
        grams.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    width = min(4096, max(session_w, -(-n_grams // 2_000_000)))
    if width > session_w:
        grams = grams.repartition(width, "gram")
    first = grams.groupBy("gram").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count("*").alias("__c"),
    )
    return (
        grams.join(first.where(F.col("__c") >= 2), "gram")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        # k delete positions per non-canonical occurrence; duplicates
        # are fine — the anti-join in reassembly is set-semantics anyway
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
    )


def _span_reassemble(
    toked: DataFrame, dels: DataFrame, n_tok: int | None = None
) -> DataFrame:
    """(doc_id, n_tokens, n_removed, text_clean): rebuild each doc from
    the token positions not in ``dels``."""
    pos_tok = toked.select(
        "doc_id", F.posexplode("__t").alias("pos", "tok")
    )
    # Same width rule as the election stage: the anti-join sorts and
    # the collect_list object agg both run token-grain, and per-TASK
    # volume (not per-group size, which is bounded by document length)
    # is what blows the interactive width at probe scale. toked is the
    # checkpointed token table, so the token count is a bounded read.
    # The post-join doc-grain repartition is consumed directly by the
    # agg (verified: the agg's own exchange is elided). Callers that
    # already hold the token count pass it in (one fewer block pass).
    if n_tok is None:
        n_tok = toked.agg(F.sum(F.size("__t"))).first()[0] or 0
    session_w = int(
        toked.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    width = min(4096, max(session_w, -(-n_tok // 2_000_000)))
    if width > session_w:
        pos_tok = pos_tok.repartition(width, "doc_id", "pos")
    kept = pos_tok.join(dels, ["doc_id", "pos"], "left_anti")
    if width > session_w:
        kept = kept.repartition(width, "doc_id")
    out = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_clean"),
        F.count("*").alias("__n_kept"),
    )
    return (
        toked.select("doc_id", F.size("__t").cast("long").alias("n_tokens"))
        .join(out, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold, via an
    inverted index: explode shingles → self-join on shingle → count
    common shingles per pair → |A∩B| / (|A|+|B|−|A∩B|).

    ``max_shingle_df`` caps the document frequency of index shingles:
    a shingle shared by thousands of documents contributes quadratic
    pairs but near-zero discrimination, so production near-dup indexes
    drop them; the cap is part of the operator's *definition* here
    (mirrored in the oracle SQL).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # Rebalance first: the shingle explode amplifies each row ~n_tokens×,
    # so byte-based scan partitioning under-parallelizes it badly.
    # Persisted at ARRAY grain (round 11): the expensive part is
    # tokenize+gram-hash, not the explode, and the array form is the
    # smaller cache footprint; every consumer (sizes, df-cap, index,
    # both sides of the self-join) re-explodes from cache with cheap
    # codegen. Caching the array form also lets per-doc set sizes come
    # from size(sh) — a map-only projection — instead of a
    # groupBy(doc_id) count over the exploded rows, which was built
    # TWICE (once per |A|/|B| join side: hashpartitioning(doc_a) and
    # (doc_b) exchanges don't canonicalize equal, so exchange reuse
    # never fires and each side re-aggregated the full cached shingle
    # table — one redundant corpus-scale pass; stage profile r11).
    # MEMORY_AND_DISK so a 100 TB run spills instead of OOMing. Hashed
    # shingles: the self-join below keys on 8-byte longs, and Jaccard
    # is unchanged (see shingle_docs).
    shd = shingle_docs(docs, k, hashed=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = shd.select("doc_id", F.explode_outer("sh").alias("shingle"))
    # Data-proportional pair-pipeline width (round 8): at the session's
    # interactive shuffle width (32 here) the shingle-grain SMJ sorts
    # and the quadratically-amplified pair aggregation hold millions of
    # rows per task at 30× probe scale and exhaust execution memory
    # under full-thread concurrency (UNABLE_TO_ACQUIRE_MEMORY — the
    # same class the graph edge build hit; AQE can coalesce small
    # partitions but never split oversized ones at the initial width).
    # This operator is LAZY, so a conf override can't help (the conf is
    # read at execution, not definition): the width is baked into the
    # plan with repartition instead. The sum is a bounded control
    # read (map-only over the cached arrays) that also primes the
    # persisted blocks every downstream branch re-reads; below ~16 M
    # index rows the session width wins and the plan is unchanged.
    n_sh = shd.agg(F.sum(F.size("sh"))).first()[0] or 0
    session_w = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    width = min(4096, max(session_w, -(-n_sh // 500_000)))
    sh_j = sh.repartition(width, "shingle") if width > session_w else sh
    # Per-doc set size straight off the cached array — shingle arrays
    # are array_distinct by construction (shingle_docs), so size(sh)
    # equals the exploded per-doc count exactly.
    sizes = shd.select("doc_id", F.size("sh").cast("long").alias("n_sh"))
    rare = sh_j.groupBy("shingle").agg(F.count("*").alias("df")).where(
        F.col("df") <= max_shingle_df
    )
    # The df-cap set feeds BOTH sides of the self-join below, and the
    # two consumer subtrees never canonicalize equal (doc_a vs doc_b
    # aliases), so without materialization the frequency aggregation —
    # a full pass + shuffle of the exploded shingle table — runs TWICE
    # (round 12, stage-level evidence: two 32+2-task agg stage pairs,
    # zero ReusedExchange). Checkpoint it once; DISK_ONLY per the
    # blocks.py corpus-grain rule (distinct shingles are corpus-scale
    # at 100 TB). Guide §2.4: remove the duplicated shuffle outright.
    from myasynstreamjoin_spark.blocks import ckpt_disk

    rare_set = ckpt_disk(rare.select("shingle"))
    indexed = sh_j.join(rare_set, "shingle")
    common = index_self_join(
        indexed, ["shingle"], count=True,
        agg_width=width if width > session_w else None,
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 32,
    k: int = 3,
    shingled: DataFrame | None = None,
    pre_hashed: bool | str = False,
) -> DataFrame:
    """MinHash signature per document: for seed i, min over shingles of
    a seeded hash of the shingle. Whole computation is array expressions
    over the shingle array — one projection, no shuffle, no UDF.

    ``pre_hashed``: the ``shingled`` frame already carries hash longs —
    ``True`` for xxhash64 longs (shingle_docs(hashed=True), folded to
    32 bits here), ``"md5"`` for md5_32 longs (already 32-bit, used
    verbatim so an oracle can replay the signature).

    Output: (doc_id, sig ARRAY<BIGINT>[n_hashes]).
    """
    # Universal-hash MinHash: hash each shingle ONCE (reduced to
    # 32 bits), then n_hashes affine transforms (aᵢ·h + bᵢ) mod p —
    # long arithmetic instead of n_hashes string hashes per shingle.
    # aᵢ < 2³⁰ keeps aᵢ·h < 2⁶² (ANSI mode: long overflow throws).
    #
    # The whole signature is ONE parsed SQL expression (round 11):
    # building the same tree with n_hashes × F.transform(…, lambda)
    # Column calls costs hundreds of py4j round-trips and measured
    # ~0.7 s of driver time per construction at n_hashes=32 vs ~0.15 s
    # for the single expr string — identical expressions, identical
    # signatures (verified value-equal), so only the Python-side
    # construction cost changes. Queries are constructed inside the
    # timed region of every bench pass, so driver-side plan-building
    # IS part of each query's wall (guide §1/§4: the Python boundary
    # exists at plan-construction time too).
    p = 4294967311  # prime > 2^32
    coeffs = minhash_coeffs(n_hashes)
    base = (
        shingled.select("doc_id", F.col("sh").alias("__sh"))
        if shingled is not None
        else rebalance(docs).select("doc_id", shingles("text", k).alias("__sh"))
    )
    if pre_hashed == "md5":
        to32 = "__sh"  # md5_32 values are already 32-bit
    elif pre_hashed:
        to32 = f"transform(__sh, s -> pmod(s, {1 << 32}L))"
    else:
        to32 = f"transform(__sh, s -> pmod(xxhash64(s), {1 << 32}L))"
    hashed = base.select("doc_id", F.expr(to32).alias("__h"))
    terms = ",".join(
        f"array_min(transform(__h, h -> pmod({a}L * h + {b}L, {p}L)))"
        for a, b in coeffs
    )
    return hashed.select("doc_id", F.expr(f"array({terms})").alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    verify_threshold: float | None = 0.5,
    replayable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH: split each signature
    into ``bands`` bands of n_hashes/bands rows; documents colliding on
    any band hash become candidates; candidates are verified with exact
    shingle Jaccard when ``verify_threshold`` is set.

    Candidate generation is groupBy(band, band_hash) — a single shuffle
    whose width is #docs × bands small rows, the property that makes
    MinHash the scale path where all-pairs Jaccard is quadratic.

    ``replayable=True`` switches every engine-internal hash for its
    oracle-replayable form: shingles become md5_32 longs (used verbatim
    as the MinHash input), and band identity is the EXACT slot tuple
    (rendered ``concat_ws(',')``) instead of an xxhash64 of it — so an
    external SQL engine reproduces the identical candidate set and the
    identical verified pairs, hash collisions included. Costs ~md5 vs
    xxhash64 per shingle plus wider band-join keys (~40 B strings vs
    8 B longs); the plan shape is unchanged.

    Output: (doc_a, doc_b[, jaccard]).
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands
    # One persisted shingle pass feeds signature generation and both
    # sides of the exact-verification join. Persisting matters: honest
    # cold-cache measurement shows dropping it costs 3× (the three
    # consumers recompute the shingle pipeline and the downstream
    # self-joins lose the cached-stats plan). Hashed long shingles keep
    # the cache build cheap (1.2 s vs 4.1 s for strings at sf0.1)
    # without changing any Jaccard value (see shingle_docs).
    mode = "md5" if replayable else True
    shingled = shingle_docs(docs, k, hashed=mode).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(docs, n_hashes, k, shingled=shingled, pre_hashed=mode)
    exploded = banded_signature_rows(sigs, bands, rows_per_band, replayable)
    cand = index_self_join(exploded, ["band", "bh"])
    if verify_threshold is None:
        return cand
    # Exact verification on candidates only (never all pairs): join the
    # per-doc shingle arrays onto each candidate pair and compute
    # Jaccard with array_intersect/array_union — work proportional to
    # |candidates|, which LSH keeps small.
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= verify_threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def index_self_join(
    indexed: DataFrame,
    keys: list[str],
    count: bool = False,
    agg_width: int | None = None,
) -> DataFrame:
    """THE candidate-generation join every pair operator routes
    through: equi-self-join of an inverted-index table on its index
    ``keys``, oriented (doc_a < doc_b). ``count=False`` deduplicates
    to the candidate set; ``count=True`` keeps the per-pair shared-key
    count (the |A∩B| numerator of Jaccard/winnow overlap). Centralized
    so (a) a regression to a cartesian/nested-loop candidate stage
    can't happen in one operator silently — tests/test_plans.py
    plan-locks this function and every pair op calls it — and (b) the
    orientation and dedup rules stay identical across winnow / ngram /
    prefix / simhash / minhash candidates.

    ``agg_width``: bakes a data-proportional width into the pair
    dedup/aggregation exchange (repartition on the pair key) — the
    candidate stream is quadratic per index bucket, so the session's
    interactive shuffle width can leave an OOM-scale row count per
    task at probe scale while the values are unchanged. None keeps
    the session width (small inputs, pre-banded candidates).

    Output: (doc_a, doc_b[, n_common]).
    """
    a = indexed.select(F.col("doc_id").alias("doc_a"), *keys)
    b = indexed.select(F.col("doc_id").alias("doc_b"), *keys)
    pairs = a.join(b, keys).where(F.col("doc_a") < F.col("doc_b"))
    if agg_width:
        pairs = pairs.repartition(agg_width, "doc_a", "doc_b")
    if count:
        return pairs.groupBy("doc_a", "doc_b").agg(
            F.count("*").alias("n_common")
        )
    return pairs.select("doc_a", "doc_b").distinct()


def banded_signature_rows(
    sigs: DataFrame,
    bands: int,
    rows_per_band: int,
    replayable: bool = False,
) -> DataFrame:
    """The exploded (doc_id, band, bh) band-identity table — the ONE
    definition of LSH band identity, shared by the batch candidate
    join (``minhash_lsh_pairs``) and the streaming near-dup index
    (streaming/neardup.py), so their pinned stream==batch pair
    equality cannot drift if the band scheme changes.

    Band identity is multi-arg xxhash64 over the band's signature
    slots directly — no per-band string rendering (the same
    no-intermediate-strings trick as hashed shingles). Replayable mode
    renders the exact slot tuple (``concat_ws(',')``) instead, so an
    external SQL oracle groups on the identical key.
    """

    def band_key(b: int) -> Column:
        slots = [
            F.col("sig").getItem(b * rows_per_band + r)
            for r in range(rows_per_band)
        ]
        if replayable:
            return F.concat_ws(",", *[s.cast("string") for s in slots])
        return F.xxhash64(*slots)

    band_cols = [
        F.struct(F.lit(b).alias("band"), band_key(b).alias("bh"))
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", "b.band", "b.bh")


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash signature: per token hash, each bit votes ±1; the
    signature's bit is 1 where the weighted vote is positive.

    Implemented as explode(tokens) → per-bit conditional sums →
    recombine. ``bits`` capped at 32 to keep the agg column count sane.
    The per-token hash is ``md5_32`` (not xxhash64) so an external SQL
    oracle computes bit-identical signatures — the same engine-choice
    trade as ``fingerprint`` (functions/text.py).

    Output: (doc_id, simhash BIGINT).
    """
    if bits > 32:
        raise ValueError("bits must be ≤ 32")
    tok = rebalance(docs).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    h = md5_32(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return voted.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 32,
    n_bands: int = 2,
    max_hamming: int = 1,
) -> DataFrame:
    """EXACT Hamming-neighbor join over SimHash signatures via banded
    pigeonholing (the Manku/Jain/Sarma 2007 near-dup lookup): split
    each ``bits``-bit signature into ``n_bands`` equal bands; two
    signatures within Hamming distance ``max_hamming`` < ``n_bands``
    MUST share at least one band verbatim (pigeonhole), so candidate
    generation is a lossless hash-groupBy on (band, value) and only
    candidates pay the bit_count(xor) verification.

    Scale shape: the band explode is ×n_bands on a (doc_id, long)
    table; the self-join keys on small ints; verification is two
    broadcast-joinable signature lookups. No all-pairs stage anywhere.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b,
    hamming ≤ max_hamming.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole needs max_hamming < n_bands")
    if bits % n_bands != 0:
        raise ValueError("bits must divide into equal bands")
    width = bits // n_bands
    mask = (1 << width) - 1
    sig = simhash(docs, bits).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for b in range(n_bands)
                ])
            ).alias("band"),
        ).select("doc_id", "band.b", "band.v")
        cand = index_self_join(bands, ["b", "v"])
        sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("__sa"))
        sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("__sb"))
        hd = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
        return (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .where(hd <= max_hamming)
            .select("doc_a", "doc_b", hd.cast("long").alias("hamming"))
            .localCheckpoint(eager=True)
        )
    finally:
        sig.unpersist()


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least
    ``min_shared`` distinct word k-grams with a held-out/benchmark
    document — the overlap check an LLM data pipeline runs before a
    corpus ships (k≈8-13 word n-grams is the published convention for
    eval-contamination scans).

    Scale: both corpora reduce to (gram-hash, id) pairs — 8-byte keys
    via the same multi-arg-xxhash64 shingle path as MinHash — and meet
    in ONE equi-join on the hash. The benchmark side is tiny by
    definition (eval sets), so Spark broadcasts it and the 100 TB train
    side never shuffles; per-pair gram counts come out of the one
    post-join aggregate. A k-gram shared by half the corpus would blow
    up the join the same way a hot shingle does in ngram_jaccard_pairs;
    at production scale cap benchmark-gram document frequency first.

    Output: (train_id, bench_id, n_shared).
    """
    t = (
        shingle_docs(train, k, hashed=True)
        .select(F.col("doc_id").alias("train_id"), F.explode_outer("sh").alias("g"))
    )
    b = (
        shingle_docs(bench, k, hashed=True)
        .select(F.col("doc_id").alias("bench_id"), F.explode_outer("sh").alias("g"))
    )
    return (
        t.join(F.broadcast(b), "g")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    k: int = 8,
    m_bits: int = 1 << 17,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-prefiltered exact decontamination: the training documents
    that share NO word k-gram with any benchmark document — i.e. the
    docs `contamination_pairs` would pass. The answer is EXACT (equal
    to the anti-join); the Bloom filter is purely a constant-size
    prefilter, so false positives cost extra verification work but
    never change the result.

    Why a Bloom at 100 TB: `contamination_pairs` broadcasts the bench
    gram SET, which works while eval suites are small, but a
    decontamination sweep against a large held-out corpus can carry
    ~10⁸ distinct grams (~1 GB as a broadcast set). The Bloom bitmap is
    ``m_bits`` regardless of bench size (16 KiB/128 Kib here; size
    m ≈ 10× |bench grams| for ~1 % FPR at 4 hashes in production).
    Train grams test against the bitmap in-scan (map-side, codegen),
    so only Bloom-POSITIVE grams — true matches plus the ~1 % FPR —
    reach the exact verification join. The big side is pruned BEFORE
    the shuffle, which is the whole game at scale.

    Mechanics (all JVM-side): gram hashes are the collision-free
    64-bit ``xxhash64`` shingles (the oracle checks the RESULT via an
    exact string-gram anti-join, so the hash itself never needs to be
    replayed — 32-bit md5_32 would add ~n²/2³³ false contaminations at
    corpus scale for nothing); double hashing
    ``pos_i = (h1 + i·h2) mod m`` with h2 forced odd (m is a power of
    two) gives ``n_hashes`` bit positions. The bitmap is built as
    per-64-bit-word OR-masks aggregated to ONE row holding a
    map<word, mask> (≤ m/64 entries), then crossJoin-broadcast to the
    train scan; membership unrolls to ``n_hashes`` element_at+bitwise
    tests — no HOF lambdas, no Python.

    Output: (doc_id) of surviving (uncontaminated) train docs.
    """
    def positions_sql(g: str) -> list[str]:
        # SQL-text twins of the original Column builders (round 12,
        # guide §4/§7.3 — the Python boundary at plan-construction
        # time, the r11 minhash treatment): the ~100 py4j round trips
        # of per-hash Column construction were ~0.4 s of the query's
        # measured construct cost; ONE parsed selectExpr per site
        # builds the identical expression tree JVM-side.
        h1 = f"pmod({g}, {m_bits})"
        # h2 from the HIGH bits (h1 already consumed the low ones) with
        # a small multiplier so the product stays < 2^34 — ANSI mode
        # makes a long overflow an error, not a wrap. Forced odd =>
        # relatively prime to the power-of-two m.
        h2 = (
            f"(pmod(pmod(shiftright({g}, 15), {m_bits}) * {0x85EB}, {m_bits})"
            f" | CAST(1 AS BIGINT))"
        )
        return [f"pmod({h1} + {i} * {h2}, {m_bits})" for i in range(n_hashes)]

    # Checkpointed: BOTH the bitmap build and the exact-verification
    # join read this set down branches of ONE plan — persist can miss
    # for deduplicated branch clones and leaks across calls in a
    # long-lived session (SCALE.md persist-vs-checkpoint rule); the
    # bench side is small by definition, so the eager cut is cheap.
    bench_grams = (
        shingle_docs(bench, k, hashed=True)
        .select(F.explode_outer("sh").alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # No distinct on the exploded positions: bit_or is idempotent, so
    # duplicate (word, bit) contributions cannot change the bitmap —
    # the old pre-distinct was one whole extra Exchange for nothing
    # (round 11; the Q16 lesson applied to the bitmap build).
    pos = bench_grams.selectExpr(
        f"explode(array({', '.join(positions_sql('g'))})) AS p"
    )
    words = pos.select(
        (F.col("p") / 64).cast("int").alias("word"),
        F.pmod(F.col("p"), F.lit(64)).cast("int").alias("bit"),
    )
    # <= m_bits/64 rows fold into one map row; the single-reducer final
    # aggregate is over word-masks, not grams, so it is O(m), not O(bench).
    # PySpark's F.shiftleft only takes a literal shift count, so the
    # column-valued shifts go through F.expr on named columns.
    mask_of_bit = F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
    bitmap = (
        words.groupBy("word")
        .agg(F.bit_or(mask_of_bit).alias("mask"))
        .groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bm"))
    )

    tg = shingle_docs(train, k, hashed=True).select(
        "doc_id", F.explode_outer("sh").alias("g")
    )
    proj = ["doc_id", "g"]
    for i, p in enumerate(positions_sql("g")):
        proj.append(f"CAST(({p}) / 64 AS INT) AS __w{i}")
        proj.append(f"CAST(pmod({p}, 64) AS INT) AS __b{i}")
    member = " AND ".join(
        f"((coalesce(element_at(bm, __w{i}), CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), __b{i})) != 0)"
        for i in range(n_hashes)
    )
    candidates = (
        tg.selectExpr(*proj)
        .crossJoin(F.broadcast(bitmap))
        .where(member)
        .select("doc_id", "g")
    )
    # Exact verification on Bloom-positives only: a gram-level semi-join
    # against the true bench gram set. |candidates| ≈ |true matches| +
    # FPR·|train grams|, so this join is tiny relative to the corpus.
    contaminated = (
        candidates.join(bench_grams, "g", "left_semi").select("doc_id").distinct()
    )
    return (
        train.select("doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
    )


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    selection rule): hash every ORDERED k-token gram, slide a window of
    ``w`` consecutive hashes, keep each window's minimum. Any shared
    token run of length ≥ w + k − 1 between two documents is guaranteed
    to surface as a shared fingerprint — a positional/local dup signal
    MinHash (a global set sketch) cannot give.

    Hashes are ``md5_32`` so an external SQL oracle replays the exact
    fingerprint sets, collisions included. Documents shorter than k
    tokens fingerprint their whole text; hash sequences shorter than w
    contribute their single minimum.

    Scale shape: two narrow projections separated by rebalance
    exchanges (the exchange is the anti-CollapseProject barrier — see
    ``shingle_docs``; without it the gram-hash construction re-inlines
    into the window lambda and re-evaluates once per ``slice``
    reference). Window minima cost O(m·w) long comparisons per doc,
    all inside codegen; no shuffle until the consumer aggregates.

    Output: (doc_id, fp) — distinct winnowed fingerprints per document.
    """
    toked = rebalance(
        docs.where(F.col("text").isNotNull()).select(
            "doc_id", tokens("text").alias("__t")
        )
    )
    t = F.col("__t")
    n = F.size(t)
    gram = lambda i: md5_32(  # noqa: E731
        F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(k)])
    )
    grams = F.when(
        n >= k, F.transform(F.sequence(F.lit(0), n - k), gram)
    ).otherwise(F.array(md5_32(F.concat_ws(" ", t))))
    hashed = rebalance(toked.select("doc_id", grams.alias("__h")))
    h = F.col("__h")
    m = F.size(h)
    wins = F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(1), m - w + 1),
            lambda i: F.array_min(F.slice(h, i, w)),
        ),
    ).otherwise(F.array(F.array_min(h)))
    return hashed.select(
        "doc_id", F.explode_outer(F.array_distinct(wins)).alias("fp")
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_common: int = 2,
    max_fp_df: int = 1000,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_common`` winnowed fingerprints —
    the MOSS plagiarism-candidate join, via the same inverted-index
    shape as ``ngram_jaccard_pairs``: explode fingerprints, cap
    degenerate hot fingerprints at document frequency ``max_fp_df``
    (part of the operator's definition, mirrored in the oracle), then a
    hash self-join + pair count. Never an all-pairs cross join.

    Output: (doc_a, doc_b, n_common) with doc_a < doc_b.
    """
    fp = winnow_fingerprints(docs, k, w).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        rare = (
            fp.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_fp_df)
        )
        indexed = fp.join(rare.select("fp"), "fp")
        return (
            index_self_join(indexed, ["fp"], count=True)
            .where(F.col("n_common") >= min_common)
            .localCheckpoint(eager=True)
        )
    finally:
        fp.unpersist()


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_k: int | None = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs family, Xiao et al. 2008): all document pairs with
    set Jaccard ≥ ``threshold``, with candidate generation provably
    lossless — unlike MinHash LSH there is no recall tradeoff.

    The sets are md5-hashed ``shingle_k``-gram shingles (the
    granularity at which near-duplication is meaningful — unigram BAGS
    of same-domain documents overlap ~90% even for unrelated texts,
    measured 964 k "pairs" vs 256 real ones on the sf0.1 corpus; pass
    ``shingle_k=None`` for raw-token sets when inputs are short
    strings like names). md5 hashing keeps the whole computation,
    collisions included, replayable by an external SQL oracle.

    Prefix filter: order each document's shingles rarest-first (by
    corpus document frequency, ties by value); two sets with Jaccard ≥
    t MUST share an element within each other's first
    ``m − ⌈t·m⌉ + 1`` elements, so only those prefixes are indexed,
    and the rare-first ordering keeps hot elements out of prefixes for
    all but the documents that have nothing rarer — the candidate join
    stays near-linear where a full inverted index is quadratic in
    hot-element document frequency.

    Verification is per-candidate-pair exact: array_intersect over the
    (bounded, per-doc) sets — JVM-side, no UDF, no re-explode.

    Plan shape: DF pass (hash groupBy) → rank-and-slice pass → prefix
    explode (≈(1−t)·set size) → hash self-join → broadcast-verified
    pairs. The set table is persisted across its three consumers and
    released after the result materializes.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    if shingle_k is not None:
        sets = shingle_docs(docs, shingle_k, hashed="md5").select(
            "doc_id", F.col("sh").alias("s")
        )
    else:
        sets = rebalance(
            docs.where(F.col("text").isNotNull()).select(
                "doc_id", F.array_distinct(tokens("text")).alias("s")
            )
        )
    base = sets.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ex = base.select("doc_id", F.explode_outer("s").alias("tok"))
        dfreq = ex.groupBy("tok").agg(F.count("*").alias("df"))
        ranked = (
            ex.join(dfreq, "tok")
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "tok"))),
                    lambda st: st["tok"],
                ).alias("ordered")
            )
        )
        m = F.size("ordered")
        plen = m - F.ceil(F.lit(threshold) * m).cast("int") + 1
        pref = ranked.select(
            "doc_id", F.explode_outer(F.slice("ordered", 1, plen)).alias("tok")
        )
        cand = index_self_join(pref, ["tok"])
        sa = base.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
        sb = base.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
        ni = F.size(F.array_intersect("sa", "sb"))
        jac = ni.cast("double") / (F.size("sa") + F.size("sb") - ni)
        return (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .where(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    k: int = 8,
    bench_col: str = "bench",
) -> DataFrame:
    """Per-benchmark leak report — the multi-benchmark form of the
    decontamination gate: real pipelines screen one training corpus
    against MANY held-out suites at once and publish a per-suite
    overlap table, not a single pass/fail. ``bench`` carries a
    ``bench_col`` label naming each suite.

    Scale shape: the training corpus reduces to its per-doc distinct
    gram table ONCE (the standard rebalanced shingle pass) and is
    probed by the union of all suites' gram sets in ONE broadcast hash
    join — benchmark corpora are small by definition, so adding suites
    costs broadcast bytes, never extra train scans. Suites with zero
    leaks still report (left join from the suite totals).

    Output: (bench, n_bench_docs, n_train_docs_hit, n_gram_hits) —
    n_gram_hits counts (train_doc, gram) pairs over per-doc DISTINCT
    grams, so a gram repeated inside one training doc counts once.
    """
    tg = shingle_docs(train, k).select(
        F.col("doc_id").alias("train_doc"), F.explode_outer("sh").alias("g")
    )
    bg = (
        shingle_docs(bench, k)
        .join(bench.select("doc_id", bench_col), "doc_id")
        .select(F.col(bench_col).alias("bench"), F.explode_outer("sh").alias("g"))
        .distinct()
    )
    totals = bench.groupBy(F.col(bench_col).alias("bench")).agg(
        F.count("*").alias("n_bench_docs")
    )
    hits = tg.join(F.broadcast(bg), "g").groupBy("bench").agg(
        F.countDistinct("train_doc").alias("n_train_docs_hit"),
        F.count("*").alias("n_gram_hits"),
    )
    return totals.join(hits, "bench", "left").select(
        "bench",
        "n_bench_docs",
        F.coalesce("n_train_docs_hit", F.lit(0)).cast("long").alias(
            "n_train_docs_hit"
        ),
        F.coalesce("n_gram_hits", F.lit(0)).cast("long").alias("n_gram_hits"),
    )


def soft_dedup_weights(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SoftDeDup-style duplicate *weighting*: instead of dropping the
    copies in an exact-duplicate cluster, keep every document and give
    it weight 1/n_copies, so the cluster contributes exactly one
    document's worth of training mass while preserving within-cluster
    diversity (ordering, source attribution). Weight is carried as an
    exact integer ppm (``1_000_000 DIV n_copies``) so downstream sums
    stay BIGINT-deterministic and oracle-replayable.

    One shuffle: a count-only window over the content fingerprint — no
    sort (no ORDER BY in the frame) and no second join pass. At 100 TB
    the fingerprint is 16 bytes/doc and clusters are tiny, so the
    window state per task is a single running count.

    Output: docs' columns + (n_copies, weight_ppm).
    """
    from pyspark.sql import Window

    fp = F.md5(F.encode(normalized(text_col), "UTF-8"))
    w = Window.partitionBy("__fp")
    return (
        docs.withColumn("__fp", fp)
        .withColumn("n_copies", F.count("*").over(w))
        .withColumn("weight_ppm", F.expr("1000000 DIV n_copies"))
        .drop("__fp")
    )


def soft_dedup_summary(docs: DataFrame, by: str = "source") -> DataFrame:
    """Per-group effective corpus size under soft dedup: raw doc/char
    counts next to duplication-discounted ones (Σ weight_ppm,
    Σ n_chars·weight_ppm). The gap between raw and effective columns
    is the duplication tax each group carries — the number a data-mix
    planner actually wants when duplicates cross group boundaries and
    hard dedup would mis-attribute the surviving copy.

    All-integer: ppm weights sum as BIGINT; no float appears anywhere.
    (Σ n_chars·weight_ppm fits BIGINT up to ~9·10¹² chars per group;
    at larger scale drop the unit to per-mille before summing.)

    Output: (by, n_docs, n_chars, eff_docs_ppm, eff_chars_ppm).
    """
    return (
        soft_dedup_weights(docs)
        .groupBy(by)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("weight_ppm").cast("long").alias("eff_docs_ppm"),
            F.sum(F.col("n_chars") * F.col("weight_ppm"))
            .cast("long")
            .alias("eff_chars_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental exact dedup against a persisted fingerprint index
# ---------------------------------------------------------------------------


def content_fp(text_col: str = "text") -> Column:
    """The canonical 16-byte content fingerprint every exact-dedup op in
    this module keys on: md5 of the normalized text. Factored out so the
    index writer, the delta join, and the streaming accumulators are
    guaranteed to agree byte-for-byte."""
    return F.md5(F.encode(normalized(text_col), "UTF-8"))


def write_fingerprint_index(
    docs: DataFrame,
    table: str = "fp_index",
    n_buckets: int = 32,
    text_col: str = "text",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's exact-dedup fingerprint index as a
    parquet table BUCKETED BY fp — the artifact that makes dedup
    INCREMENTAL: once the 100 TB corpus has paid its one fingerprint
    shuffle, every future ingest batch dedups against it with a
    bucket-local join instead of a corpus rescan (see
    ``incremental_dedup``). The index row is (fp, keep_id): 16 bytes of
    md5 plus the surviving doc_id, ~24 bytes/doc — a 100 TB corpus of
    ~100 G docs indexes into ~2.4 TB, itself bucketed so no consumer
    ever shuffles it again.

    ``mode="append"`` is the steady-state: after a delta is admitted,
    append its surviving fingerprints (``incremental_dedup``'s kept
    rows) — appends land as new files in the same buckets, so the
    exchange-free consumer plans survive updates.
    """
    from myasynstreamjoin_spark.sources.sinks import write_bucketed

    fps = (
        docs.select(content_fp(text_col).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    write_bucketed(
        fps, table, ["fp"], n_buckets=n_buckets,
        sort_cols=["fp"], path=path, mode=mode,
        single_file_per_bucket=True,
    )


def incremental_dedup(
    new_docs: DataFrame,
    index_table: str,
    text_col: str = "text",
) -> DataFrame:
    """Dedup an ingest delta against a ``write_fingerprint_index`` table
    AND against itself, tagging every delta row with its fate — the
    ingest-time half of exact dedup at 100 TB: the corpus is never
    rescanned; the delta pays ONE exchange (its fingerprint shuffle into
    the index's bucket layout) and the within-delta survivor election
    rides the join's partitioning as a sort-only window (no second
    exchange — plan-locked in tests/test_incremental_dedup.py).

    Fate column ``status``:
      * ``dup_index``  — content already in the index (drop),
      * ``dup_within`` — duplicate of an earlier delta row (drop),
      * ``kept``       — first sighting; admit and append its fp to the
        index (``write_fingerprint_index(..., mode="append")``).

    Ties within the delta go to the lowest doc_id, mirroring the
    ``keep_id`` of ``exact_dedup_stats``. Output: delta columns +
    (fp, status).
    """
    from pyspark.sql import Window

    spark = new_docs.sparkSession
    idx = spark.table(index_table).select(
        "fp", F.lit(True).alias("__in_idx")
    )
    with_fp = new_docs.withColumn("fp", content_fp(text_col))
    j = with_fp.join(idx, "fp", "left")
    w = Window.partitionBy("fp")
    return (
        j.withColumn("__first_id", F.min("doc_id").over(w))
        .withColumn(
            "status",
            F.when(F.col("__in_idx"), F.lit("dup_index"))
            .when(F.col("doc_id") == F.col("__first_id"), F.lit("kept"))
            .otherwise(F.lit("dup_within")),
        )
        .drop("__in_idx", "__first_id")
    )


def incremental_dedup_summary(
    tagged: DataFrame, by: str = "source"
) -> DataFrame:
    """Per-group admission report over ``incremental_dedup`` output:
    how much of the ingest batch was new vs already-known vs
    self-duplicated, plus an exact integer checksum (sum of admitted
    doc_ids) so an oracle can verify WHICH documents survived, not just
    how many.

    Output: (by, n_new, n_dup_index, n_dup_within, n_kept, kept_id_sum).
    """
    return tagged.groupBy(by).agg(
        F.count("*").cast("long").alias("n_new"),
        F.sum((F.col("status") == "dup_index").cast("long"))
        .cast("long")
        .alias("n_dup_index"),
        F.sum((F.col("status") == "dup_within").cast("long"))
        .cast("long")
        .alias("n_dup_within"),
        F.sum((F.col("status") == "kept").cast("long"))
        .cast("long")
        .alias("n_kept"),
        F.sum(
            F.when(F.col("status") == "kept", F.col("doc_id")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("kept_id_sum"),
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup against a persisted MinHash band index
# ---------------------------------------------------------------------------


def write_minhash_index(
    docs: DataFrame,
    table: str = "mh_index",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
    replayable: bool = False,
) -> None:
    """Materialize the corpus's MinHash LSH index as TWO bucketed
    tables — the near-dup analogue of ``write_fingerprint_index``:

    * ``{table}``     — the exploded band rows (doc_id, band, bh),
      bucketed by bh, so a delta's band probe joins bucket-locally;
    * ``{table}_sh``  — the per-doc deduplicated shingle arrays,
      bucketed by doc_id, so candidate verification fetches corpus
      shingles without shuffling the corpus.

    Band identity and signatures come from the SAME
    ``banded_signature_rows``/``minhash_signatures`` definitions as the
    batch and streaming operators, so index lookups reproduce the
    batch candidate set exactly (pinned in
    tests/test_incremental_dedup.py). At 100 TB the band table is
    bands×8 B-ish per doc and the shingle table ~the token count —
    both written once per corpus build, never re-shuffled by ingests.
    ``mode="append"`` admits a dedup'd delta into the index in place.
    """
    import os

    from myasynstreamjoin_spark.sources.sinks import write_bucketed

    mode_h = "md5" if replayable else True
    shingled = shingle_docs(docs, k, hashed=mode_h).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(
        docs, n_hashes, k, shingled=shingled, pre_hashed=mode_h
    )
    rows = banded_signature_rows(sigs, bands, n_hashes // bands, replayable)
    write_bucketed(
        rows, table, ["bh"], n_buckets=n_buckets,
        sort_cols=["bh", "band"],
        path=None if path is None else os.path.join(path, "bands"),
        mode=mode, single_file_per_bucket=True,
    )
    write_bucketed(
        shingled, f"{table}_sh", ["doc_id"], n_buckets=n_buckets,
        sort_cols=["doc_id"],
        path=None if path is None else os.path.join(path, "sh"),
        mode=mode, single_file_per_bucket=True,
    )
    shingled.unpersist()


def neardup_against_index(
    new_docs: DataFrame,
    table: str = "mh_index",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    replayable: bool = False,
) -> DataFrame:
    """Find near-duplicates of an ingest delta against a
    ``write_minhash_index`` corpus WITHOUT rescanning the corpus — the
    ingest-time half of MinHash dedup at 100 TB: the delta computes
    its own signatures (map-only), probes the band table with a
    bucket-local join (the corpus side never exchanges — plan-locked),
    and exact-verifies only the candidates, fetching corpus shingles
    from the bucketed shingle table by doc_id. Every shuffle in the
    plan is delta- or candidate-sized.

    Emits verified pairs oriented (doc_new, doc_old); a delta doc with
    no row is fresh. Parameters must match the ones the index was
    written with (band identity is positional).

    Output: (doc_new, doc_old, jaccard).
    """
    spark = new_docs.sparkSession
    idx = spark.table(table)
    idx_sh = spark.table(f"{table}_sh")
    mode_h = "md5" if replayable else True
    shingled_new = shingle_docs(new_docs, k, hashed=mode_h).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(
        new_docs, n_hashes, k, shingled=shingled_new, pre_hashed=mode_h
    )
    rows_new = banded_signature_rows(
        sigs, bands, n_hashes // bands, replayable
    )
    # Probe on bh alone (the bucket column) so the index side needs no
    # exchange; band equality filters after the join — bh is already a
    # 64-bit hash (or the exact slot string) of the band's slots, so
    # the band filter only strips cross-band hash coincidences.
    cand = (
        rows_new.select(
            F.col("doc_id").alias("doc_new"),
            F.col("band").alias("band_new"),
            "bh",
        )
        .join(idx.withColumnRenamed("doc_id", "doc_old"), "bh")
        .where(F.col("band_new") == F.col("band"))
        .select("doc_new", "doc_old")
        .distinct()
    )
    sa = shingled_new.select(
        F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_new")
    )
    sb = idx_sh.select(
        F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_old")
    )
    jac = F.size(F.array_intersect("sh_new", "sh_old")) / F.size(
        F.array_union("sh_new", "sh_old")
    )
    return (
        cand.join(sa, "doc_new")
        .join(sb, "doc_old")
        .where(jac >= threshold)
        .select("doc_new", "doc_old", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style) dedup
# ---------------------------------------------------------------------------


def cdc_chunks(
    docs: DataFrame,
    w: int = 8,
    mask_bits: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Split each document at CONTENT-DEFINED boundaries and emit one
    row per chunk — the variable-length complement of fixed-k
    shingling: because boundaries are chosen by local content (a
    rolling window hash), inserting or deleting a sentence shifts at
    most the two chunks it touches, so shared runs between revisions
    keep their chunk identity and dedup by plain hash-groupBy. The
    primitive behind storage/corpus dedup at chunk grain (LBFS/FastCDC
    lineage) — this engine's shingle/MinHash family catches NEAR-dups;
    CDC catches large shared SPANS across revisions at exact-match
    cost, without remove_spans' positional machinery.

    Boundary rule (1-indexed, mirrored verbatim by the DuckDB oracle):
    position ``i`` in ``[w, L]`` ends a chunk iff
    ``md5_32(substr(text, i-w+1, w)) % 2^mask_bits == 0``; the last
    chunk always ends at ``L``. Expected chunk length is
    ``2^mask_bits`` chars. The window hash is the module's replayable
    ``md5_32`` (dedup.py:27) rather than a gear/Rabin hash — ~100 ns
    of codegen'd JVM work per char, the price of an
    external-engine-verifiable boundary decision; the plan shape
    (per-row array expressions, ONE explode to chunk grain, no
    char-grain shuffle) is what matters at 100 TB and is identical
    under any rolling hash.

    Scale posture: everything up to the explode is a narrow map —
    boundaries, starts and ends are array columns computed inside one
    projection; the only shuffle the CONSUMER pays is the chunk-hash
    groupBy, at ~L/2^mask_bits rows per doc.

    Output: (doc_id, source, chunk_hash, chunk_len) — chunk text is
    hashed at extraction so raw spans never cross the wire.
    """
    c = text_col
    d = 1 << mask_bits
    win_hash = (
        f"cast(conv(substring(md5(encode("
        f"substring({c}, i - {w - 1}, {w}), 'UTF-8'"
        f")), 1, 8), 16, 10) as bigint)"
    )
    # guard: sequence(a, b) runs DESCENDING when b < a, so short docs
    # must not build the position range at all
    ends = (
        f"case when length({c}) >= {w} then "
        f"array_sort(array_distinct(concat("
        f"  filter(sequence({w}, length({c})), i -> {win_hash} % {d} = 0),"
        f"  array(cast(length({c}) as bigint)))))"
        f" else array(cast(length({c}) as bigint)) end"
    )
    chunks = (
        "transform(sequence(1, size(__ends)), k -> named_struct("
        "  's', case when k = 1 then cast(1 as bigint)"
        "            else element_at(__ends, k - 1) + 1 end,"
        "  'e', element_at(__ends, k)))"
    )
    return (
        docs.where(F.length(c) >= 1)
        .select("doc_id", "source", c)
        .withColumn("__ends", F.expr(ends))
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(chunks)).alias("__ch"),
            F.col(c),
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.encode(
                    F.expr(f"substring({c}, __ch.s, __ch.e - __ch.s + 1)"),
                    "UTF-8",
                )
            ).alias("chunk_hash"),
            F.expr("__ch.e - __ch.s + 1").alias("chunk_len"),
        )
    )


def cdc_dedup_stats(
    docs: DataFrame,
    w: int = 8,
    mask_bits: int = 6,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Per-``by``-group chunk-dedup report over ``cdc_chunks`` output —
    how much of each source is redundant at content-defined chunk
    grain, in EXACT INTEGER terms (no doubles anywhere, so the oracle
    hash can never flip on rounding):

    * n_docs, n_chunks, n_unique_chunks
    * dup_chunks  = n_chunks − n_unique_chunks
    * dup_chars   = Σ over chunk identities of (count−1)·len — the
      chars a chunk-store would NOT re-write
    * total_chars = Σ count·len (equals total doc chars)
    * dup_ppm     = dup_chunks·10⁶ DIV n_chunks (floor; ppm of chunk
      occurrences that are redundant)

    Two shuffles total: chunk-hash grain then ``by`` grain — both with
    map-side partial aggregation; nothing driver-side.
    """
    chunks = cdc_chunks(docs, w, mask_bits, text_col)
    per_hash = chunks.groupBy(by, "chunk_hash").agg(
        F.count("*").alias("cnt"), F.min("chunk_len").alias("len")
    )
    n_docs = (
        docs.where(F.length(text_col) >= 1)
        .groupBy(by)
        .agg(F.count("*").alias("n_docs"))
    )
    stats = per_hash.groupBy(by).agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_unique_chunks"),
        (F.sum("cnt") - F.count("*")).cast("long").alias("dup_chunks"),
        F.sum((F.col("cnt") - 1) * F.col("len")).cast("long").alias("dup_chars"),
        F.sum(F.col("cnt") * F.col("len")).cast("long").alias("total_chars"),
    )
    return (
        stats.join(n_docs, by)
        .withColumn(
            "dup_ppm",
            F.expr("dup_chunks * 1000000 DIV n_chunks").cast("long"),
        )
        .select(
            by, "n_docs", "n_chunks", "n_unique_chunks", "dup_chunks",
            "dup_chars", "total_chars", "dup_ppm",
        )
    )
