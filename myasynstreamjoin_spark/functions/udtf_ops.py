"""Python UDTF surface (U1): one row in → many rows out through a
user-defined TABLE function, completing the UDF/UDAF/UDTF triad next
to the engine's Arrow paths (`mapInPandas`, `applyInPandasWithState`).

The reference's only row-expanding user code is its record un-batcher
(P1, reproduced JVM-side in ``sources/fixtures.py``); a UDTF is the
API a user reaches for when per-row expansion logic genuinely can't be
declared — everything declarable (posexplode, split, slice) should
STAY declarative: a Python UDTF is row-at-a-time across the Python
boundary, orders of magnitude behind the JVM paths. That hierarchy —
builtin > Arrow batch > UDTF — is the engine's documented guidance;
this module exists so the slow tier is present, tested, and correct.

Scale shape: a UDTF pipelines with the scan (no shuffle, no state);
cost is per-row serialization. Bound output per input row (sentences
per document here) so one pathological row can't blow an executor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

_SENT_SPLIT = re.compile(r"[.!?]+")
_WS = re.compile(r"\s+")


@udtf(returnType="sent_idx int, sentence string, n_tokens int")
class SentenceSplitter:
    """Segment a document into sentences on [.!?]+ runs; emit each
    non-empty sentence with its index and whitespace-token count.
    Punctuation-free text is one sentence (idx 0)."""

    def eval(self, text: str):  # noqa: D102 — UDTF contract method
        if text is None:
            return
        idx = 0
        for raw in _SENT_SPLIT.split(text):
            sent = _WS.sub(" ", raw.strip().lower())
            if not sent:
                continue
            yield idx, sent, len(sent.split(" "))
            idx += 1


def split_sentences(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Lateral-apply the sentence UDTF to every document.

    Output: (doc_id, sent_idx, sentence, n_tokens).

    ``docs`` is bound as a ``spark.sql`` argument (a uuid-named view
    that PySpark drops when the call returns), so concurrent callers on
    one session never read each other's documents.
    """
    spark.udtf.register("split_sentences", SentenceSplitter)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_tokens
        FROM {docs} d, LATERAL split_sentences(d.text) s
        """,
        docs=docs,
    )
