from myasynstreamjoin_spark.sources.tables import TABLE_NAMES, load_table
from myasynstreamjoin_spark.sources.grammar_source import (
    GrammarDataSource,
    register_grammar_source,
)
from myasynstreamjoin_spark.sources.fixtures import (
    keyed_values,
    ported_words,
    star_rel,
    with_window,
)

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "ported_words",
    "keyed_values",
    "star_rel",
    "with_window",
    "GrammarDataSource",
    "register_grammar_source",
]
