"""Text column expressions: tokenization and token n-grams.

The reference's text layer is ``StringTokenizer`` in app mappers
(incr-hadoop-0.1/src/examples/org/apache/hadoop/examples/WordCount.java:35-44)
plus hand-rolled string codecs. Here: built-in ``split``/``regexp`` functions
(JVM-side). Everything is deterministic so a DuckDB oracle can mirror it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny language-marker lexicons for the n-gram/stopword language heuristic;
# deterministic and trivially mirrored in SQL for the oracle
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def ws_tokens(text: Column) -> Column:
    """THE canonical oracle-mirrored tokenizer: split on single spaces and
    drop empties — bit-identical to the DuckDB twin
    ``list_filter(string_split(trim(text), ' '), x -> x <> '')`` that every
    documents oracle uses. All Spark-side token counts compared against an
    oracle MUST go through this (a drifting copy silently desynchronizes
    from its oracle — review finding r4)."""
    return F.filter(F.split(F.trim(text), " "), lambda t: t != "")


def token_ngrams(toks: Column, n: int) -> Column:
    """Space-joined token n-grams as a MULTISET (duplicates kept,
    array<string>) — THE guarded n-gram builder every consumer must go
    through (r9 consolidation: three independent copies of the
    transform+concat_ws construction each re-carried the short-doc guard).
    Spark's ``sequence(1, 0)`` DESCENDS instead of returning empty, so
    docs with fewer than ``n`` tokens return an empty array explicitly.
    Wrap in ``array_distinct`` for the shingle-set semantics."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )

