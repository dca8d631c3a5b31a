"""Chunk filters (P3–P6) and the word count, written once as SQL text.

:func:`sql_keep_chunk` is the one definition of the chunk rule: SQL
text that Spark and DuckDB both parse, so the engine's predicate and
the oracle's are the same string. The Spark predicate is ``F.expr`` of
that text — one codegen'd predicate, no UDF, fully pushdown-able.
Only the word count differs between the dialects, so the rule takes it
as a function argument: :func:`spark_word_count` on Spark,
:func:`sql_word_count` (the default) on DuckDB.

Semantics per the reference filter (filter.py:36-72): MANAGEMENT
allowlist beats everything; then speaker blocklist; then content rules
(admin keyword substring OR < 10 words). Word counting matches Python
``str.split()`` (runs of whitespace, no empty tokens).
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.filters import (
    ALWAYS_KEEP_SPEAKERS,
    MIN_WORDS,
    REMOVE_KEYWORDS,
    REMOVE_SPEAKERS,
)
from ..kernels.wsre import PY_WS_SPLIT
from .topk import spark_sql_string


def sql_str(s: str) -> str:
    """A string literal both engines read alike: a quote is doubled,
    which Spark and DuckDB both accept. A backslash is refused: Spark's
    parser reads it as an escape, DuckDB's as itself."""
    if "\\" in s:
        raise ValueError(f"backslash in a shared SQL literal: {s!r}")
    return "'" + s.replace("'", "''") + "'"


def spark_word_count(expr: str) -> str:
    """Python ``len(s.split())`` in Spark SQL: split on whitespace runs,
    drop empty tokens. The split class is the *measured* Python
    whitespace set spelled explicitly (kernels.wsre.PY_WS) — Java
    ``(?U)\\s`` would miss the C0 separators ``\\x1C-\\x1F`` that
    ``str.split()`` honors, and the same class text drives the DuckDB
    twin, so kernel, Spark, and oracle agree on EVERY input."""
    return f"size(filter(split({expr}, {spark_sql_string(PY_WS_SPLIT)}), t -> t <> ''))"


def sql_word_count(expr: str) -> str:
    # CAST: DuckDB len() yields BIGINT, Spark size() yields INT.
    # Same explicit Python-whitespace class text as spark_word_count.
    return (
        f"CAST(len(list_filter(string_split_regex({expr}, '{PY_WS_SPLIT}'), "
        "x -> x <> '')) AS INT)"
    )


def word_count_col(expr: str) -> Column:
    """Word count of the column name or SQL expression ``expr``."""
    return F.expr(spark_word_count(expr))


def sql_contains_any(expr: str, needles) -> str:
    """True when lower(expr) contains any needle."""
    parts = " OR ".join(f"contains(lower({expr}), {sql_str(n.lower())})" for n in needles)
    return f"({parts})"


def sql_keep_chunk(speaker: str, content: str, word_count=sql_word_count) -> str:
    """P3∧P4∧P5 with the P6 allowlist override (precedence per
    filter.py:61-72); ``word_count`` renders the dialect's word count."""
    keep = ", ".join(map(sql_str, ALWAYS_KEEP_SPEAKERS))
    remove = ", ".join(map(sql_str, REMOVE_SPEAKERS))
    return (
        f"({speaker} IN ({keep}) OR ({speaker} NOT IN ({remove}) "
        f"AND NOT {sql_contains_any(content, REMOVE_KEYWORDS)} "
        f"AND {word_count(content)} >= {MIN_WORDS}))"
    )


def keep_chunk_pred(speaker: str, content: str) -> Column:
    """:func:`sql_keep_chunk` over the column names or SQL expressions
    ``speaker`` and ``content``, as a Spark predicate."""
    return F.expr(sql_keep_chunk(speaker, content, spark_word_count))
