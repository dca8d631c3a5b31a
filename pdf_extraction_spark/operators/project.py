"""Projections: word stats (P13), speaker role (P11), chunk id (P12),
quality score (P10) — all native Catalyst column expressions.

The speaker-role and quality-score ladders are each written once, as
SQL text that Spark and DuckDB both parse (:func:`sql_speaker_role`,
:func:`sql_quality_score`); the Spark columns are ``F.expr`` of that
text over column names or SQL expressions. The quality ladder takes the
dialect's word count as a function argument (``filters.spark_word_count``
on Spark, ``filters.sql_word_count`` on DuckDB) and writes its constants
as ``5.0E0`` and similar, which is DOUBLE in both engines (``5.0`` would
be DECIMAL).

The quality scorer is the reference CASE ladder
(embeddings_generator.py:37-93) with parameterizable phrase lists: the
pages pipeline uses the reference lists; oracle queries may swap in
corpus-appropriate lists — the *semantics* (thresholds, bonuses,
clamps) are fixed. The role table is the kernel's
(``kernels.roles.ROLE_RULES``).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.quality import ADMIN_PHRASES, BUSINESS_INDICATORS, CLOSING_PHRASES, QA_CUES
from ..kernels.roles import ROLE_RULES
from .filters import spark_word_count, sql_contains_any, sql_str, sql_word_count, word_count_col


def sql_speaker_role(speaker: str) -> str:
    """P11 if/elif ladder as one CASE (priority order preserved)."""
    whens = " ".join(
        f"WHEN {sql_contains_any(speaker, needles)} THEN {sql_str(role)}"
        for role, needles in ROLE_RULES
    )
    return f"CASE {whens} ELSE 'Analyst/Other' END"


def speaker_role_col(speaker: str) -> Column:
    """:func:`sql_speaker_role` over the column name or SQL expression
    ``speaker``, as a Spark column."""
    return F.expr(sql_speaker_role(speaker))


def with_word_stats(df: DataFrame, content_col: str = "content") -> DataFrame:
    """P13: content_length + word_count."""
    return df.withColumn("content_length", F.length(content_col)).withColumn(
        "word_count", word_count_col(content_col)
    )


def chunk_id_col(company: Column, date: Column, speaker: Column, content: Column) -> Column:
    """P12 chunk id. The reference uses salted ``hash()`` —
    nondeterministic run to run (rag_friendly_categorizer.py:130);
    xxhash64 is the engine's stable substitute (SURVEY.md §4.4)."""
    return F.concat_ws(
        "_",
        company,
        date,
        F.substring(speaker, 1, 10),
        F.pmod(F.xxhash64(F.substring(content, 1, 50)), F.lit(10000)),
    )


def sql_count_hits(expr: str, phrases) -> str:
    """Number of phrases present as substrings of lower(expr) (the
    reference counts each phrase once regardless of repeats)."""
    parts = " + ".join(
        f"CASE WHEN contains(lower({expr}), {sql_str(p.lower())}) THEN 1 ELSE 0 END"
        for p in phrases
    )
    return f"({parts})"


def sql_quality_score(
    content: str,
    admin_phrases=None,
    business_indicators=None,
    qa_cues=None,
    closing_phrases=None,
    word_count=sql_word_count,
) -> str:
    """P10: the full deterministic scoring ladder, DOUBLE in both
    engines; ``word_count`` renders the dialect's word count."""
    admin_phrases = admin_phrases if admin_phrases is not None else ADMIN_PHRASES
    business_indicators = (
        business_indicators if business_indicators is not None else BUSINESS_INDICATORS
    )
    qa_cues = qa_cues if qa_cues is not None else QA_CUES
    closing_phrases = closing_phrases if closing_phrases is not None else CLOSING_PHRASES

    admin = sql_count_hits(content, admin_phrases)
    business = sql_count_hits(content, business_indicators)
    wc = word_count(content)
    base = (
        f"5.0E0 + (CASE WHEN {admin} = 1 THEN -3.0E0 ELSE 0.0E0 END) "
        f"+ (CASE WHEN {business} >= 5 THEN 4.0E0 WHEN {business} >= 3 THEN 2.0E0 "
        f"WHEN {business} >= 1 THEN 1.0E0 ELSE 0.0E0 END) "
        f"+ (CASE WHEN {wc} > 200 THEN 3.0E0 WHEN {wc} > 100 THEN 2.0E0 "
        f"WHEN {wc} > 50 THEN 1.0E0 WHEN {wc} < 20 THEN -2.0E0 ELSE 0.0E0 END) "
        f"+ (CASE WHEN {sql_contains_any(content, qa_cues)} THEN 1.5E0 ELSE 0.0E0 END) "
        f"+ (CASE WHEN {sql_contains_any(content, closing_phrases)} AND {wc} < 100 "
        f"THEN -2.0E0 ELSE 0.0E0 END)"
    )
    return (
        f"CASE WHEN {admin} >= 2 THEN 1.0E0 "
        f"ELSE greatest(1.0E0, least(1.0E1, {base})) END"
    )


def quality_score_col(
    content: str,
    admin_phrases=None,
    business_indicators=None,
    qa_cues=None,
    closing_phrases=None,
) -> Column:
    """:func:`sql_quality_score` over the column name or SQL expression
    ``content``, as a Spark column."""
    return F.expr(
        sql_quality_score(
            content, admin_phrases, business_indicators, qa_cues, closing_phrases,
            spark_word_count,
        )
    )
