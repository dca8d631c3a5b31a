"""End-to-end pipeline assembly: the reference's seven sequential
JSON-file stages as ONE lazy DataFrame lineage with multiple sinks.

Reference lifecycle (SURVEY.md §3): extract → clean → parse →
categorize → filter → executives → score/embed, each stage a JSON file
on disk. Here every stage is a transformation on one logical plan;
Catalyst sees the whole thing (filter pushdown across stages, column
pruning into the scan) and the only materializations are the sinks the
caller asks for.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.categorize import explode_categories, with_categories
from ..operators.executives import extract_executives, match_executives
from ..operators.extract import extract_parse
from ..operators.filters import keep_chunk_pred
from ..operators.financial import with_quarter_fy, with_url_date
from ..operators.parse import explode_turns
from ..operators.project import (
    chunk_id_col,
    quality_score_col,
    speaker_role_col,
    with_word_stats,
)


def company_col(url):
    """The reference's company dimension = data/<COMPANY>/ dir, upper-
    cased (main.py:114); in the pages table it is the first url path
    segment."""
    return F.upper(F.element_at(F.split(F.regexp_replace(url, r"^https?://[^/]+/", ""), "/"), 1))


def turns_table(pages: DataFrame) -> DataFrame:
    """pages → one row per dialogue turn with full chunk metadata —
    the engine's core fact table (reference 'RAG document')."""
    docs = extract_parse(pages)
    docs = docs.withColumn("company", company_col(F.col("url")))
    docs = with_url_date(docs)
    docs = with_quarter_fy(docs)
    turns = explode_turns(
        docs, keep_cols=("url", "warc_ts", "lang", "company", "doc_date", "quarter", "fiscal_year")
    )
    turns = with_word_stats(turns)
    turns = turns.withColumn("speaker_role", speaker_role_col("speaker"))
    turns = turns.withColumn("date", F.date_format("doc_date", "yyyy-MM-dd"))
    turns = turns.withColumn(
        "chunk_id",
        chunk_id_col(F.col("company"), F.col("date"), F.col("speaker"), F.col("content")),
    )
    return turns


def filtered_chunks(turns: DataFrame) -> DataFrame:
    """P3–P6 boilerplate/admin filter."""
    return turns.filter(keep_chunk_pred("speaker", "content"))


def categorized_chunks(turns: DataFrame, keywords_by_category=None) -> DataFrame:
    """C1 multi-label fan-out (reference duplicates the chunk per
    category)."""
    return explode_categories(
        with_categories(turns, content_col="content", keywords_by_category=keywords_by_category)
    )


def scored_chunks(chunks: DataFrame) -> DataFrame:
    """P10 quality score."""
    return chunks.withColumn("quality_score", quality_score_col("content"))


def executive_chunks(chunks: DataFrame) -> DataFrame:
    """T3 roster extraction + J1 fuzzy-name join — executives dim is
    derived from the corpus itself (MANAGEMENT turns)."""
    roster = extract_executives(chunks)
    return match_executives(chunks, roster)


def category_report(chunks: DataFrame) -> DataFrame:
    """A1–A4 master-summary rollup (reference master_summary.json)."""
    return chunks.groupBy("company", "category").agg(
        F.count("*").alias("total_documents"),
        F.min("date").alias("earliest"),
        F.max("date").alias("latest"),
        F.array_sort(F.collect_set("speaker")).alias("speakers"),
        F.array_sort(F.collect_set("url")).alias("source_files"),
    )


def write_partitioned(chunks: DataFrame, out_dir: str):
    """S7 sink: one directory per (company, category), rows ordered by
    date within files (W1/W3 export determinism)."""
    (
        chunks.repartition("company", "category")
        .sortWithinPartitions("company", "category", "date", "url", "turn_pos")
        .write.mode("overwrite")
        .partitionBy("company", "category")
        .parquet(out_dir)
    )


def full_pipeline(pages: DataFrame, keywords_by_category=None) -> dict:
    """All stages wired; returns the dict of lazy frames (callers pick
    sinks)."""
    turns = turns_table(pages)
    kept = filtered_chunks(turns)
    cats = categorized_chunks(kept, keywords_by_category)
    scored = scored_chunks(cats)
    execs = executive_chunks(scored)
    return {
        "turns": turns,
        "filtered": kept,
        "categorized": cats,
        "scored": scored,
        "executives": execs,
        "report": category_report(scored),
    }
