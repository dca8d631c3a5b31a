"""Transcript turn operators (T1/T2): fused turns → one row per turn.

Segmentation itself runs inside the fused extraction UDF
(operators.extract.extract_parse), which returns
``array<struct<speaker,text>>`` per document; turns then fan out here
with ``posexplode`` (position = turn order). Stateful *within* a
document, embarrassingly parallel *across* documents (SURVEY.md §2.3 T1).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_turns(docs: DataFrame, keep_cols=("url", "warc_ts", "lang")) -> DataFrame:
    """docs with ``turns`` → one row per dialogue turn.

    Output: keep_cols + (turn_pos int, speaker string, content string).
    ``content`` matches the reference chunk naming (filter.py:58)."""
    cols = [F.col(c) for c in keep_cols]
    return (
        docs.select(*cols, F.posexplode("turns").alias("turn_pos", "turn"))
        .select(
            *cols,
            "turn_pos",
            F.col("turn.speaker").alias("speaker"),
            F.col("turn.text").alias("content"),
        )
    )


def speakers_of(docs: DataFrame) -> DataFrame:
    """Distinct sorted speaker list per document (T2/W2) — a native
    higher-order-function expression, no UDF."""
    return docs.withColumn(
        "speakers",
        F.array_sort(F.array_distinct(F.transform("turns", lambda t: t["speaker"]))),
    )
