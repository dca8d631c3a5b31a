"""Seeded cross-engine regex-parity fuzz.

The tokenizer and punctuation classes are ONE pattern text executed by
two engines (Java in Spark, RE2 in DuckDB — operators/textanalysis.py).
The adversarial sweep pins curated hostile rows; this test adds BREADTH:
300 seeded-random strings drawn from an alphabet deliberately heavy in
the classes where regex engines disagree (join controls, zero-width
spaces, gc=No digits, combining marks, exotic whitespace, ligatures,
astral letters, quotes), tokenized by both engines over the same
parquet, compared value-for-value. Deterministic (fixed seed) so a
failure is reproducible; one Spark job + one DuckDB query total.
"""

import random

import duckdb
from pyspark.sql import functions as F

SPICY = (
    "abcdefghij AB.?!'\"-_0123456789"
    "​‌‍"      # ZWSP ZWNJ ZWJ (join controls / Cf)
    "²³⅕"      # superscripts + vulgar fraction (gc=No)
    "́ै́"      # combining marks (gc=Mn)
    "éßﬁ"      # accented, sharp s, ligature fi
    "あ漢"            # hiragana, CJK
    "\U0001d54d"              # astral mathematical letter
    "   "  # NBSP, thin space, LS, NEL
    "’“—…"  # curly quote, dash, ellipsis
)


def _mk_rows(n=300, seed=99):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        length = rng.randint(0, 60)
        rows.append((i, "".join(rng.choice(SPICY) for _ in range(length))))
    return rows


def test_token_and_punct_class_parity(spark, tmp_path):
    from pdf_extraction_spark.operators.textanalysis import (
        _TOKEN_PATTERN,
        _PUNCT_PATTERN,
        sql_token_count,
    )

    path = str(tmp_path / "fuzz_docs.parquet")
    spark.createDataFrame(_mk_rows(), "doc_id long, text string").write.parquet(path)

    got = {
        r["doc_id"]: (r["n_tok"], r["n_punct"])
        for r in spark.read.parquet(path)
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit(_TOKEN_PATTERN), F.lit(0))
            ).alias("n_tok"),
            F.size(
                F.regexp_extract_all("text", F.lit(_PUNCT_PATTERN), F.lit(0))
            ).alias("n_punct"),
        )
        .collect()
    }

    con = duckdb.connect()
    con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{path}/*.parquet')")
    punct_pat = _PUNCT_PATTERN.replace("'", "''")
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {sql_token_count('text')}, "
            f"CAST(len(regexp_extract_all(text, '{punct_pat}')) AS INT) FROM d"
        ).fetchall()
    }

    diverged = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    assert not diverged, f"{len(diverged)} strings diverge: {list(diverged.items())[:5]}"


CASE_SPICY = (
    "abcXYZ .!'0"
    "İıßẞΣσς"      # Turkish dotted/dotless I, sharp s pair, sigma forms
    "ΩΩK"          # OHM SIGN (U+2126), KELVIN SIGN (U+212A) — compat case maps
    "ÉüÇǅǈ"        # accents + titlecase digraphs (Dž/Lj)
    "ＡＢｃ"        # fullwidth
)


def test_lower_words_parity(spark, tmp_path):
    """The shared `_lower_words` tokenizer (curation/terms/dedup) is
    lower() + one split regex on both engines — lower() itself is the
    risk surface (Java/ICU vs DuckDB on Turkish İ, sharp-s, sigma
    forms, the OHM/KELVIN compatibility mappings, titlecase digraphs)."""
    from pdf_extraction_spark.operators.curation import (
        _lower_words,
        _sql_lower_words,
    )

    rng = random.Random(7)
    rows = [
        (i, "".join(rng.choice(CASE_SPICY) for _ in range(rng.randint(0, 40))))
        for i in range(300)
    ]
    path = str(tmp_path / "case_docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)

    got = {
        r["doc_id"]: r["ws"]
        for r in spark.read.parquet(path)
        .select("doc_id", _lower_words(F.col("text")).alias("ws"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{path}/*.parquet')")
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, {_sql_lower_words('text')} FROM d"
        ).fetchall()
    }
    diverged = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    assert not diverged, f"{len(diverged)} diverge: {list(diverged.items())[:5]}"
