"""Exhaustive cross-engine verification of kernels.wsre.

The whole point of the module is that the *same pattern text* denotes
the *same character set* in Java (Spark), RE2 (DuckDB), and matches the
measured Python semantics. These tests sweep every code point up to
0x3200 (beyond the last whitespace, U+3000 IDEOGRAPHIC SPACE) in each
engine rather than trusting documentation.
"""

import duckdb
import pytest

from pdf_extraction_spark.kernels.wsre import (
    JAVA_WS_SPLIT,
    PY_WS,
    PY_WS_SPLIT,
    WHITE_SPACE_BODY,
    java_ws_exact,
    py_ws_exact,
)

LIMIT = 0x3200
PY_SET = {x for x in range(1, LIMIT) if ("A" + chr(x) + "B").split() != ["A" + chr(x) + "B"]}
JAVA_S_SET = {0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20}


def _re2_set(pattern):
    con = duckdb.connect()
    out = set()
    for x in range(1, LIMIT):
        n = con.execute(
            "select len(string_split_regex(?, ?))", ["A" + chr(x) + "B", pattern]
        ).fetchone()[0]
        if n > 1:
            out.add(x)
    return out


def test_py_ws_matches_python_split_in_re2():
    assert _re2_set(PY_WS_SPLIT) == PY_SET


def test_java_ws_matches_java_default_s_in_re2():
    assert _re2_set(JAVA_WS_SPLIT) == JAVA_S_SET


def test_white_space_body_is_py_minus_c0_separators():
    assert _re2_set("[" + WHITE_SPACE_BODY + "]+") == PY_SET - {0x1C, 0x1D, 0x1E, 0x1F}


def test_classes_parse_identically_in_java(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("A" + chr(x) + "B", x) for x in range(1, LIMIT)], "s string, cp int"
    )

    def java_set(pat):
        rows = (
            df.withColumn("n", F.size(F.split(F.col("s"), pat)))
            .filter("n > 1")
            .select("cp")
            .collect()
        )
        return {r.cp for r in rows}

    assert java_set(PY_WS_SPLIT) == PY_SET
    assert java_set(JAVA_WS_SPLIT) == JAVA_S_SET
    assert java_set(r"\s+") == JAVA_S_SET  # the premise of JAVA_WS
    # the premise of every twin that substitutes WHITE_SPACE_BODY for a
    # Spark-side (?U)\s: the hand-spelled list must equal THIS JDK's
    # White_Space set (the set has shifted across Unicode versions)
    assert java_set("[" + WHITE_SPACE_BODY + "]+") == java_set(r"(?U)\s+")


def test_rewriter_standalone_and_in_class():
    assert py_ws_exact(r"a\s*b") == "a" + PY_WS + "*b"
    assert py_ws_exact(r"[A-Z\s\.]+") == r"[A-Z" + PY_WS[1:-1] + r"\.]+"
    # escaped backslash before s is NOT a \s token
    assert py_ws_exact(r"a\\s") == r"a\\s"
    # java variant targets the ASCII-six class
    assert "\\x0B" in java_ws_exact(r"\s")


def test_rewriter_refuses_cap_s():
    with pytest.raises(ValueError):
        py_ws_exact(r"\S+")


# --- operator-level agreement on exotic-whitespace text ----------------

EXOTIC_TEXTS = [
    "the\x0bquick fox",            # vertical tab: Java \s splits, RE2 \s doesn't
    "one\x1ctwo\x1dthree\x1efour\x1ffive",  # C0 separators: Python-only
    "a b c　d",      # NBSP, LINE SEP, IDEOGRAPHIC SPACE
    "x  y  z",           # HAIR SPACE, MMSP
    "le chat\x0bnoir est la",      # langid-relevant tokens glued by VT
    "",
    "   \x0b\x1c　   ",        # whitespace-only
]


def test_word_count_triple_agreement(spark):
    """kernel len(s.split()) == Spark word_count_col == DuckDB
    sql_word_count on every exotic-whitespace text."""
    from pdf_extraction_spark.operators.filters import (
        sql_word_count,
        word_count_col,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EXOTIC_TEXTS)], "i int, t string"
    )
    got = {
        r.i: r.n
        for r in df.select("i", word_count_col("t").alias("n")).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(EXOTIC_TEXTS):
        expected = len(t.split())
        assert got[i] == expected, (t, got[i], expected)
        sql_n = con.execute(
            f"select {sql_word_count('?')}", [t]
        ).fetchone()[0]
        assert sql_n == expected, (t, sql_n, expected)


def test_langid_twin_agreement_on_exotic_ws(spark):
    from pdf_extraction_spark.kernels.textstats import detect_language
    from pdf_extraction_spark.operators.textanalysis import sql_detect_language

    con = duckdb.connect()

    def lit(t):
        return "'" + t.replace("'", "''") + "'"

    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {lit(t)})" for i, t in enumerate(EXOTIC_TEXTS))
        + ") AS t(doc_id, text)"
    )
    rows = con.execute(sql_detect_language("text")).fetchall()
    for doc_id, lang in rows:
        assert lang == detect_language(EXOTIC_TEXTS[doc_id]), EXOTIC_TEXTS[doc_id]


def test_ascii_i_exact_rewrites():
    from pdf_extraction_spark.kernels.wsre import ascii_i_exact

    assert ascii_i_exact("abc") == "[aA][bB][cC]"
    assert ascii_i_exact(r"\bFY\s*(\d{2,4})\b") == r"\b[Ff][Yy]\s*(\d{2,4})\b"
    # classes: ranges gain the swapped-case range, escapes untouched
    assert ascii_i_exact("[A-Z]+") == "[A-Za-z]+"
    assert ascii_i_exact(r"[\d,]") == r"[\d,]"
    assert ascii_i_exact("(?:crores?|cr)") == "(?:[cC][rR][oO][rR][eE][sS]?|[cC][rR])"
    with pytest.raises(ValueError):
        ascii_i_exact("(?i)x")


def test_ascii_i_exact_equals_java_fold_in_re2():
    """The rewritten (flag-free) pattern must accept exactly what Java
    (?i) accepts: ASCII case pairs yes, Unicode fold-pairs (ſ, K, İ) no
    — even though RE2's own (?i) would accept the first two."""
    from pdf_extraction_spark.kernels.wsre import ascii_i_exact

    con = duckdb.connect()
    pat = ascii_i_exact(r"rs[A-Z]")
    for s, want in [("RSX", True), ("rsx", True), ("Rsq", True),
                    ("ſsX", False), ("rſX", False), ("rsſ", False)]:
        got = con.execute(
            "select regexp_full_match(?, ?)", [s, pat]
        ).fetchone()[0]
        assert got == want, (s, pat)
