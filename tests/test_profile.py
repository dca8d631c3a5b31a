"""Deequ-style table profiling + declarative checks (operators/
profile.py): hand-verifiable profiles, every check family in both
verdicts, twin parity on crafted rows."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.profile import (
    sql_table_checks,
    sql_table_profile,
    table_checks,
    table_profile,
)

ROWS = [
    (0, "en", "web", 10),
    (1, "en", "web", 20),
    (2, "fr", "news", 0),
    (3, None, "web", -5),
    (4, "en", None, None),
    (0, "zz", "web", 7),  # duplicate doc_id + out-of-set lang
]
SCHEMA = "doc_id long, lang string, source string, n_chars long"
CHECKS = [
    {"type": "completeness", "column": "lang", "min_ppm": 900000},
    {"type": "completeness", "column": "lang", "min_ppm": 850000},
    {"type": "uniqueness", "column": "doc_id"},
    {"type": "in_set", "column": "lang", "values": ["en", "fr"]},
    {"type": "non_negative", "column": "n_chars"},
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_profile_hand_values(df):
    got = {r.column: r for r in table_profile(df, ["doc_id", "lang", "n_chars"]).collect()}
    assert got["doc_id"].n_rows == 6 and got["doc_id"].n_null == 0
    assert got["doc_id"].n_distinct == 5
    assert (got["doc_id"].min_str, got["doc_id"].max_str) == ("0", "4")
    assert got["lang"].n_null == 1 and got["lang"].n_distinct == 3
    # top values: en:3 first, then fr:1/zz:1 by value asc
    assert got["lang"].top_values == "en:3,fr:1,zz:1"
    assert got["n_chars"].min_str == "-5" and got["n_chars"].n_null == 1


def test_checks_every_family_and_both_verdicts(df):
    got = {
        (r.check, r.column): r for r in table_checks(df, CHECKS).collect()
    }
    # 5/6 lang present = 833,333 ppm: fails 900k, fails 850k? 5*1e6 >= 850000*6 → 5,000,000 ≥ 5,100,000 false
    assert not got[("completeness>=900000ppm", "lang")].passed
    assert got[("completeness>=900000ppm", "lang")].n_failed == 1
    assert not got[("completeness>=850000ppm", "lang")].passed
    assert not got[("uniqueness", "doc_id")].passed
    assert got[("uniqueness", "doc_id")].n_failed == 1
    assert not got[("in_set", "lang")].passed  # zz
    assert got[("in_set", "lang")].n_failed == 1
    assert not got[("non_negative", "n_chars")].passed
    # a passing configuration
    ok = table_checks(df, [{"type": "completeness", "column": "source", "min_ppm": 800000}]).collect()[0]
    assert ok.passed


def test_twin_parity(spark, df):
    con = duckdb.connect()
    pdf = pd.DataFrame(ROWS, columns=["doc_id", "lang", "source", "n_chars"])
    # the real tables carry BIGINT columns; pandas turns None into
    # float64 (rendering '-5.0') unless told the nullable int dtype
    pdf["n_chars"] = pdf["n_chars"].astype("Int64")
    con.register("documents", pdf)
    cols = ["doc_id", "lang", "source", "n_chars"]
    a = sorted((tuple(r) for r in table_profile(df, cols).collect()), key=repr)
    b = sorted(
        (tuple(r) for r in con.execute(sql_table_profile("documents", cols)).fetchall()),
        key=repr,
    )
    assert a == b
    a2 = sorted((tuple(r) for r in table_checks(df, CHECKS).collect()), key=repr)
    b2 = sorted(
        (tuple(r) for r in con.execute(sql_table_checks("documents", CHECKS)).fetchall()),
        key=repr,
    )
    assert a2 == b2


def test_top_values_group_signed_zeros_like_spark(spark):
    """Spark's melt groups the top-3 by the rendered value, so -0.0 and
    0.0 count apart; a twin grouping by the typed double would merge
    them into one '-0.0:3' entry."""
    zeros = [(-0.0,), (0.0,), (0.0,)]
    got = table_profile(spark.createDataFrame(zeros, "x double"), ["x"]).first().top_values
    con = duckdb.connect()
    con.register("t", pd.DataFrame(zeros, columns=["x"]))
    want = con.execute(sql_table_profile("t", ["x"])).fetchone()[-1]
    assert got == want == "0.0:2,-0.0:1"


def test_profile_reads_source_exactly_twice(spark, tmp_path):
    """The single-pass contract: one wide agg + one melt = exactly TWO
    scans of the source regardless of how many columns are profiled
    (the naive shape is 2 scans PER column)."""
    src = str(tmp_path / "profile_src.parquet")
    spark.createDataFrame(ROWS, SCHEMA).write.parquet(src)
    df = spark.read.parquet(src)
    plan = (
        table_profile(df, ["doc_id", "lang", "source", "n_chars"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected exactly 2 source scans, saw {n_scans}"
