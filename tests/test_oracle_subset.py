"""In-pytest slice of the driver's correctness gate: a fast subset of
__spark_entry__ queries compared value-for-value against their DuckDB
oracles at sf0.001 (the full sweep lives in tests/oracle_check.py)."""

import sys

import duckdb
import pytest

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.001"

FAST_QUERIES = [
    "filter_short",
    "word_stats",
    "quality_score",
    "speaker_role",
    "chunk_filter",
    "fin_revenue",
    "fin_quarters",
    "executive_join",
    "url_dates",
    "recency_weights",
    "cosine_topk",
    "salted_agg",
    "session_stats",
    "dedup_wordset",
    # round-4 additions (strict full-suite parity in oracle_check.py;
    # this keeps a pytest-collected guard on their twins)
    "semdedup",
    "ppl_buckets",
    "refinedweb_lines",
    "dedup_url",
    "dsir_select",
    "host_pagerank",
    "host_trustrank",
    "winnow_fp",
    "script_profile",
    "html_meta",
    "phrase_search",
    "bpe_merges",
    "bpe_encode",
    "hll_words",
    "cms_topwords",
    "unigram_entropy",
    "host_quality",
    "html_outlinks",
    "host_boilerplate",
    "robots_gate",
    "outlink_pagerank",
    "anchor_terms",
    "pmi_colloc",
    "doc_keyterms",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_oracle_parity(spark, oracle_con, name):
    import __spark_entry__ as entrymod

    sdf = entrymod.queries()[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [r.asDict() for r in sdf.collect()]

    res = oracle_con.execute(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = [dict(zip(ocols, r)) for r in res.fetchall()]

    assert sorted(scols) == sorted(ocols)
    assert _normalize(srows, scols) == _normalize(orows, ocols)


# twins whose DuckDB aggregates (SUM over BIGINT is HUGEINT, Arrow
# decimal128(38,0)) must be cast back to Spark's int64: the oracle gate
# hashes typed output, so a value-exact twin with another dtype is red
DTYPE_QUERIES = ["compaction_plan", "mixture_plan", "temp_mixture"]


@pytest.mark.parametrize("name", DTYPE_QUERIES)
def test_oracle_arrow_dtypes(spark, oracle_con, name):
    import __spark_entry__ as entrymod

    spark_tbl = entrymod.queries()[name](spark, SF_DIR).toArrow()
    duck_tbl = oracle_con.execute(entrymod.oracle_sql()[name]).fetch_arrow_table()

    assert {f.name: f.type for f in spark_tbl.schema} == {
        f.name: f.type for f in duck_tbl.schema
    }
    assert _normalize(spark_tbl.to_pylist(), spark_tbl.column_names) == _normalize(
        duck_tbl.to_pylist(), duck_tbl.column_names
    )
