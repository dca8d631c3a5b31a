"""Freshness + parity gates for the committed oracle fixtures.

The DuckDB twins for kernel-UDF queries read parquet fixtures committed
under tests/fixtures/oracle/ (see make_oracle_fixtures.py). These tests
regenerate them (fully for the cheap ones, sampled for the hash tables)
and assert the committed files match — a stale fixture fails here before
it silently fails the driver's correctness gate.
"""

import os

import pyarrow.parquet as pq
import pytest

from tests import make_oracle_fixtures as mk

FIX = mk.OUT_DIR


def _committed(name):
    path = os.path.join(FIX, name)
    assert os.path.exists(path), f"fixture {name} missing — run tests/make_oracle_fixtures.py"
    return pq.read_table(path)


class TestFixtureFreshness:
    def test_extract_turns(self):
        assert _committed("extract_turns.parquet").equals(mk.extract_turns_table())

    def test_curate_docs(self):
        assert _committed("curate_docs.parquet").equals(mk.curate_docs_table())

    def test_content_spans(self):
        assert _committed("content_spans.parquet").equals(mk.content_spans_table())

    def test_media_features(self):
        assert _committed("media_features.parquet").equals(mk.media_features_table())

    def test_media_features_real(self):
        assert _committed("media_features_real.parquet").equals(
            mk.media_features_real_table()
        )

    def test_mojibake(self):
        assert _committed("mojibake_sf0_01.parquet").equals(mk.mojibake_table())

    def test_minhash_sigs_new_sample(self):
        from pdf_extraction_spark.kernels.textstats import minhash_signature

        t = _committed("minhash_sigs_new_sf0_01.parquet").to_pydict()
        assert len(t["doc_id"]) == 500
        docs = dict(mk._read_documents())
        for i in range(0, 500, 50):
            d = t["doc_id"][i] - 100000
            expected = [
                mk._to_i64(v)
                for v in minhash_signature(mk.new_batch_text(d, docs[d]), mk.MINHASH_NUM)
            ]
            assert t["sig"][i] == expected

    def test_minhash_sigs_sample(self):
        from pdf_extraction_spark.kernels.textstats import minhash_signature

        t = _committed("minhash_sigs_sf0_01.parquet").to_pydict()
        assert len(t["doc_id"]) == 500
        docs = dict(mk._read_documents())
        for i in range(0, 500, 50):
            expected = [mk._to_i64(v) for v in minhash_signature(docs[t["doc_id"][i]] or "", mk.MINHASH_NUM)]
            assert t["sig"][i] == expected

    def test_simhash_sample(self):
        from pdf_extraction_spark.kernels.textstats import simhash

        t = _committed("simhash_sf0_01.parquet").to_pydict()
        assert len(t["doc_id"]) == 500
        docs = dict(mk._read_documents())
        for i in range(0, 500, 50):
            assert t["sh"][i] == mk._to_i64(simhash(docs[t["doc_id"][i]] or ""))

    def test_emb_sketches(self):
        assert _committed("emb_sketches_sf0_01.parquet").equals(mk.emb_sketches_table())

    def test_ivf_centroids(self):
        assert _committed("ivf_centroids_sf0_01.parquet").equals(mk.ivf_centroids_table())

    def test_doc_embeddings_sample(self):
        from pdf_extraction_spark.operators.embed import embed_text

        t = _committed("doc_embeddings_sf0_01.parquet").to_pydict()
        assert len(t["doc_id"]) == 500
        docs = dict(mk._read_documents())
        for i in range(0, 500, 100):
            assert t["embedding"][i] == embed_text(docs[t["doc_id"][i]] or "")


class TestSparkParity:
    def test_xxh64_kernel_matches_spark(self, spark):
        from pyspark.sql import functions as F

        from pdf_extraction_spark.kernels.xxh64 import spark_xxhash64_str

        vals = ["", "a", "hello world", "https://host3.example/LUPIN/Call_2021", "x" * 100, "héllo 中文"]
        rows = spark.createDataFrame([(v,) for v in vals], "s string").select(
            "s", F.xxhash64("s").alias("h")
        ).collect()
        for r in rows:
            assert spark_xxhash64_str(r["s"]) == r["h"]

    def test_word_count_unicode_whitespace_parity(self, spark):
        """ADVICE item: Spark word_count_col must match Python
        str.split() on Unicode whitespace (NBSP, LINE SEPARATOR)."""
        from pdf_extraction_spark.operators.filters import word_count_col

        texts = [
            "one two three",          # NBSP joins in ASCII \s, splits in Unicode
            "a b",                    # LINE SEPARATOR
            "x　y z",             # ideographic + math space
            "plain ascii words here",
            "  leading and trailing  ",
            "",
        ]
        rows = spark.createDataFrame([(t,) for t in texts], "t string").select(
            "t", word_count_col("t").alias("wc")
        ).collect()
        for r in rows:
            assert r["wc"] == len(r["t"].split()), repr(r["t"])


@pytest.mark.parametrize(
    "name",
    [
        "langid",
        "roster_extract",
        "minhash_lsh",
        "simhash",
        "dedup_clusters",
        "embedding_lsh",
        "ivf_assign",
    ],
)
def test_new_oracles_execute(name):
    """The fixture-backed twins must at least parse+run in DuckDB (full
    value parity is covered by tests/oracle_check.py and the driver)."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    n = len(con.execute(entrymod.oracle_sql()[name]).fetchall())
    assert n >= 0
