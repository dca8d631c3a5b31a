"""Native-Catalyst-expression vs pure-kernel parity.

Every operator that was re-expressed as native column expressions is
checked elementwise against its Python kernel on real corpus data —
the drift guard between the two implementations of one semantics.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(300).cache()


class TestNativeKernelParity:
    def test_quality_score(self, spark, docs):
        from pdf_extraction_spark.kernels.quality import quality_score
        from pdf_extraction_spark.operators.project import quality_score_col

        rows = docs.select(
            "doc_id", "text", quality_score_col("text").alias("native")
        ).collect()
        for r in rows:
            assert r.native == quality_score(r.text), r.doc_id

    def test_speaker_role(self, spark):
        from pdf_extraction_spark.kernels.roles import speaker_role
        from pdf_extraction_spark.operators.project import speaker_role_col

        names = [
            "Rahul Sharma", "Jane CEO", "Chief Financial Officer", "Ramdas",
            "MANAGEMENT", "Moderator", "md anderson", "Chief Operating X",
            "", "cEo mixed", "a managing director b",
        ]
        df = spark.createDataFrame([(n,) for n in names], ["speaker"])
        rows = df.select("speaker", speaker_role_col("speaker").alias("native")).collect()
        for r in rows:
            assert r.native == speaker_role(r.speaker), r.speaker

    def test_categorize(self, spark, docs):
        from pdf_extraction_spark.kernels.categories import categorize
        from pdf_extraction_spark.operators.categorize import categories_array_col

        rows = docs.select(
            "doc_id", "text", categories_array_col(F.col("text")).alias("native")
        ).collect()
        for r in rows:
            assert list(r.native) == categorize(r.text), r.doc_id

    def test_word_stats(self, spark, docs):
        from pdf_extraction_spark.operators.filters import word_count_col

        rows = docs.select(
            "text", word_count_col("text").alias("native"), F.length("text").alias("n")
        ).collect()
        for r in rows:
            assert r.native == len(r.text.split())
            assert r.n == len(r.text)

    def test_filter_pred(self, spark):
        from pdf_extraction_spark.kernels.filters import keep_chunk
        from pdf_extraction_spark.operators.filters import keep_chunk_pred

        cases = [
            ("MANAGEMENT", "x"),
            ("Operator", "plenty of words here to pass the ten word minimum easily now"),
            ("Rahul", "short"),
            ("Rahul", "good day and welcome plus enough words to pass the minimum easily"),
            ("Rahul", "eleven completely ordinary words are present in this very sentence here"),
            ("Scrip Code", "eleven completely ordinary words are present in this very sentence here"),
        ]
        df = spark.createDataFrame(cases, ["speaker", "content"])
        rows = df.select(
            "speaker", "content",
            keep_chunk_pred("speaker", "content").alias("native"),
        ).collect()
        for r in rows:
            assert r.native == keep_chunk(r.speaker, r.content), (r.speaker, r.content)

    def test_quality_score_is_one_double_ladder_in_both_engines(self, spark, docs):
        """One ladder text, DOUBLE in both engines: Spark runs it (with
        its word count) as quality_score_col does, and DuckDB runs it as
        is, with no CAST, and gets Spark's score on every document."""
        import duckdb

        from pdf_extraction_spark.operators.filters import spark_word_count
        from pdf_extraction_spark.operators.project import quality_score_col, sql_quality_score

        scored = docs.select("doc_id", "text", quality_score_col("text").alias("q"))
        assert dict(scored.dtypes)["q"] == "double"
        shared = docs.selectExpr(sql_quality_score("text", word_count=spark_word_count) + " AS q")
        assert dict(shared.dtypes)["q"] == "double"
        rows = scored.collect()
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", [(r.doc_id, r.text) for r in rows])
        q = sql_quality_score("text")
        got = {
            doc_id: (score, kind)
            for doc_id, score, kind in con.execute(
                f"SELECT doc_id, {q}, typeof({q}) FROM documents"
            ).fetchall()
        }
        assert len(got) == len(rows) > 0
        for r in rows:
            assert got[r.doc_id] == (r.q, "DOUBLE"), r.doc_id

    def test_quoted_keyword_drops_the_chunk_everywhere(self, spark):
        """The admin keyword ``press '*' then '0'`` carries quotes; the
        kernel, Spark and DuckDB all drop a chunk that contains it and
        keep the same chunk without it."""
        import duckdb

        from pdf_extraction_spark.kernels.filters import keep_chunk
        from pdf_extraction_spark.operators.filters import keep_chunk_pred, sql_keep_chunk

        cases = [
            (0, "Rahul", "to ask a question please Press '*' then '0' on your touchtone phone"),
            (1, "Rahul", "to ask a question please press star then zero on your touchtone phone"),
        ]
        assert [keep_chunk(s, c) for _, s, c in cases] == [False, True]
        df = spark.createDataFrame(cases, "tid int, speaker string, content string")
        assert [r.tid for r in df.filter(keep_chunk_pred("speaker", "content")).collect()] == [1]
        con = duckdb.connect()
        con.execute("CREATE TABLE turns (tid INT, speaker VARCHAR, content VARCHAR)")
        con.executemany("INSERT INTO turns VALUES (?, ?, ?)", cases)
        kept = con.execute(
            f"SELECT tid FROM turns WHERE {sql_keep_chunk('speaker', 'content')} ORDER BY tid"
        ).fetchall()
        assert kept == [(1,)]

    def test_financial_amounts(self, spark):
        from pdf_extraction_spark.kernels.financial import extract_revenue
        from pdf_extraction_spark.operators.financial import REVENUE_PATTERNS, extract_amounts

        snippets = [
            (0, "revenue of Rs. 1,234.5 crores this quarter"),
            (1, "sales of $ 250 million in the US"),
            (2, "Rs 890 crores in revenue and turnover of INR 12.5 crores"),
            (3, "no match"),
        ]
        df = spark.createDataFrame(snippets, "doc_id int, content string")
        got = {}
        for r in extract_amounts(df, "content", REVENUE_PATTERNS).collect():
            got.setdefault(r.doc_id, []).append((r.raw_text, r.value, r.currency, r.unit))
        for i, text in snippets:
            expect = [
                (h["raw_text"], float(h["value"]), h["currency"], h["unit"])
                for h in extract_revenue(text)
            ]
            assert sorted(got.get(i, [])) == sorted(expect), i

    def test_quarter_info(self, spark):
        from pdf_extraction_spark.kernels.financial import extract_quarter_info
        from pdf_extraction_spark.operators.financial import with_quarter_info

        snippets = [
            (0, "In Q3 FY18 and Q1 we saw fiscal year 2018-19 and FY2021"),
            (1, "Q2 FY2019 and q4fy20 maybe"),
            (2, "nothing"),
        ]
        df = spark.createDataFrame(snippets, "doc_id int, content string")
        rows = with_quarter_info(df).collect()
        for r in rows:
            k = extract_quarter_info(dict(snippets)[r.doc_id])
            assert sorted(r.quarters) == sorted(set(q.upper()[0] + q[1] for q in k["quarters"])) or \
                list(r.quarters) == k["quarters"]
            assert list(r.fiscal_years) == k["fiscal_years"]
            assert list(r.combined) == k["combined"]

    def test_url_dates(self, spark):
        from datetime import datetime

        from pdf_extraction_spark.kernels.dates import date_from_filename, quarter_and_fy
        from pdf_extraction_spark.operators.financial import with_quarter_fy, with_url_date

        urls = [
            "https://h/x/Aug_2018_Transcript.html",
            "https://h/x/Earnings_Call_Q3_FY18.pdf",
            "https://h/x/Call_2019.html",
            "https://h/x/Q4_FY21_results.pdf",
            "https://h/x/no_date_here.html",
        ]
        fallback = datetime(2020, 6, 1)
        df = spark.createDataFrame([(u, fallback) for u in urls], "url string, warc_ts timestamp")
        rows = with_quarter_fy(with_url_date(df)).collect()
        for r in rows:
            fname = r.url.rsplit("/", 1)[-1]
            kd = date_from_filename(fname) or fallback
            assert r.doc_date == kd, (r.url, r.doc_date, kd)
            kq, kfy = quarter_and_fy(fname, kd)
            assert (r.quarter, r.fiscal_year) == (kq, kfy), r.url

    def test_name_match_join(self, spark):
        from pdf_extraction_spark.kernels.executives import name_matches
        from pdf_extraction_spark.operators.executives import match_executives

        roster = [(1, "RAHUL SHARMA", "CEO"), (2, "PRIYA PATEL", "CFO")]
        speakers = [
            "Rahul Sharma", "Mr. Sharma", "Rahul K. Sharma", "Priya Patel",
            "Patel", "Nobody Here", "Sharma Patel",
        ]
        chunks = spark.createDataFrame(
            [(i, s, "c") for i, s in enumerate(speakers)], "cid int, speaker string, content string"
        )
        rdf = spark.createDataFrame(roster, "roster_pos int, executive string, role string")
        got = {r.cid: r.executive for r in match_executives(chunks, rdf).collect()}
        for i, s in enumerate(speakers):
            expect = next((e for _, e, _r in roster if name_matches(s, e)), None)
            assert got.get(i) == expect, (s, got.get(i), expect)

    def test_token_count(self, spark, docs):
        from pdf_extraction_spark.kernels.textstats import token_count
        from pdf_extraction_spark.operators.textanalysis import token_count_col

        rows = docs.select("text", token_count_col(F.col("text")).alias("native")).collect()
        for r in rows:
            assert r.native == token_count(r.text)

    def test_embed_determinism_and_gate(self, spark, docs):
        from pdf_extraction_spark.operators.embed import embed_documents, embed_text
        from pdf_extraction_spark.operators.project import quality_score_col

        scored = docs.withColumn("quality_score", quality_score_col("text"))
        out = embed_documents(scored, text_col="text").limit(20).collect()
        assert out
        for r in out:
            assert r.quality_score >= 3.5
            assert r.embedding == embed_text(r.text)

    def test_context_assembly(self, spark):
        from pdf_extraction_spark.operators.topk import assemble_context

        rows = [(1, 0.9, "first"), (2, 0.5, "third"), (3, 0.7, "second")]
        df = spark.createDataFrame(rows, "vec_id int, weighted_score double, content string")
        out = assemble_context(df).first()
        assert out.n_contexts == 3
        assert out.context == "first\n\n---\n\nsecond\n\n---\n\nthird"

    def test_recency_weight(self, spark):
        from pdf_extraction_spark.kernels.rerank import recency_weight
        from pdf_extraction_spark.operators.topk import recency_weight_col

        df = spark.createDataFrame([(d,) for d in [0, 90, 91, 365, 366, 730, 731, 5000]], ["d"])
        for r in df.select("d", recency_weight_col("d").alias("w")).collect():
            assert r.w == recency_weight(r.d)
