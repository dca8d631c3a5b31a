"""Curation-suite tests: Gopher rules, line dedup, PII scrub, sampling.

The sf0.01 corpus is single-line and PII-free, so the oracle gate alone
exercises these trivially; here crafted multi-line / PII-bearing rows go
through BOTH the Spark operator and its DuckDB twin and must agree
value-exactly."""

import duckdb
import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "alpha beta gamma\nshared boilerplate line\ndelta epsilon"),
    (1, "shared boilerplate line\nunique content one two three\n- bullet item"),
    (2, "SHARED BOILERPLATE LINE  \nanother doc body here\nto be continued..."),
    (3, "• first\n• second\n• third"),
    (4, "mail me at john.doe+x@example.co.uk or at 10.0.0.1 "
        "or call +1 (555) 123-4567 now"),
    (5, "### markdown ### heading # only\nsymbols… everywhere…"),
    (6, ""),
    (7, "x\n\n\nx\nx"),
    (8, "the quick brown fox jumps over the lazy dog again and again today"),
    (9, None),  # operators must be total: NULL text ≡ empty, row kept
    # trailing NEL/LS after an ellipsis: Java's $ matches before these
    # final terminators, RE2's doesn't — pins the \z in _ELLIPSIS_END_RE
    (10, "ends with dots...\u0085\nsecond line...\u2028\nthird plain"),
]


def _con():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, ?)",
        [(i, t, f"src{i % 3}") for i, t in DOCS],
    )
    return con


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(
        [(i, t, f"src{i % 3}") for i, t in DOCS], "doc_id long, text string, source string"
    )


def _compare(spark_df, con, sql):
    cols = sorted(spark_df.columns)
    s = sorted(map(tuple, spark_df.toPandas()[cols].values.tolist()))
    o = sorted(map(tuple, con.execute(sql).df()[cols].values.tolist()))
    assert s == o, f"spark={s[:3]}... oracle={o[:3]}..."


class TestGopher:
    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            sql_gopher_flags,
            with_gopher_flags,
        )

        out = with_gopher_flags(docs_df, "text").select(
            "doc_id", "dup_line_frac", "dup_para_frac", "dup_line_char_frac",
            "dup_para_char_frac", "symbol_word_ratio", "bullet_line_frac",
            "ellipsis_line_frac", "alpha_word_frac", "gopher_pass",
        )
        _compare(out, _con(), sql_gopher_flags("text"))

    def test_semantics(self, docs_df):
        from pdf_extraction_spark.operators.curation import with_gopher_flags

        rows = {r["doc_id"]: r for r in with_gopher_flags(docs_df, "text").collect()}
        assert rows[7]["dup_line_frac"] == pytest.approx(2 / 3, abs=1e-4)  # x,x,x
        assert rows[7]["dup_line_char_frac"] == pytest.approx(2 / 3, abs=1e-4)
        # paragraphs of doc 7 are "x" and "x\nx" — distinct, no para dup
        assert rows[7]["dup_para_frac"] == 0.0
        assert rows[7]["dup_para_char_frac"] == 0.0
        assert rows[3]["bullet_line_frac"] == 1.0
        assert rows[5]["gopher_pass"] is False  # symbol soup
        assert rows[8]["gopher_pass"] is True  # clean prose


class TestTopNgramFrac:
    def test_semantics(self, spark):
        from pdf_extraction_spark.operators.curation import top_ngram_char_frac

        rows = [
            (1, "spam ham spam ham spam ham tail"),  # "spam ham" ×3
            (2, "all distinct words here now"),       # every bigram once
            (3, "one"),                               # < n tokens
            (4, None),
            (5, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in top_ngram_char_frac(df, n=2).collect()}
        assert got[1]["top_gram"] == "spam ham"
        assert got[1]["top_ngram_char_frac"] == round(3 * len("spam ham") / len(rows[0][1]), 6)
        assert got[2]["top_ngram_char_frac"] > 0  # some bigram, count 1
        assert got[3]["top_gram"] is None and got[3]["top_ngram_char_frac"] == 0.0
        assert got[4]["top_ngram_char_frac"] == 0.0
        assert got[5]["top_ngram_char_frac"] == 0.0

    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            sql_top_ngram_char_frac,
            top_ngram_char_frac,
        )

        for n in (2, 3):
            _compare(
                top_ngram_char_frac(docs_df, n=n),
                _con(),
                sql_top_ngram_char_frac(n=n),
            )


class TestDupNgramFrac:
    def test_semantics(self, spark):
        from pdf_extraction_spark.operators.curation import dup_ngram_char_frac

        rows = [
            (1, "spam ham spam ham spam ham tail"),  # both bigrams dup; covers all but 'tail'
            (2, "all distinct words here now"),       # every bigram once
            (3, "one"),                               # < n tokens
            (4, None),
            (5, "x x x"),                             # "x x" @0,@1 — union covers everything
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["dup_ngram_char_frac"]
               for r in dup_ngram_char_frac(df, n=2).collect()}
        assert got[1] == round(21 / 25, 6)  # 6 covered tokens of the 7; tail excluded
        assert got[2] == 0.0
        assert got[3] == 0.0 and got[4] == 0.0
        assert got[5] == 1.0  # overlapping occurrences counted once, full cover

    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            dup_ngram_char_frac,
            sql_dup_ngram_char_frac,
        )

        for n in (2, 3):
            _compare(
                dup_ngram_char_frac(docs_df, n=n),
                _con(),
                sql_dup_ngram_char_frac(n=n),
            )


class TestParagraphDedup:
    PARA_DOCS = [
        (1, "unique one\nstill para one\n\nSHARED FOOTER TEXT\nline two of footer"),
        # same footer modulo lower+trim; blanks padded with space / tab
        (2, "shared footer text\nLINE TWO OF FOOTER\n \n\t\nother content here"),
        (3, "solo paragraph no dup"),
        (4, None),
        (5, "a\n\n\n\nb\n\nshared footer text\nline two of footer"),  # 3+ blank lines
        (6, ""),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.PARA_DOCS, "doc_id long, text string")

    def test_semantics(self, spark):
        from pdf_extraction_spark.operators.curation import dedup_paragraphs

        got = {r["doc_id"]: r for r in dedup_paragraphs(self._df(spark)).collect()}
        # the footer paragraph (3 normalized copies) is gone everywhere
        assert got[1]["clean_text"] == "unique one\nstill para one"
        assert got[2]["clean_text"] == "other content here"
        assert got[5]["clean_text"] == "a\n\nb"  # multi-blank separators collapse
        assert got[5]["n_paras_removed"] == 1
        # unique paragraphs survive verbatim; NULL/empty docs stay, empty
        assert got[3]["clean_text"] == "solo paragraph no dup"
        assert got[4]["clean_text"] == "" and got[4]["n_paras_kept"] == 0
        assert got[6]["n_paras_removed"] == 0

    def test_cross_engine(self, spark):
        from pdf_extraction_spark.operators.curation import (
            dedup_paragraphs,
            sql_dedup_paragraphs,
        )

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", self.PARA_DOCS)
        _compare(dedup_paragraphs(self._df(spark)), con, sql_dedup_paragraphs())


class TestUrlCanonical:
    def test_fixture_cross_engine_and_values(self, spark):
        import __spark_entry__ as e

        got = {
            r["uid"]: r["canonical"]
            for r in e.queries()["url_canonical"](spark, "/root/testdata/sf0.001").collect()
        }
        assert got[0] == "https://example.com/Path/Page?a=1&b=2"  # frag+utm gone, order kept
        assert got[1] == "http://host.example/index.html"  # :80 stripped, host lowered
        assert got[2] == "https://host.example/x"  # :443 + tracking-only query gone
        assert got[3] == "https://host.example:8443/x"  # non-default port kept
        assert got[5] == "https://host.example/a?x=1&y=2?z=3"  # '&&' collapsed, 2nd '?' is data
        assert got[6] == "not a url at all?utm_source=x"  # non-URL untouched
        assert got[7] is None
        assert got[8] == "https://upper.example/KeepCasePath"  # path case kept
        assert got[9] == "https://host.example/p"  # bare '?' dropped
        assert got[11] == "https://host.example/only"

    def test_randomized_cross_engine(self, spark):
        """Seeded random URL-ish strings through both engines — catches
        split/position/regex divergence the fixture can't."""
        import random

        import __spark_entry__ as e
        from pdf_extraction_spark.operators.curation import (
            canonical_url_col,
            sql_canonical_url,
        )

        rng = random.Random(77)
        frags = ["https://", "http://", "", "Host.EX:80", "host:443", "a.b",
                 "/p/q", "?", "utm_source=1", "x=2", "&", "#f", "gclid=9",
                 "UPPER", "ü", "??", "=", "&&", ":8080",
                 # trailing-newline class: Java's $ matches before a final
                 # \n, RE2's doesn't — the \z anchors must keep parity
                 "\n", "utm_x\n", ":80\n"]
        rows = [(i, "".join(rng.choice(frags) for _ in range(rng.randint(0, 8))))
                for i in range(120)]
        df = spark.createDataFrame(rows, "uid int, url string")
        spark_out = sorted(
            (r["uid"], r["canonical"])
            for r in df.select("uid", canonical_url_col(F.col("url")).alias("canonical")).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE urls (uid INT, url VARCHAR)")
        con.executemany("INSERT INTO urls VALUES (?, ?)", rows)
        duck_out = sorted(
            con.execute(
                f"SELECT uid, {sql_canonical_url('url')} AS canonical FROM urls"
            ).fetchall()
        )
        assert spark_out == duck_out


class TestLineDedup:
    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import dedup_lines, sql_dedup_lines

        out = dedup_lines(docs_df, "text", "doc_id", min_occurrences=2)
        _compare(out, _con(), sql_dedup_lines(min_occurrences=2))

    def test_keep_first_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            dedup_lines_keep_first,
            sql_dedup_lines_keep_first,
        )

        out = dedup_lines_keep_first(docs_df, "text", "doc_id")
        _compare(out, _con(), sql_dedup_lines_keep_first())

    def test_keep_first_semantics(self, docs_df):
        """Exactly ONE copy of each normalized line survives, in the
        earliest (doc_id, line_no) position — the C4 semantic, vs
        dedup_lines' remove-all-copies."""
        from pdf_extraction_spark.operators.curation import dedup_lines_keep_first

        rows = {
            r["doc_id"]: r for r in dedup_lines_keep_first(docs_df).collect()
        }
        # the shared boilerplate line survives ONLY in doc 0 (lowest id)
        assert "boilerplate" in rows[0]["clean_text"].lower()
        for d in (1, 2):
            assert "boilerplate" not in rows[d]["clean_text"].lower()
            assert rows[d]["n_lines_removed"] >= 1
        # every distinct normalized line appears exactly once corpus-wide
        from collections import Counter

        all_lines = Counter(
            line.strip().lower()
            for r in rows.values()
            for line in r["clean_text"].split("\n")
            if line.strip()
        )
        assert all(c == 1 for c in all_lines.values()), all_lines.most_common(3)
        # totality
        for d in (6, 9):
            assert rows[d]["clean_text"] == ""

    def test_boilerplate_removed_case_insensitively(self, docs_df):
        from pdf_extraction_spark.operators.curation import dedup_lines

        rows = {r["doc_id"]: r for r in dedup_lines(docs_df, min_occurrences=2).collect()}
        # "shared boilerplate line" appears in docs 0,1,2 (one uppercase,
        # one with trailing spaces) — all three variants removed
        for d in (0, 1, 2):
            assert "boilerplate" not in rows[d]["clean_text"].lower()
            assert rows[d]["n_lines_removed"] == 1
        # doc 7: "x" occurs 3 times → removed everywhere, doc empties
        assert rows[7]["clean_text"] == ""
        assert rows[7]["n_lines_kept"] == 0
        # totality: NULL-text and empty-text docs still come back
        for d in (6, 9):
            assert rows[d]["clean_text"] == ""
            assert rows[d]["n_lines_removed"] == 0
        # untouched docs keep their original line order
        assert rows[3]["clean_text"] == "• first\n• second\n• third"


class TestPiiScrub:
    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import scrub_pii, sql_scrub_pii

        _compare(scrub_pii(docs_df, "text", "doc_id"), _con(), sql_scrub_pii("text"))

    def test_masks(self, docs_df):
        from pdf_extraction_spark.operators.curation import scrub_pii

        row = {r["doc_id"]: r for r in scrub_pii(docs_df).collect()}[4]
        assert row["n_emails"] == 1 and row["n_ips"] == 1 and row["n_phones"] == 1
        assert "<EMAIL>" in row["scrubbed"] and "<IP>" in row["scrubbed"]
        assert "<PHONE>" in row["scrubbed"]
        assert "example.co.uk" not in row["scrubbed"]
        assert "555" not in row["scrubbed"]


class TestSurtKeys:
    def test_fixture_values(self, spark):
        import __spark_entry__ as e

        got = {
            r["uid"]: r["surt"]
            for r in e.queries()["surt_keys"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        # host reversed, www stripped, query sorted, path lowered
        assert got[0] == "com,example)/path/page?a=1&b=2"
        assert got[1] == "com,example,domain,sub)/x"  # default :443 gone
        assert got[2] == "com,example:8080)/y?z"  # non-default port kept
        assert got[3] == "org,test:8443)/a?b&c=3"  # userinfo + www2 gone
        assert got[4] is None and got[5] is None  # non-URL / NULL
        assert got[6] == "com,example)"  # bare host, empty path
        assert got[7] == "net,example,files)/pub/readme.txt"
        assert got[8] == "com,example)/"  # trailing bare '?' dropped
        assert got[9] == "net,case,mixed)/q?a&b=1&b=2"  # lower THEN sort
        assert got[10] == "single)/x"  # single-label host
        assert got[11] is None  # 'www.' strips to empty host

    def test_domain_locality_under_sort(self, spark):
        """The point of SURT: sorting by the key clusters a domain's
        hosts contiguously (range shards = per-domain range scans)."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.operators.curation import surt_key_col

        urls = [
            (i, u)
            for i, u in enumerate(
                [
                    "http://a.example.com/1",
                    "http://zz-unrelated.org/x",
                    "http://b.example.com/2",
                    "http://example.com/root",
                    "http://aardvark.net/y",
                    "http://www.example.com/www",
                ]
            )
        ]
        df = spark.createDataFrame(urls, "uid int, url string")
        keys = sorted(
            r["surt"]
            for r in df.select(
                surt_key_col(F.col("url")).alias("surt")
            ).collect()
        )
        dom = [k for k in keys if k.startswith("com,example")]
        lo, hi = keys.index(dom[0]), keys.index(dom[-1])
        assert hi - lo + 1 == len(dom) == 4  # contiguous run

    def test_strict_twin_on_fuzz(self, spark):
        import random

        import duckdb

        from pdf_extraction_spark.operators.curation import (
            sql_surt_key,
            surt_key_col,
        )
        from pyspark.sql import functions as F

        rng = random.Random(42)
        frags = [
            "http://", "https://", "", "www.", "WWW3.", "a.b", "X.Y.z",
            ":80", ":443", ":8080", "/p/Q", "?b=2&a=1", "?A&&b", "#f",
            "user@", ":pw@", ".", "..", "@",
        ]
        rows = [
            (i, "".join(rng.choice(frags) for _ in range(rng.randint(1, 6))))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "uid int, url string")
        got = sorted(
            (r["uid"], r["surt"])
            for r in df.select(
                "uid", surt_key_col(F.col("url")).alias("surt")
            ).collect()
        )
        con = duckdb.connect()
        vals = ", ".join(
            "(%d, '%s')" % (u, s.replace("'", "''")) for u, s in rows
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                f"SELECT uid, {sql_surt_key('url')} AS surt "
                f"FROM (VALUES {vals}) t(uid, url)"
            ).fetchall()
        )
        assert got == want


class TestUrlFilter:
    def test_semantics_and_cross_engine(self, spark):
        import duckdb as _duck

        import __spark_entry__ as e
        from pdf_extraction_spark.operators.curation import filter_urls, sql_url_filter

        urls = spark.createDataFrame(e.URL_FILTER_ROWS, "uid int, url string")
        kept = sorted(
            r["uid"]
            for r in filter_urls(urls, blocked_hosts=e.URL_BLOCKED_HOSTS).collect()
        )
        # keeps: .pdf doc, extension-less page, .html with fragment;
        # drops: ftp scheme, .PNG/.css assets (case/query-insensitive),
        # blocked host (case-insensitive), schemeless garbage
        assert kept == [0, 1, 6]
        sql = (
            "SELECT uid FROM " + e._sql_values(e.URL_FILTER_ROWS, ["uid", "url"])
            + " WHERE " + sql_url_filter("url", blocked_hosts=e.URL_BLOCKED_HOSTS)
        )
        assert sorted(r[0] for r in _duck.sql(sql).fetchall()) == kept


class TestDecontamination:
    EVAL = [
        (0, "alpha beta gamma"),                       # 3-gram of doc 0's first line
        (1, "totally unseen benchmark prompt words"),  # no overlap
    ]

    def test_cross_engine(self, docs_df, spark):
        from pdf_extraction_spark.operators.curation import (
            flag_contaminated,
            sql_flag_contaminated,
        )
        import __spark_entry__ as e

        eval_df = spark.createDataFrame(self.EVAL, "eid int, text string")
        out = flag_contaminated(docs_df, eval_df, n=3)
        sql = sql_flag_contaminated(
            e._sql_values([(t,) for _, t in self.EVAL], ["text"]), n=3
        )
        _compare(out, _con(), sql)

    def test_cross_engine_case_fold(self, spark):
        """İ and a word-final Σ: Spark's lower() gives i̇ and ς, so the
        hash prefilter must fold them exactly like the exact recheck
        and the DuckDB twin, or the doc is never rechecked."""
        from pdf_extraction_spark.operators.curation import (
            flag_contaminated,
            sql_flag_contaminated,
        )
        import __spark_entry__ as e

        docs = [(0, "İSTANBUL ΟΔΟΣ market report"), (1, "unrelated plain words here")]
        evals = [(0, "istanbul οδοσ market")]
        docs_df = spark.createDataFrame(docs, "doc_id long, text string")
        eval_df = spark.createDataFrame(evals, "eid int, text string")
        out = flag_contaminated(docs_df, eval_df, n=3)
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        sql = sql_flag_contaminated(e._sql_values([(t,) for _, t in evals], ["text"]), n=3)
        _compare(out, con, sql)
        rows = {r["doc_id"]: r["contaminated"] for r in out.collect()}
        assert rows == {0: True, 1: False}

    def test_semantics(self, docs_df, spark):
        from pdf_extraction_spark.operators.curation import flag_contaminated

        eval_df = spark.createDataFrame(self.EVAL, "eid int, text string")
        rows = {r["doc_id"]: r for r in flag_contaminated(docs_df, eval_df, n=3).collect()}
        assert len(rows) == len(DOCS)          # total: every doc flagged or not
        assert rows[0]["contaminated"] is True  # contains "alpha beta gamma"
        assert rows[0]["n_overlaps"] == 1
        assert all(not rows[d]["contaminated"] for d in rows if d != 0)


class TestPackSequences:
    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            pack_sequences,
            sql_pack_sequences,
        )
        from pdf_extraction_spark.operators.textanalysis import (
            sql_token_count,
            token_count_col,
        )
        from pyspark.sql import functions as F

        toks = docs_df.select(
            "doc_id", token_count_col(F.coalesce(F.col("text"), F.lit(""))).alias("token_count")
        )
        out = pack_sequences(toks, budget=16, n_shards=2)
        _compare(
            out, _con(), sql_pack_sequences(
                sql_token_count("coalesce(text, '')"), budget=16, n_shards=2
            )
        )

    def test_packing_invariants(self, spark):
        from pdf_extraction_spark.operators.curation import pack_sequences, pack_stats

        rows = [(i, 10 + (i % 7)) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, token_count int")
        packed = pack_sequences(df, budget=64, n_shards=4).persist()
        got = packed.collect()
        # every doc present exactly once
        assert sorted(r["doc_id"] for r in got) == [i for i, _ in rows]
        # a doc starts inside its sequence's budget window
        for r in got:
            assert 0 <= r["offset_in_seq"] < 64
        # per (shard, seq): offsets are the running layout — docs tile
        # head-to-tail in doc_id order across sequence boundaries
        by_shard = {}
        for r in sorted(got, key=lambda r: (r["shard"], r["doc_id"])):
            cum = by_shard.get(r["shard"], 0)
            assert r["seq_id"] == cum // 64 and r["offset_in_seq"] == cum % 64
            by_shard[r["shard"]] = cum + r["token_count"]
        # stats: every non-final sequence is filled to within two docs of
        # budget (a boundary-spanning doc counts where it STARTS, so each
        # boundary can shift up to max_tok tokens on each side)
        max_tok = 16
        stats = {(s["shard"], s["seq_id"]): s for s in pack_stats(packed, budget=64).collect()}
        for (shard, seq), s in stats.items():
            is_last = seq == max(q for sh, q in stats if sh == shard)
            if not is_last:
                assert s["total_tokens"] > 64 - 2 * max_tok
        packed.unpersist()

    def test_deterministic(self, spark):
        from pdf_extraction_spark.operators.curation import pack_sequences

        df = spark.createDataFrame([(i, 5 + i % 3) for i in range(50)], "doc_id long, token_count int")
        a = sorted(map(tuple, pack_sequences(df, budget=32, n_shards=4).collect()))
        b = sorted(map(tuple, pack_sequences(df.repartition(7), budget=32, n_shards=4).collect()))
        assert a == b  # partitioning-independent


class TestStratifiedSample:
    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            sql_stratified_sample,
            stratified_sample,
        )

        fr = {"src0": 1.0, "src1": 0.5}
        out = stratified_sample(docs_df, "doc_id", "source", fr, 0.0).select(
            "doc_id", "source"
        )
        _compare(
            out,
            _con(),
            "SELECT doc_id, source FROM documents WHERE "
            + sql_stratified_sample("doc_id", "source", fr, 0.0),
        )

    def test_deterministic_and_stratum_exact(self, docs_df):
        from pdf_extraction_spark.operators.curation import stratified_sample

        fr = {"src0": 1.0, "src1": 0.0}
        got = stratified_sample(docs_df, "doc_id", "source", fr, 0.0)
        rows = sorted((r["doc_id"], r["source"]) for r in got.collect())
        # fraction 1.0 keeps every src0 row, 0.0 drops all others
        assert rows == [(i, "src0") for i, _ in DOCS if i % 3 == 0]
        # re-run is identical (hash, not rand())
        assert rows == sorted(
            (r["doc_id"], r["source"])
            for r in stratified_sample(docs_df, "doc_id", "source", fr, 0.0).collect()
        )


class TestRandomizedCrossEngine:
    """Seeded random corpora through BOTH engines — catches RE2-vs-Java
    regex divergence the crafted rows can't. Alphabet is printable ASCII
    + newline + accented letters; exotic Unicode WHITESPACE is excluded
    deliberately: the twins' ASCII \\s split there is a documented
    residual (see word_count_col docstring)."""

    ALPHABET = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        " \n\t.,;:!?#*-•…()[]{}'\"@+%/\\_=<>~^|éüßñ"
    )

    @staticmethod
    def _random_docs(n=40, seed=1234):
        import random

        rng = random.Random(seed)
        docs = []
        for i in range(n):
            n_chars = rng.randint(0, 400)
            docs.append((i, "".join(rng.choice(TestRandomizedCrossEngine.ALPHABET) for _ in range(n_chars)), f"src{i % 3}"))
        # a few adversarial fixed rows: SQL-quote soup, regex metachars,
        # pii-ish fragments, dotted runs
        docs += [
            (n, "it''s a 'quoted' -- thing; DROP TABLE documents; \\' end", "src0"),
            (n + 1, "a.b@c.de +1 (23) 456-7890 1.2.3.4 ...... … #", "src1"),
            (n + 2, "(((((((((( ]]]]] ***** \\d+ \\s \\w [a-z]", "src2"),
            (n + 3, "\n\n\n   \n\t\n", "src0"),
            # IPs glued to Unicode letters: the old Java \b (Unicode-aware)
            # diverged from RE2's ASCII \b here; the explicit ASCII-class
            # lookarounds must now mask identically in both engines
            (n + 4, "ü1.2.3.4 glued é10.0.0.1ö and 5.6.7.8ß end ñ9.8.7.6", "src1"),
            (n + 5, "x1.2.3.4 9.9.9.9_ _7.7.7.7 1.2.3.4.5 a1.2.3.4b 2.3.4.5", "src2"),
        ]
        return docs

    def _both(self, spark, docs):
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, source VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", docs)
        df = spark.createDataFrame(docs, "doc_id long, text string, source string")
        return df, con

    def test_gopher_pii_lines_sampling(self, spark):
        from pdf_extraction_spark.operators.curation import (
            dedup_lines,
            scrub_pii,
            sql_dedup_lines,
            sql_gopher_flags,
            sql_scrub_pii,
            sql_stratified_sample,
            stratified_sample,
            with_gopher_flags,
        )

        docs = self._random_docs()
        df, con = self._both(spark, docs)

        out = with_gopher_flags(df, "text").select(
            "doc_id", "dup_line_frac", "dup_para_frac", "dup_line_char_frac",
            "dup_para_char_frac", "symbol_word_ratio", "bullet_line_frac",
            "ellipsis_line_frac", "alpha_word_frac", "gopher_pass",
        )
        _compare(out, con, sql_gopher_flags("text"))
        _compare(scrub_pii(df, "text", "doc_id"), con, sql_scrub_pii("text"))
        _compare(dedup_lines(df, min_occurrences=2), con, sql_dedup_lines(2))
        from pdf_extraction_spark.operators.curation import (
            dedup_lines_keep_first,
            sql_dedup_lines_keep_first,
        )

        _compare(dedup_lines_keep_first(df), con, sql_dedup_lines_keep_first())
        from pdf_extraction_spark.operators.curation import (
            sql_top_ngram_char_frac,
            top_ngram_char_frac,
        )

        _compare(top_ngram_char_frac(df, n=2), con, sql_top_ngram_char_frac(n=2))
        fr = {"src0": 0.4, "src1": 0.9}
        _compare(
            stratified_sample(df, "doc_id", "source", fr, 0.1).select("doc_id", "source"),
            con,
            "SELECT doc_id, source FROM documents WHERE "
            + sql_stratified_sample("doc_id", "source", fr, 0.1),
        )

    def test_langid_and_ngrams(self, spark):
        import __spark_entry__ as e
        from pdf_extraction_spark.operators.curation import (
            flag_contaminated,
            sql_flag_contaminated,
        )
        from pdf_extraction_spark.operators.textanalysis import (
            langid_udf,
            sql_detect_language,
            sql_token_count,
            token_count_col,
        )

        docs = self._random_docs(seed=77)
        df, con = self._both(spark, docs)

        _compare(
            df.select("doc_id", langid_udf(F.col("text")).alias("detected_lang")),
            con,
            sql_detect_language("text"),
        )
        _compare(
            df.select("doc_id", token_count_col(F.col("text")).alias("token_count")),
            con,
            f"SELECT doc_id, {sql_token_count('text')} AS token_count FROM documents",
        )
        # categorizer twin on the same random corpus (word-boundary
        # alternations through Java-vs-RE2)
        from pdf_extraction_spark.operators.categorize import (
            explode_categories,
            sql_categories,
            with_categories,
        )

        cats = {"A": ["spark", "caf\u00e9", "x"], "B": ["drop", "table", "+1"]}
        _compare(
            explode_categories(
                with_categories(df.select("doc_id", "text"), content_col="text",
                                keywords_by_category=cats)
            ).select("doc_id", "category"),
            con,
            sql_categories("text", cats, "doc_id"),
        )

        eval_rows = [(0, docs[5][1][:60] or "x y z"), (1, "nothing matches this")]
        eval_df = spark.createDataFrame(eval_rows, "eid int, text string")
        _compare(
            flag_contaminated(df, eval_df, n=3),
            con,
            sql_flag_contaminated(e._sql_values([(t,) for _, t in eval_rows], ["text"]), n=3),
        )


class TestRandomizedRound1Twins:
    """The same randomized corpora through the round-1 text twins
    (quality ladder, word stats, wordset dedup, text ratios) — these
    were only ever oracle-gated on the ASCII driver corpus."""

    def _both(self, spark, seed):
        docs = TestRandomizedCrossEngine._random_docs(seed=seed)
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, source VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", docs)
        return spark.createDataFrame(docs, "doc_id long, text string, source string"), con

    def test_word_stats_filters_ratios(self, spark):
        from pdf_extraction_spark.operators.filters import sql_word_count, word_count_col

        df, con = self._both(spark, 991)
        _compare(
            df.select("doc_id", F.length("text").cast("int").alias("content_length"),
                      word_count_col("text").alias("word_count")),
            con,
            f"SELECT doc_id, CAST(length(text) AS INT) AS content_length, "
            f"{sql_word_count('text')} AS word_count FROM documents",
        )
        from pdf_extraction_spark.operators.textanalysis import with_quality_ratios

        out = with_quality_ratios(df, "text").select(
            "doc_id", "n_words", "avg_word_len", "punct_ratio", "stopword_ratio"
        )
        _compare(
            out,
            con,
            "WITH w AS (SELECT doc_id, text, length(text) AS n_chars, "
            "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words FROM documents) "
            "SELECT doc_id, CAST(len(words) AS INT) AS n_words, "
            "round(CAST(n_chars AS DOUBLE) / greatest(len(words), 1), 4) AS avg_word_len, "
            "round(CAST(len(regexp_extract_all(text, '[^\\p{L}\\p{N}_\\s]')) AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio, "
            "round(CAST(len(list_filter(words, x -> list_contains(['the','a','of','to','and','in','is'], x))) AS DOUBLE) / greatest(len(words), 1), 4) AS stopword_ratio "
            "FROM w",
        )

    def test_quality_and_wordset(self, spark):
        import __spark_entry__ as e
        from pdf_extraction_spark.operators.project import quality_score_col, sql_quality_score

        df, con = self._both(spark, 555)
        out = df.select(
            "doc_id",
            F.round(
                quality_score_col("text", e.DOC_ADMIN, e.DOC_BUSINESS, e.DOC_QA, e.DOC_CLOSING), 2
            ).cast("double").alias("quality_score"),
        )
        _compare(
            out,
            con,
            "SELECT doc_id, CAST(round(CAST("
            + sql_quality_score("text", e.DOC_ADMIN, e.DOC_BUSINESS, e.DOC_QA, e.DOC_CLOSING)
            + " AS DOUBLE), 2) AS DOUBLE) AS quality_score FROM documents",
        )
        from pdf_extraction_spark.operators.dedup import exact_duplicates, wordset_key_col

        _compare(
            exact_duplicates(df, "text", "doc_id", key=wordset_key_col("text")).select(
                "n_dups", "keep_id"
            ),
            con,
            "SELECT count(*) AS n_dups, min(doc_id) AS keep_id FROM documents "
            "GROUP BY md5(array_to_string(list_sort(list_distinct("
            "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))), ' ')) "
            "HAVING count(*) > 1",
        )


class TestWeightedMix:
    def test_semantics(self, spark):
        from pdf_extraction_spark.operators.curation import weighted_mix

        rows = [(i, f"s{i % 2}") for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = weighted_mix(
            df, "doc_id", "source", rates={"s0": 2.5, "s1": 0.4}
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r.copy_no)
        # s0 docs appear 2 or 3 times, copy_no contiguous from 0
        n3 = 0
        for i in range(0, 400, 2):
            copies = sorted(by_doc[i])
            assert copies in ([0, 1], [0, 1, 2])
            n3 += len(copies) == 3
        # the fractional epoch hits ~half of s0 (md5-uniform)
        assert 60 <= n3 <= 140
        # s1 keeps ~40%, one copy each
        s1_docs = [d for d in by_doc if d % 2 == 1]
        assert 50 <= len(s1_docs) <= 110
        assert all(by_doc[d] == [0] for d in s1_docs)

    def test_rate_zero_and_default(self, spark):
        from pdf_extraction_spark.operators.curation import weighted_mix

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string"
        )
        out = weighted_mix(
            df, "doc_id", "source", rates={"a": 0.0, "b": 1.0}, default_rate=0.0
        ).collect()
        # a: rate 0 → gone; c: default 0 → gone; b survives once
        assert [(r.doc_id, r.copy_no) for r in out] == [(2, 0)]

    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            sql_weighted_mix,
            weighted_mix,
        )

        _compare(
            weighted_mix(
                docs_df, "doc_id", "source", rates={"src0": 3.2, "src1": 0.6}
            ).select("doc_id", "source", "copy_no"),
            _con(),
            sql_weighted_mix(
                "doc_id", "source", rates={"src0": 3.2, "src1": 0.6}
            ),
        )


class TestDedupSpans:
    def test_semantics(self, spark):
        from pdf_extraction_spark.operators.curation import dedup_spans

        shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
        rows = [
            (1, f"intro words here {shared} outro part"),
            (2, f"totally different beginning {shared} and ending text"),
            (3, "a unique document with no repeated windows at all today"),
            (4, "tiny doc"),            # < k tokens: passes through whole
            (5, None),
            (6, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in dedup_spans(df, k=8).collect()}
        # the shared 10-token passage spans 3 overlapping 8-windows that
        # union into ONE removed span in both docs
        assert got[1].clean_text == "intro words here outro part"
        assert got[2].clean_text == "totally different beginning and ending text"
        assert got[1].n_tokens_removed == 10 and got[2].n_tokens_removed == 10
        assert got[3].n_tokens_removed == 0
        assert got[4].clean_text == "tiny doc" and got[4].n_tokens_removed == 0
        assert got[5].clean_text == "" and got[5].n_tokens_kept == 0
        assert got[6].clean_text == ""

    def test_within_doc_repetition_counts(self, spark):
        from pdf_extraction_spark.operators.curation import dedup_spans

        eight = "one two three four five six seven eight"
        df = spark.createDataFrame(
            [(1, f"{eight} middle bit {eight}")], "doc_id long, text string"
        )
        got = dedup_spans(df, k=8).collect()[0]
        # both copies of the window occur >= 2 times -> both removed
        assert got.clean_text == "middle bit"
        assert got.n_tokens_removed == 16

    def test_cross_engine(self, docs_df):
        from pdf_extraction_spark.operators.curation import (
            dedup_spans,
            sql_dedup_spans,
        )

        for k in (3, 8):
            _compare(dedup_spans(docs_df, k=k), _con(), sql_dedup_spans(k=k))

    def test_window_keys_not_forgeable_by_control_chars(self, spark):
        """Regression: with a chr(31)-joined key, these two UNIQUE docs
        (the same letters split differently by an embedded \\x1f) had
        colliding window keys and were both wiped. Newline joining is
        unforgeable — \\n is whitespace and can't survive in a token."""
        from pdf_extraction_spark.operators.curation import (
            dedup_spans,
            sql_dedup_spans,
        )

        rows = [
            (1, "a\x1fb c d e f g h i"),
            (2, "a b c d e f g h\x1fi"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in dedup_spans(df, k=8).collect()}
        assert got[1].n_tokens_removed == 0
        assert got[2].n_tokens_removed == 0
        # and the twin agrees
        _compare(
            dedup_spans(
                spark.createDataFrame(
                    [(i, t, "s") for i, t in rows],
                    "doc_id long, text string, source string",
                ),
                k=8,
            ),
            (lambda c: (c.execute(
                "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, source VARCHAR)"
            ), c.executemany(
                "INSERT INTO documents VALUES (?, ?, ?)",
                [(i, t, "s") for i, t in rows],
            ), c)[-1])(duckdb.connect()),
            sql_dedup_spans(k=8),
        )


class TestC4:
    ROWS = [
        # passes: 3 kept lines, >= 3 sentences
        (1, "This is a good first sentence here.\n"
            "The second line also has enough words.\n"
            "A third full sentence ends properly too."),
        # line rules: 4-word terminal line dropped; 6-word no-punct line
        # dropped; javascript line dropped (case-insensitive)
        (2, "Only four words here.\n"
            "six words but no terminal punctuation\n"
            "Please enable JavaScript to view this page.\n"
            "This one good line survives the filter intact."),
        # page rules: lorem ipsum / curly brace / bad word each veto the
        # page even when the lines themselves are clean
        (3, "Lorem Ipsum dolor sit amet is filler.\n"
            "A second clean sentence sits right here.\n"
            "A third clean sentence closes it out."),
        (4, "This config block contains a { brace today.\n"
            "A second clean sentence sits right here.\n"
            "A third clean sentence closes it out."),
        (5, "This page says shit in plain words.\n"
            "A second clean sentence sits right here.\n"
            "A third clean sentence closes it out."),
        # only two sentences -> fails the 3-sentence minimum
        (6, "A first full sentence lives right here.\n"
            "The second and final sentence stops now."),
        (7, None),  # total on NULL text
        # end-quote is terminal punctuation; trailing CR/spaces trimmed
        (8, "He said the words \"this line counts here.\"\n"
            "Another long enough line ends with period.   \r\n"
            "A third full sentence ends properly too."),
        # NEL after the period: not Java-WS, so the trimmed line does NOT
        # end in terminal punct; \z (not $) makes both engines drop it
        (9, "Ends with a period before the terminator.\u0085\n"
            "A second clean sentence sits right here.\n"
            "A third clean sentence closes it out.\n"
            "A fourth full sentence ends properly too."),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id long, text string")

    def test_semantics(self, spark):
        from pdf_extraction_spark.operators.curation import c4_filter, with_c4_flags

        got = {r.doc_id: r for r in with_c4_flags(self._docs(spark)).collect()}
        assert got[1].c4_pass is True and got[1].n_lines_kept == 3
        assert got[1].n_sentences == 3
        # doc 2: only the final line survives -> 1 sentence -> page fails
        assert got[2].n_lines_kept == 1
        assert got[2].c4_text == "This one good line survives the filter intact."
        assert got[2].c4_pass is False
        assert got[3].c4_pass is False  # lorem ipsum
        assert got[4].c4_pass is False  # curly brace
        assert got[5].c4_pass is False  # bad word
        assert got[6].c4_pass is False and got[6].n_sentences == 2
        assert got[7].c4_pass is False and got[7].c4_text == ""
        assert got[8].c4_pass is True and got[8].n_lines_kept == 3
        # NEL line dropped; the other three carry the page
        assert got[9].n_lines_kept == 3 and got[9].c4_pass is True
        kept = {r.doc_id for r in c4_filter(self._docs(spark)).collect()}
        assert kept == {1, 8, 9}

    def test_cross_engine(self, spark):
        from pdf_extraction_spark.operators.curation import sql_c4_flags, with_c4_flags

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", self.ROWS)
        _compare(with_c4_flags(self._docs(spark)), con, sql_c4_flags("text", "doc_id"))


class TestRefinedWeb:
    """RefinedWeb line-wise correction semantics (cross-engine parity of
    the registered query is pinned by the strict refinedweb_lines twin
    over boilerplate-augmented input)."""

    def _run(self, spark, texts):
        from pdf_extraction_spark.operators.curation import with_refinedweb_flags

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return {r["doc_id"]: r for r in with_refinedweb_flags(df).collect()}

    def test_each_removal_rule(self, spark):
        text = "\n".join(
            [
                "A normal sentence stays here.",
                "BREAKING NEWS HEADLINE",   # mainly uppercase
                "12/03/2020",               # numeric-only (no letters)
                "12 likes",                 # social counter
                "  Sign In  ",              # nav phrase (trimmed, cased)
                "Another normal line stays.",
            ]
        )
        got = self._run(spark, [text])[0]
        assert got["n_lines_removed"] == 4
        assert got["rw_text"] == (
            "A normal sentence stays here.\nAnother normal line stays."
        )

    def test_exactly_half_uppercase_is_kept(self, spark):
        # "mainly" = strictly more than half the cased letters
        got = self._run(spark, ["AAbb stays AAbb stays"])[0]
        assert got["n_lines_removed"] == 0

    def test_counter_needs_known_noun(self, spark):
        got = self._run(spark, ["3 cats"])[0]  # not a social counter
        assert got["n_lines_removed"] == 0

    def test_untouched_doc_roundtrips_byte_identical(self, spark):
        text = "Line one stays.\n\nLine two stays.\r\nLine three."
        got = self._run(spark, [text])[0]
        assert got["rw_text"] == text and got["chars_removed"] == 0
        assert got["rw_pass"] is True

    def test_five_percent_budget_boundary(self, spark):
        # removed = "2020" + its newline = 5 chars. len 100 -> 5*20 <= 100
        # passes; len 99 -> 100 > 99 fails.
        keep95 = "x" * 95
        keep94 = "x" * 94
        got = self._run(spark, [keep95 + "\n2020", keep94 + "\n2020"])
        assert got[0]["chars_removed"] == 5 and got[0]["rw_pass"] is True
        assert got[1]["chars_removed"] == 5 and got[1]["rw_pass"] is False

    def test_null_text_is_empty_and_passes(self, spark):
        got = self._run(spark, [None])[0]
        assert got["rw_text"] == "" and got["rw_pass"] is True

    def test_cross_engine(self, docs_df):
        # in-pytest twin guard (the oracle sweep is out-of-band): the
        # fixture docs plus adversarial boilerplate rows
        from pdf_extraction_spark.operators.curation import (
            sql_refinedweb_flags,
            with_refinedweb_flags,
        )

        extra = [
            (900, "MOSTLY UPPER line\nnormal line.\n12 likes\nHome", "src0"),
            (901, "  2020  \n3 cats\nSIGN IN\nSign In", "src1"),
            (902, "x" * 95 + "\n2020", "src2"),
        ]
        con = _con()
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", extra)
        df = docs_df.sparkSession.createDataFrame(
            [(i, t) for i, t, _ in extra], "doc_id long, text string"
        )
        both = docs_df.select("doc_id", "text").unionByName(df)
        _compare(with_refinedweb_flags(both), con, sql_refinedweb_flags("text"))

    def test_filter_form_keeps_passing_docs(self, spark):
        from pdf_extraction_spark.operators.curation import refinedweb_filter

        df = spark.createDataFrame(
            [
                (1, "A fine document line.\nAnother fine line."),
                (2, "HEADLINE ONLY\n2020\n12 likes"),  # everything removed
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["rw_text"] for r in refinedweb_filter(df).collect()}
        assert set(rows) == {1}
        assert rows[1] == "A fine document line.\nAnother fine line."

    def test_batch_invariants_on_random_text(self, spark):
        # seeded adversarial batch, one job: kept lines must be an
        # ordered subsequence of the original lines, chars_removed must
        # match the length identity, and the page flag must equal the
        # integer rule exactly
        import random

        rng = random.Random(42)
        alphabet = "aA zZ09.!?\n\ré LIKES likes comments Home SIGN IN {}"
        texts = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 300)))
            for _ in range(120)
        ] + [None, "", "\n\n\n", "2020\n2020\n2020"]
        from pdf_extraction_spark.operators.curation import with_refinedweb_flags

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        for r in with_refinedweb_flags(df).collect():
            src = texts[r["doc_id"]] or ""
            src_lines = src.split("\n")
            kept_lines = r["rw_text"].split("\n") if r["rw_text"] != "" else []
            it = iter(src_lines)  # ordered-subsequence check
            assert all(any(k == s for s in it) for k in kept_lines), r["doc_id"]
            assert r["chars_removed"] == len(src) - len(r["rw_text"]) >= 0
            assert r["rw_pass"] == (r["chars_removed"] * 20 <= len(src))
            assert 0 <= r["n_lines_removed"] <= len(src_lines)


# ---------------------------------------------------------------------------
# domain-disjoint holdout split
# ---------------------------------------------------------------------------


class TestHoldoutSplit:
    def _docs(self, spark):
        rows = []
        for i in range(300):
            if i % 29 == 0:
                host = None
            elif i % 29 == 1:
                host = "com"  # bare suffix -> registrable NULL -> raw-host key
            else:
                host = f"{'www.' if (i // 40) % 2 else 'blog.'}site{i % 40}.co.uk"
            rows.append((i, host))
        return spark.createDataFrame(rows, "doc_id long, host string")

    def test_domain_never_straddles_splits(self, spark):
        from pdf_extraction_spark.operators.curation import holdout_split

        out = holdout_split(
            self._docs(spark), splits={"train": 0.8, "valid": 0.1, "test": 0.1}
        ).collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r["split_key"], set()).add(r["split"])
        assert all(len(v) == 1 for v in by_key.values())
        # subdomain variants of one registrable share the key (the point)
        keys = {r["host"]: r["split_key"] for r in out if r["host"] and "." in r["host"]}
        assert keys["www.site3.co.uk"] == keys["blog.site3.co.uk"] == "site3.co.uk"
        # NULL hosts key as '' together; bare suffix falls back to the host
        assert {r["split_key"] for r in out if r["host"] is None} == {""}
        assert {r["split_key"] for r in out if r["host"] == "com"} == {"com"}

    def test_every_split_fires_and_is_deterministic(self, spark):
        from pdf_extraction_spark.operators.curation import holdout_split

        docs = self._docs(spark)
        a = sorted(map(tuple, holdout_split(
            docs, splits={"train": 0.8, "valid": 0.1, "test": 0.1}).collect()))
        b = sorted(map(tuple, holdout_split(
            docs.repartition(13), splits={"train": 0.8, "valid": 0.1, "test": 0.1}
        ).collect()))
        assert a == b
        names = {t[-1] for t in a}
        assert names == {"train", "valid", "test"}

    def test_incremental_crawl_lands_in_same_split(self, spark):
        # a NEW page of a KNOWN domain must join the domain's split —
        # the property that keeps a daily-refreshed corpus leakage-free
        from pdf_extraction_spark.operators.curation import holdout_split

        old = holdout_split(self._docs(spark)).collect()
        by_key = {r["split_key"]: r["split"] for r in old}
        new = spark.createDataFrame(
            [(9001, "m.site3.co.uk"), (9002, "deep.sub.site17.co.uk")],
            "doc_id long, host string",
        )
        for r in holdout_split(new).collect():
            assert r["split"] == by_key[r["split_key"]]

    def test_bad_fractions_raise(self, spark):
        from pdf_extraction_spark.operators.curation import holdout_split

        with pytest.raises(ValueError):
            holdout_split(self._docs(spark), splits={"train": 0.9, "test": 0.2})


class TestBlocklistGate:
    """Tiered phrase-blocklist gate: verdict semantics + plan shape."""

    PHRASES = [("bad apple", 2), ("mild", 1), ("never", 1)]

    def _run(self, spark, rows, **kw):
        from pdf_extraction_spark.operators.curation import blocklist_gate

        df = spark.createDataFrame(rows, "doc_id long, text string")
        ph = spark.createDataFrame(self.PHRASES, "phrase string, tier int")
        out = blocklist_gate(df, ph, **kw)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_hard_tier_blocks_on_single_hit(self, spark):
        got = self._run(spark, [(1, "one Bad APPLE among ten clean words here x y z")])
        r = got[1]
        assert r["n_hits"] == 1 and r["worst_tier"] == 2 and r["blocked"]
        assert r["hit_tokens"] == 2  # span accounting: bigram covers 2 words

    def test_soft_tier_density_rule(self, spark):
        # 1 soft hit in 20 words = 50k ppm < 60k → kept
        kept = self._run(spark, [(1, "mild " + "ok " * 19)])
        assert kept[1]["blocked"] is False and kept[1]["worst_tier"] == 1
        # 2 soft hits in 20 words = 100k ppm ≥ 60k → blocked
        dropped = self._run(spark, [(2, "mild mild " + "ok " * 18)])
        assert dropped[2]["blocked"] is True and dropped[2]["worst_tier"] == 1

    def test_zero_hit_null_and_empty_docs_still_verdict(self, spark):
        got = self._run(spark, [(1, "all clean words"), (2, None), (3, "")])
        assert set(got) == {1, 2, 3}
        for r in got.values():
            assert r["n_hits"] == 0 and r["worst_tier"] == 0 and not r["blocked"]
        assert got[2]["n_tokens"] == 0 and got[2]["hit_ppm"] == 0

    def test_occurrences_vs_distinct_phrases(self, spark):
        got = self._run(spark, [(1, "mild mild bad apple mild " + "pad " * 40)])
        r = got[1]
        assert r["n_hits"] == 4          # 3×mild + 1×bad-apple occurrences
        assert r["n_phrases"] == 2       # two distinct phrases matched
        assert r["hit_tokens"] == 5      # 3·1 + 1·2 words covered

    def test_case_folding_and_boundaries(self, spark):
        # tokenization lowers; phrase at the very start and very end
        got = self._run(spark, [(1, "BAD apple middle words never")])
        r = got[1]
        assert r["n_hits"] == 2 and r["worst_tier"] == 2 and r["blocked"]

    def test_blocklist_join_is_broadcast(self, spark):
        from pdf_extraction_spark.operators.curation import blocklist_gate

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        ph = spark.createDataFrame(self.PHRASES, "phrase string, tier int")
        plan = blocklist_gate(df, ph)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
