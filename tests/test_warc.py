"""WARC source tests: roundtrip + Spark reader + pipeline integration."""

from datetime import datetime

from pdf_extraction_spark.sources.synth import synth_page_row
from pdf_extraction_spark.sources.warc import (
    parse_warc_bytes,
    read_warc,
    write_warc,
)


def _records(n=12, seed=42):
    recs = []
    for i in range(n):
        row = synth_page_row(i, seed)
        ctype = "application/pdf" if row["url"].endswith(".pdf") else "text/html"
        recs.append(
            (row["url"], row["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"), ctype, row["html"])
        )
    return recs


class TestWarcRoundtrip:
    def test_parse_roundtrip(self, tmp_path):
        recs = _records()
        path = str(tmp_path / "test.warc")
        write_warc(recs, path)
        rows = parse_warc_bytes(open(path, "rb").read())
        assert len(rows) == len(recs)
        for (url, ts, _ct, payload), row in zip(recs, rows):
            assert row["url"] == url
            assert row["html"] == payload
            assert row["warc_ts"] == datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")

    def test_skips_non_response_records(self, tmp_path):
        path = str(tmp_path / "meta.warc")
        with open(path, "wb") as f:
            f.write(
                b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nblah\r\n\r\n"
            )
        assert parse_warc_bytes(open(path, "rb").read()) == []

    def test_gzipped_per_record_members(self, tmp_path):
        # Common-Crawl layout: every record its own gzip member
        import gzip

        recs = _records(5)
        plain = str(tmp_path / "p.warc")
        write_warc(recs, plain)
        raw = open(plain, "rb").read()
        # split back into records and gzip each separately
        from pdf_extraction_spark.sources.warc import iter_warc_records

        gz = b""
        pos = 0
        for _h, _b in iter_warc_records(raw):
            nxt = raw.find(b"WARC/1.0", pos + 1)
            end = nxt if nxt > 0 else len(raw)
            gz += gzip.compress(raw[pos:end])
            pos = end
        rows = parse_warc_bytes(gz)
        assert [r["url"] for r in rows] == [u for u, *_ in recs]

    def test_payload_with_crlf_inside(self, tmp_path):
        payload = b"first\r\n\r\nsecond WARC/ fake"
        path = str(tmp_path / "tricky.warc")
        write_warc([("https://x/y.html", "2020-01-01T00:00:00Z", "text/html", payload)], path)
        rows = parse_warc_bytes(open(path, "rb").read())
        assert rows[0]["html"] == payload


class TestWet:
    def test_wet_roundtrip_spark(self, spark, tmp_path):
        from pdf_extraction_spark.sources.warc import read_wet, write_wet

        recs = [
            ("https://a/x.html", "2020-01-01T00:00:00Z", "extracted text one\nline two"),
            ("https://b/y.html", "2021-06-15T12:30:00Z", "träger unicode ẞ"),
        ]
        write_wet(recs, str(tmp_path / "s.wet"))
        rows = {r.url: r for r in read_wet(spark, str(tmp_path / "s.wet")).collect()}
        assert rows["https://a/x.html"].text == "extracted text one\nline two"
        assert rows["https://b/y.html"].text == "träger unicode ẞ"
        assert rows["https://a/x.html"].html is None


class TestWarcSpark:
    def test_read_warc_to_pipeline(self, spark, tmp_path):
        from pdf_extraction_spark.kernels.extract import extract_document_text
        from pdf_extraction_spark.operators.extract import extract_parse

        for shard in range(3):
            write_warc(
                _records(8, seed=100 + shard), str(tmp_path / f"shard{shard}.warc")
            )
        pages = read_warc(spark, str(tmp_path / "*.warc"))
        assert pages.count() == 24

        docs = extract_parse(pages).select("url", "text").collect()
        by_url = {}
        for shard in range(3):
            for i in range(8):
                row = synth_page_row(i, seed=100 + shard)
                by_url[row["url"]] = extract_document_text(row["url"], row["html"])
        for r in docs:
            assert r.text == by_url[r.url], r.url


class TestJsonl:
    def test_jsonl_roundtrip_byte_identity(self, spark, tmp_path):
        """pages → JSONL → pages keeps binary payloads byte-identical
        (base64 bridge) and extraction output unchanged."""
        from pdf_extraction_spark.kernels.extract import extract_document_text
        from pdf_extraction_spark.operators.extract import extract_parse
        from pdf_extraction_spark.sources.pages import (
            read_pages_jsonl,
            synth_pages_df,
            write_pages_jsonl,
        )

        pages = synth_pages_df(spark, 30)
        out = str(tmp_path / "pages_jsonl")
        write_pages_jsonl(pages, out)
        back = read_pages_jsonl(spark, out)

        orig = {r["url"]: r for r in pages.collect()}
        rt = {r["url"]: r for r in back.collect()}
        assert set(orig) == set(rt)
        for url, r in rt.items():
            assert bytes(r["html"]) == bytes(orig[url]["html"])
            assert r["warc_ts"] == orig[url]["warc_ts"]

        expect = {
            url: extract_document_text(url, bytes(r["html"])) for url, r in orig.items()
        }
        a = {r["url"]: r["text"] for r in extract_parse(pages).select("url", "text").collect()}
        b = {r["url"]: r["text"] for r in extract_parse(back).select("url", "text").collect()}
        assert a == expect
        assert b == expect
