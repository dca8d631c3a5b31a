"""Extraction operator (S3/S4 + P1 + T1): pages → extracted text + turns.

``extract_parse`` is the one extraction entry point: a single
``mapInPandas`` over Arrow batches of ``html:binary``; each batch row is
dispatched to the PDF byte-stream parser or the HTML block classifier,
normalized (kernels.extract — the byte-identity contract) and segmented
into dialogue turns. The UDF runs executor-side over Arrow batches — the
only JVM↔Python crossing in the extract stage; no driver-side loops.

Scale notes (100 TB): the stage is embarrassingly parallel and
shuffle-free. Callers that want work distribution independent of crawl
file layout hash on url first — ``pages.repartition(n, F.xxhash64("url"))``
— as the bucketed job in plans/lineage.py does with
``pmod(xxhash64(url), B)``. Arrow batches are kept small
(session.ARROW_BATCH_ROWS) because payloads are MB-scale.
"""

from pyspark.sql import DataFrame

from ..kernels.extract import EXTRACTOR_VERSION, is_pdf_payload

FUSED_SCHEMA = (
    "url string, warc_ts timestamp, title string, text string, lang string, "
    "doc_type string, payload_bytes long, "
    "turns array<struct<speaker:string,text:string>>"
)


def _extract_parse_batches(batches):
    """Fused extract+clean+segment: ONE JVM↔Python crossing per batch.

    Chaining mapInPandas(extract) → pandas_udf(parse) puts two Python
    runners in every task (2× workers, 2× Arrow serialization of the
    full text column); fusing them halves worker count and Arrow traffic
    — measurably faster at high core counts and strictly better on a
    real cluster."""
    import pandas as pd

    from ..kernels.extract import extract_document
    from ..kernels.transcript import parse_transcript

    for pdf in batches:
        urls = pdf["url"].tolist()
        payloads = pdf["html"].tolist()
        titles, texts, doc_types, sizes, turns = [], [], [], [], []
        for url, payload in zip(urls, payloads):
            payload = payload if payload is not None else b""
            doc_types.append("pdf" if is_pdf_payload(url, payload) else "html")
            title, text = extract_document(url, payload)
            titles.append(title)
            texts.append(text)
            sizes.append(len(payload))
            turns.append(
                [(d["speaker"], d["text"]) for d in parse_transcript(text)[1]]
            )
        yield pd.DataFrame(
            {
                "url": urls,
                "warc_ts": pdf["warc_ts"],
                "title": titles,
                "text": texts,
                "lang": pdf["lang"],
                "doc_type": doc_types,
                "payload_bytes": sizes,
                "turns": turns,
            }
        )


def extract_parse(pages: DataFrame) -> DataFrame:
    """pages → extracted text + parsed turns in one fused Python stage."""
    return pages.mapInPandas(_extract_parse_batches, schema=FUSED_SCHEMA)


SPANS_SCHEMA = (
    "url string, block_no int, span_start int, span_end int, "
    "n_words int, link_density double, is_content boolean"
)


def _span_batches(batches):
    import pandas as pd

    from ..kernels.htmlio import decode_html_payload, extract_block_spans

    for pdf in batches:
        urls, nos, starts, ends, nws, lds, keeps = [], [], [], [], [], [], []
        for url, payload in zip(pdf["url"].tolist(), pdf["html"].tolist()):
            payload = payload if payload is not None else b""
            if is_pdf_payload(url, payload):
                continue  # char spans are an HTML-branch concept
            html = decode_html_payload(payload)
            for no, (s, e, nw, ld, keep) in enumerate(extract_block_spans(html)):
                urls.append(url)
                nos.append(no)
                starts.append(s)
                ends.append(e)
                nws.append(nw)
                lds.append(ld)
                keeps.append(keep)
        yield pd.DataFrame(
            {
                "url": urls, "block_no": nos, "span_start": starts,
                "span_end": ends, "n_words": nws, "link_density": lds,
                "is_content": keeps,
            }
        )


def content_spans(pages: DataFrame) -> DataFrame:
    """pages → (url, block_no, span_start, span_end, n_words,
    link_density, is_content): the char-offset map of the boilerpipe
    block segmentation over the DECODED html string — the north-rule
    "extracted spans per document" surface. Consumers slice
    ``decoded_html[span_start:span_end]`` to recover each block's
    original-markup region; content text = content blocks' words in
    block order (pinned equal to extract_main_content in tests).
    Same scale shape as extract_parse: one shuffle-free mapInPandas
    crossing. PDF payloads emit no rows (char spans are an HTML-branch
    concept)."""
    return pages.mapInPandas(_span_batches, schema=SPANS_SCHEMA)


__all__ = [
    "extract_parse",
    "content_spans",
    "EXTRACTOR_VERSION",
    "FUSED_SCHEMA",
    "SPANS_SCHEMA",
]
