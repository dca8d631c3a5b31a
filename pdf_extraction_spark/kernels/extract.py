"""Document extraction dispatch: payload bytes → cleaned main text.

The per-url byte-identity contract of the engine: for every pages row,
``extract_document_text(url, html)`` is the authoritative pure-Python
semantics; the Spark ``mapInPandas`` operator must match it byte-for-byte
(asserted in tests). Mirrors the reference extract→clean composition
(main.py:11-26) with the HTML branch added for Common-Crawl payloads.
"""

from .htmlio import decode_html_payload, extract_main_content, extract_title
from .pdfio import extract_pdf_text
from .text_cleaner import clean_text

EXTRACTOR_VERSION = "pdf_extraction_spark-0.1.1"


def is_pdf_payload(url: str, payload: bytes) -> bool:
    """Content-sniff first (Common-Crawl payloads are typed by bytes, not
    extension), url suffix as fallback."""
    return payload[:5] == b"%PDF-" or url.lower().endswith(".pdf")


def extract_raw_text(url: str, payload: bytes) -> str:
    if is_pdf_payload(url, payload):
        return extract_pdf_text(payload)
    return extract_main_content(decode_html_payload(payload))


def extract_document_text(url: str, payload: bytes) -> str:
    """extract (PDF parse | HTML boilerplate strip) → normalize (P1)."""
    return clean_text(extract_raw_text(url, payload))


def extract_document(url: str, payload: bytes) -> tuple:
    """(title, cleaned_text) in ONE pass — payload decode / PDF parse
    happen once. Title: HTML <title>/<h1>; first non-empty line for
    PDFs. ``text`` is byte-identical to :func:`extract_document_text`
    (asserted in tests)."""
    if is_pdf_payload(url, payload):
        raw = extract_pdf_text(payload)
        title = ""
        for line in raw.split("\n"):
            line = line.strip()
            if line:
                title = clean_text(line)
                break
        return title, clean_text(raw)
    html = decode_html_payload(payload)
    return clean_text(extract_title(html)), clean_text(extract_main_content(html))
