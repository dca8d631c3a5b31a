"""Pure-Python kernels: exact ports of the reference semantics.

Every function here is Spark-free, deterministic, and unit-tested.
The Spark operators in ``..operators`` either call these inside
Arrow-batched pandas UDFs (extraction / parsing hot path) or
re-express them as native Catalyst expressions (everything relational);
the pandas-UDF path is asserted elementwise-equal to these kernels.
"""

from .text_cleaner import clean_text
from .transcript import clean_dialogue_text, parse_transcript
from .financial import extract_all_metrics
from .quality import quality_score
from .roles import speaker_role
from .categories import CATEGORY_KEYWORDS, categorize
from .executives import extract_roster, name_matches
from .rerank import recency_weight, weighted_score
from .pdfio import build_minimal_pdf, extract_pdf_text
from .htmlio import decode_html_payload, extract_main_content, extract_title
from .extract import extract_document_text

__all__ = [
    "clean_text",
    "clean_dialogue_text",
    "parse_transcript",
    "extract_all_metrics",
    "quality_score",
    "speaker_role",
    "CATEGORY_KEYWORDS",
    "categorize",
    "extract_roster",
    "name_matches",
    "recency_weight",
    "weighted_score",
    "build_minimal_pdf",
    "extract_pdf_text",
    "extract_main_content",
    "extract_title",
    "decode_html_payload",
    "extract_document_text",
]
