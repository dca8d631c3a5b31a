"""pdf_extraction_spark — a PySpark-native main-content extraction engine.

From-scratch re-expression of the capabilities of the reference repo
(chiragjind/pdf_extraction, studied read-only at /root/reference) as an
idiomatic Spark DataFrame pipeline over a Common-Crawl-style pages table
``(url string, warc_ts timestamp, html binary, text string, lang string)``:

- HTML boilerplate stripping (text-density/link-density block classifier)
- PDF byte-stream text extraction (pdfplumber/PyPDF2 if present, built-in
  deterministic parser for the engine's own minimal-PDF subset otherwise)
- transcript segmentation (speaker-turn state machine)
- regex field extraction (revenue/growth/EBITDA/margin/quarter-FY)
- multi-label keyword categorization, admin filtering, quality scoring
- deterministic embeddings + cosine top-k retrieval with recency rerank
- dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine)
- per-partition lineage + checkpoint/resume

Layers:
- ``kernels``   pure-Python, Spark-free ports of the reference semantics
                (the byte-identity contract, unit-tested in isolation)
- ``operators`` Spark DataFrame operators (native Catalyst expressions
                first; Arrow-batched pandas UDFs only where required)
- ``sources``   deterministic synthetic pages generation + IO
- ``plans``     end-to-end pipeline assembly, lineage, checkpoint/resume
- ``streaming`` Structured Streaming wrappers
"""

import sys

__version__ = "0.1.0"

# Every engine UDF is pickled by reference, so each Python worker imports
# this package before its first task runs: stop later tasks re-reading
# every zip on the worker path (see _worker). False on the driver.
if sys.version_info < (3, 13) and "pyspark.worker" in sys.modules:
    from ._worker import install_zip_cache_fix

    install_zip_cache_fix()
