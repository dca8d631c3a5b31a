"""Seeded inputs for the three workloads, cached by (workload, seed, size).

Every input is a pure function of the seed: the pages come from the
engine's own ``sources.synth.synth_page_row(i, seed)`` (70% HTML, 30% PDF,
host0 holding ~30% of rows), the ``curate`` duplicate plant and the
``rag`` question set from a ``random.Random`` seeded the same way. The
engine only ever sees the written parquet pages table and the question
strings.

Why each workload exists (recorded again in BENCHMARK.json):

- ``ingest``: the production job, ``plans.lineage.run_checkpointed_extraction``.
  Kernels and the per-bucket commit writes do nearly all the work; there
  are no shuffles and no queries.
- ``curate``: ``plans.curate.curate_corpus`` over the same kind of pages plus
  planted clusters of exact and near duplicates with Zipf-skewed sizes.
  Shuffles, MinHash/LSH and langid dominate; extraction is a small share.
- ``rag``: the embedded-chunks build (``plans.pipeline`` + ``operators.embed``)
  followed by a closed loop of one client asking seeded questions through
  ``plans.rag.rag_search``; the only latency workload and the only read
  path over stored output.
"""

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_spark.kernels.extract import extract_document_text
from pdf_extraction_spark.kernels.textstats import shingles
from pdf_extraction_spark.sources.synth import COMPANIES, synth_page_row

# Input sizes, chosen so a whole run (a cold set-up, the measured part and
# the checks) stays under ~35 s on 4 vCPUs (rag: plus its question loop);
# see perfbench/README.md.
SIZES = {"ingest": 2400, "curate": 500, "rag": 400}
INGEST_BUCKETS = 8  # run_checkpointed_extraction's own default
PAGE_FILES = 8

# curate plant: cluster sizes follow size(rank) = max(2, round(TOP / rank)),
# so the largest clusters are boilerplate-sized and the tail is pairs.
PLANT_CLUSTERS = 16
PLANT_TOP_SIZE = 24
PLANT_EXACT_SHARE = 0.5
# near duplicates are planted only on documents long enough that the
# edited sentence keeps the 3-shingle Jaccard at or above this value, so
# MinHash (32 hashes, 8 bands) estimates them above the engine's 0.8
# threshold with near certainty
PLANT_MIN_JACCARD = 0.95

RAG_QUESTIONS = 400
RAG_FILTER_EVERY = 3  # every third question carries a company filter

_TOPICS = [
    "revenue growth", "EBITDA margin", "net profit", "gross margin",
    "capacity utilization", "FDA approval", "regulatory compliance",
    "market share in the US market", "supply chain efficiency",
    "dividend and share repurchase", "clinical trials", "biosimilar program",
    "pricing pressure", "capex investment", "operating margin",
    "guidance and outlook", "new launches in oncology", "respiratory segment",
    "input costs", "sales growth in Europe",
]
_FRAMES = [
    "What did management say about {t}?",
    "How did {t} develop this quarter?",
    "Summarize the comments on {t} and {u}.",
    "Is {t} expected to improve next year?",
    "What risks were mentioned around {t}?",
    "Compare {t} with {u} for the period.",
]
_EDIT_WORDS = ["freight", "hedging", "warehouse", "licensing", "payroll", "tariff"]

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _rng(seed: int, salt: str) -> random.Random:
    return random.Random(f"{salt}:{seed}")


def _write_pages(rows, path: str):
    """Write the pages table as PAGE_FILES parquet files, the way a crawl
    arrives in segments. One file would be one input split here: Spark
    packs files under its 4 MB open cost into a single task, and the
    synthetic pages are ~100x smaller than real ones."""
    os.makedirs(path)
    per = -(-len(rows) // PAGE_FILES)
    for k in range(PAGE_FILES):
        table = pa.Table.from_pylist(rows[k * per:(k + 1) * per], schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def _jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


def _near_copy(html: bytes, rng: random.Random):
    """The page with one sentence edited: one word of one paragraph
    replaced by a seeded new word. None when no paragraph has a word to
    replace."""
    doc = html.decode("utf-8")
    paras = []
    start = doc.find("<p>")
    while start != -1:
        end = doc.find("</p>", start)
        paras.append((start + 3, end))
        start = doc.find("<p>", end)
    rng.shuffle(paras)
    for lo, hi in paras:
        words = doc[lo:hi].split(" ")
        spots = [k for k, w in enumerate(words) if w.isalpha() and len(w) > 3]
        if spots:
            words[rng.choice(spots)] = f"{rng.choice(_EDIT_WORDS)}{rng.randrange(10**6)}"
            return (doc[:lo] + " ".join(words) + doc[hi:]).encode("utf-8")
    return None


def plant_duplicates(rows, seed: int):
    """Append Zipf-sized clusters of exact and near duplicates of HTML
    English pages. Returns (rows, clusters) where each cluster is
    {"base": url, "exact": [urls], "near": [urls]}."""
    rng = _rng(seed, "plant")
    candidates = [
        r for r in rows
        if r["lang"] == "en" and not r["url"].endswith(".pdf")
    ]
    rng.shuffle(candidates)
    clusters = []
    out = list(rows)
    for base in candidates:
        if len(clusters) == PLANT_CLUSTERS:
            break
        size = max(2, round(PLANT_TOP_SIZE / (len(clusters) + 1)))
        base_text = extract_document_text(base["url"], base["html"])
        cluster = {"base": base["url"], "exact": [], "near": []}
        copies = []
        for j in range(size - 1):
            host = 0 if rng.random() < 0.3 else rng.randint(1, 19)
            url = f"https://host{host}.example/planted/c{len(clusters)}_{j}_s{seed}.html"
            if rng.random() < PLANT_EXACT_SHARE:
                payload, kind = base["html"], "exact"
            else:
                payload, kind = _near_copy(base["html"], rng), "near"
                if payload is None or _jaccard(
                    base_text, extract_document_text(url, payload)
                ) < PLANT_MIN_JACCARD:
                    break  # base too short for a near copy
            copies.append(dict(base, url=url, html=payload))
            cluster[kind].append(url)
        else:
            clusters.append(cluster)
            out.extend(copies)
    rng.shuffle(out)
    return out, clusters


def make_questions(seed: int, n: int = RAG_QUESTIONS):
    """[[question, company_filter or None]]; every RAG_FILTER_EVERY-th
    question carries a company filter (1/3 of the set)."""
    rng = _rng(seed, "questions")
    out = []
    for i in range(n):
        t, u = rng.sample(_TOPICS, 2)
        q = rng.choice(_FRAMES).format(t=t, u=u)
        company = rng.choice(COMPANIES) if i % RAG_FILTER_EVERY == 0 else None
        out.append([q, company])
    return out


def text_digests(rows):
    """url → sha256 of the kernel's extracted text: the byte-identity
    reference the Spark output must match."""
    return {
        r["url"]: hashlib.sha256(
            extract_document_text(r["url"], r["html"]).encode("utf-8")
        ).hexdigest()
        for r in rows
    }


def build(workload: str, seed: int, size: int, cache_root: str) -> dict:
    """Materialize (or reuse) the inputs of one workload. Returns a dict
    with ``pages`` (parquet path), ``n_pages`` and workload extras."""
    key = f"{workload}-s{seed}-n{size}"
    final = os.path.join(cache_root, key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return dict(json.load(f), pages=os.path.join(final, "pages"))
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = [synth_page_row(i, seed) for i in range(size)]
    meta = {"workload": workload, "seed": seed, "size": size}
    if workload == "ingest":
        meta["digests"] = text_digests(rows)
    elif workload == "curate":
        rows, meta["clusters"] = plant_duplicates(rows, seed)
    elif workload == "rag":
        meta["questions"] = make_questions(seed)
    _write_pages(rows, os.path.join(tmp, "pages"))
    meta["n_pages"] = len(rows)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return dict(meta, pages=os.path.join(final, "pages"))


def slice_pages(meta: dict, n: int, dest: str) -> str:
    """The first n rows of an input's pages, for warm-up runs."""
    pq.write_table(pq.read_table(meta["pages"]).slice(0, n), dest)
    return dest
