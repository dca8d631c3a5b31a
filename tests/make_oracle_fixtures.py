"""Generate the DuckDB-oracle fixture tables under tests/fixtures/oracle/.

These fixtures close the "no_oracle" gap for queries whose core is a
kernel UDF that DuckDB cannot run. Two kinds:

1. **Kernel-input fixtures** (minhash signatures, simhash fingerprints,
   document embeddings): the kernel output is precomputed here in *pure
   Python* (no Spark) and registered for the oracle SQL, which then
   recomputes all the *relational* math (LSH banding, bucket capping,
   candidate pairs, est-jaccard/hamming, cosine + rerank) independently
   in DuckDB. The kernels themselves are pinned by bit-identity tests
   (tests/test_kernels.py, tests/test_goldens.py).

2. **Independent-path recompute goldens** (extract_pipeline turns,
   curated corpus, media features): the full expected output is
   recomputed here through the *pure-Python kernel path* — a sequential
   reimplementation of the plan composition with no Spark involved —
   so the oracle checks the distributed plumbing (mapInPandas fusion,
   explode, joins, dedup shuffles) against an independent sequential
   execution. Not a frozen copy of Spark output.

All inputs are deterministic: the synthetic pages corpus is a pure
function of (seed, i), and the sf0.01 parquet tables are driver-pinned.
Fixtures tagged _sf0_01 depend on /root/testdata/sf0.01 (the driver's
correctness scale factor); the rest are sf-independent.

Run: python tests/make_oracle_fixtures.py  (writes parquet; commit them)
A freshness test (tests/test_oracle_fixtures.py) regenerates in-memory
and asserts the committed files match.
"""

import hashlib
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "oracle")
SF_DIR = "/root/testdata/sf0.01"

MINHASH_NUM = 32
MINHASH_BANDS = 8


def _to_i64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def _round_half_up(x: float, digits: int) -> float:
    """Spark F.round semantics (BigDecimal HALF_UP on the shortest
    decimal repr of the double) — Python round() is half-even."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _read_documents():
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------------
# kernel-input fixtures over sf0.01 documents
# --------------------------------------------------------------------------

def minhash_sigs_table() -> pa.Table:
    from pdf_extraction_spark.kernels.textstats import minhash_signature

    docs = _read_documents()
    ids = [d for d, _ in docs]
    sigs = [[_to_i64(v) for v in minhash_signature(t or "", MINHASH_NUM)] for _, t in docs]
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "sig": pa.array(sigs, pa.list_(pa.int64()))}
    )


def new_batch_text(doc_id: int, text: str) -> str:
    """The deterministic 'incoming batch' transform, mirrored natively
    in __spark_entry__.q_incremental_dedup — keep the two in lockstep.
    doc_id%3==0: exact copy of history; ==1: near-dup (tail append);
    ==2: distinct (reversed + marker)."""
    t = text or ""
    if doc_id % 3 == 0:
        return t
    if doc_id % 3 == 1:
        return t + " zzz www qqq"
    return "zyx " + t[::-1]


def minhash_sigs_new_table() -> pa.Table:
    """Kernel signatures of the synthetic incoming batch (ids offset by
    100000) for the incremental-dedup twin."""
    from pdf_extraction_spark.kernels.textstats import minhash_signature

    docs = _read_documents()
    ids = [d + 100000 for d, _ in docs]
    sigs = [
        [_to_i64(v) for v in minhash_signature(new_batch_text(d, t), MINHASH_NUM)]
        for d, t in docs
    ]
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "sig": pa.array(sigs, pa.list_(pa.int64()))}
    )


def simhash_table() -> pa.Table:
    from pdf_extraction_spark.kernels.textstats import simhash

    docs = _read_documents()
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "sh": pa.array([_to_i64(simhash(t or "")) for _, t in docs], pa.int64()),
        }
    )


def doc_embeddings_table() -> pa.Table:
    """embed_text kernel over ALL docs (the quality gate is applied
    relationally in the oracle SQL, mirroring the Spark plan's
    gate-below-UDF ordering)."""
    from pdf_extraction_spark.operators.embed import embed_text

    docs = _read_documents()
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "embedding": pa.array(
                [embed_text(t or "") for _, t in docs], pa.list_(pa.float64())
            ),
        }
    )


EMB_PLANES = 16
EMB_BANDS = 8


def _read_embeddings():
    import duckdb

    return duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') "
        "WHERE embedding IS NOT NULL ORDER BY vec_id"
    ).fetchall()


def emb_sketches_table() -> pa.Table:
    """Banded sign sketches of the sf0.01 embeddings — pure numpy via the
    shared kernel (bit-identity vs the Spark pandas UDF pinned in
    tests/test_embedding_lsh.py). Parameters must match
    q_embedding_lsh: 16 planes / 8 bands / seed 42."""
    import numpy as np

    from pdf_extraction_spark.operators.dedup import hyperplanes, sign_sketch_bands

    rows = _read_embeddings()
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    bands = sign_sketch_bands(mat, hyperplanes(64, EMB_PLANES, seed=42), EMB_BANDS)
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "bands": pa.array([[int(v) for v in b] for b in bands], pa.list_(pa.int64())),
        }
    )


IVF_CELLS = 8
PQ_M = 8
PQ_K = 16


def ivf_centroids_table() -> pa.Table:
    """IVF centroids trained by the shared pure-numpy kernel
    (similarity.kmeans_lite) on the FULL vec_id-sorted sf0.01 embeddings
    — no Spark sampling, so the model is an exact deterministic function
    of the table. q_ivf_assign loads THIS fixture on the Spark side, so
    the assignment step (pandas-UDF matmul argmax) has an exact DuckDB
    relational twin (argmax over cosine per vector)."""
    import numpy as np

    from pdf_extraction_spark.operators.similarity import kmeans_lite

    rows = _read_embeddings()
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    cents = kmeans_lite(mat, IVF_CELLS, iters=5, seed=42)
    return pa.table(
        {
            "cell": pa.array(range(len(cents)), pa.int32()),
            "centroid": pa.array([[float(v) for v in c] for c in cents], pa.list_(pa.float64())),
        }
    )


def pq_codebook_table() -> pa.Table:
    """PQ codebook trained by the shared pure-numpy kernel
    (similarity.pq_train_lite) on the FULL vec_id-sorted sf0.01
    embeddings — exact deterministic function of the table, same
    convention as ivf_centroids_table. q_pq_encode / q_pq_topk load
    THIS fixture on the Spark side, so the encode argmin and the ADC
    fold both have exact DuckDB relational twins."""
    import numpy as np

    from pdf_extraction_spark.operators.similarity import pq_train_lite

    rows = _read_embeddings()
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    cb = pq_train_lite(mat, PQ_M, PQ_K, iters=5, seed=42)
    return pa.table(
        {
            "sub": pa.array(
                [j for j in range(PQ_M) for _ in range(cb.shape[1])], pa.int32()
            ),
            "cell": pa.array(
                [c for _ in range(PQ_M) for c in range(cb.shape[1])], pa.int32()
            ),
            "centroid": pa.array(
                [[float(v) for v in cb[j][c]] for j in range(PQ_M) for c in range(cb.shape[1])],
                pa.list_(pa.float64()),
            ),
        }
    )


# --------------------------------------------------------------------------
# pure-Python sequential recompute of the synth-pages plan compositions
# --------------------------------------------------------------------------

def _speaker_role(speaker: str) -> str:
    from pdf_extraction_spark.kernels.roles import ROLE_RULES

    low = speaker.lower()
    for role, needles in ROLE_RULES:
        if any(n in low for n in needles):
            return role
    return "Analyst/Other"


def _word_count(s: str) -> int:
    # word_count_col semantics: Unicode-whitespace runs, no empty tokens
    return len([w for w in re.split(r"\s+", s) if w])


def extract_turns_table(n_pages: int = 150) -> pa.Table:
    """q_extract_pipeline expected output: synth pages → fused
    extract+parse → exploded turns with word stats + speaker role."""
    from pdf_extraction_spark.kernels.extract import extract_document
    from pdf_extraction_spark.kernels.transcript import parse_transcript
    from pdf_extraction_spark.sources.synth import synth_page_row

    urls, poss, spks, roles, contents, wcs = [], [], [], [], [], []
    for i in range(n_pages):
        row = synth_page_row(i)
        _, text = extract_document(row["url"], row["html"])
        for pos, turn in enumerate(parse_transcript(text)[1]):
            urls.append(row["url"])
            poss.append(pos)
            spks.append(turn["speaker"])
            roles.append(_speaker_role(turn["speaker"]))
            contents.append(turn["text"])
            wcs.append(_word_count(turn["text"]))
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "turn_pos": pa.array(poss, pa.int32()),
            "speaker": pa.array(spks, pa.string()),
            "speaker_role": pa.array(roles, pa.string()),
            "content": pa.array(contents, pa.string()),
            "word_count": pa.array(wcs, pa.int32()),
        }
    )


def _ascii_words(text: str):
    # with_quality_ratios splits on plain Java \s+ (ASCII)
    return [w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w]


def curate_docs_table(
    n_pages: int = 150,
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.7,
    languages=("en",),
    neardup_threshold: float = 0.8,
    max_bucket: int = 200,
) -> pa.Table:
    """q_curate expected output (url, token_count, detected_lang):
    sequential replay of plans.curate.curate_corpus — extract, analyze,
    exact dedup (min-xxhash64 representative), MinHash-LSH near-dup
    drop, quality gate."""
    from pdf_extraction_spark.kernels.extract import extract_document
    from pdf_extraction_spark.kernels.textstats import (
        detect_language,
        minhash_signature,
        token_count,
    )
    from pdf_extraction_spark.kernels.xxh64 import spark_xxhash64_str
    from pdf_extraction_spark.sources.synth import synth_page_row

    stop = {"the", "a", "of", "to", "and", "in", "is"}
    docs = []  # (doc_id, url, text, token_count, stopword_ratio, lang)
    for i in range(n_pages):
        row = synth_page_row(i)
        _, text = extract_document(row["url"], row["html"])
        words = _ascii_words(text)
        n_stop = sum(1 for w in words if w in stop)
        ratio = _round_half_up(n_stop / max(len(words), 1), 4)
        docs.append(
            (
                spark_xxhash64_str(row["url"]),
                row["url"],
                text,
                token_count(text),
                ratio,
                detect_language(text),
            )
        )

    # exact dedup: md5(lower(trim-spaces)) key, keep min doc_id
    groups = {}
    for d in docs:
        key = hashlib.md5(d[2].strip(" ").lower().encode("utf-8")).hexdigest()
        groups.setdefault(key, []).append(d)
    unique = [min(g, key=lambda d: d[0]) for g in groups.values()]

    # MinHash-LSH near-dup DROP set (num_hashes=32, bands=8) — mirrors
    # operators.dedup.minhash_near_dup_drops: identical signatures
    # collapse to the min-id representative first (non-min members drop
    # directly), then only the distinct signatures go through banding
    sigs = {d[0]: tuple(minhash_signature(d[2], MINHASH_NUM)) for d in unique}
    sig_groups = {}
    for did, sig in sigs.items():
        sig_groups.setdefault(sig, []).append(did)
    drop = set()
    reps = {}
    for sig, members in sig_groups.items():
        rep = min(members)
        reps[rep] = sig
        drop.update(m for m in members if m != rep)

    rows_per_band = MINHASH_NUM // MINHASH_BANDS
    buckets = {}
    for did, sig in reps.items():
        for b in range(MINHASH_BANDS):
            key = (b, sig[b * rows_per_band : (b + 1) * rows_per_band])
            buckets.setdefault(key, []).append(did)
    cand = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        members = sorted(members)  # doc_ids are already signed int64
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    for a, b in cand:
        est = sum(1 for x, y in zip(reps[a], reps[b]) if x == y) / MINHASH_NUM
        if est >= neardup_threshold:
            drop.add(b)

    curated = [
        d
        for d in unique
        if d[0] not in drop
        and d[3] >= min_tokens
        and d[4] <= max_stopword_ratio
        and d[5] in languages
    ]
    curated.sort(key=lambda d: d[1])
    return pa.table(
        {
            "url": pa.array([d[1] for d in curated], pa.string()),
            "token_count": pa.array([d[3] for d in curated], pa.int32()),
            "detected_lang": pa.array([d[5] for d in curated], pa.string()),
        }
    )


def media_features_table(n_rows: int = 24) -> pa.Table:
    """q_media_features expected output for the image rows of
    synth_media_df(24): deterministic fake decode → mean intensity."""
    import random

    import numpy as np

    from pdf_extraction_spark.kernels.textstats import hash_bytes
    from pdf_extraction_spark.operators.multimodal import _fake_decode_image

    ids, nbytes, intensity = [], [], []
    for i in range(n_rows):
        rng = random.Random(hash_bytes(f"media{i}".encode(), 42))
        mtype = ["image", "audio", "video"][i % 3]
        payload = bytes(rng.getrandbits(8) for _ in range(64))
        width, height = rng.randint(4, 32), rng.randint(4, 32)
        if mtype != "image":
            continue
        img = _fake_decode_image(payload, width, height)
        flat = img.astype(np.float64).ravel()
        ids.append(i)
        nbytes.append(len(payload))
        intensity.append(_round_half_up(float(flat.mean()), 4))
    return pa.table(
        {
            "media_id": pa.array(ids, pa.int64()),
            "n_bytes": pa.array(nbytes, pa.int64()),
            "mean_intensity": pa.array(intensity, pa.float64()),
        }
    )


def media_features_real_table(n_rows: int = 24) -> pa.Table:
    """q_media_features_real expected output over GENUINELY decoded
    payloads (PPM + BMP images, PCM WAV audio): sequential pure-Python
    decode + pooling through the same mediaio kernels, no Spark."""
    from pdf_extraction_spark.kernels.mediaio import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        pooled_features,
        synth_real_payload,
    )

    ids, mtypes, nbytes, intensity = [], [], [], []
    for i in range(n_rows):
        mtype, payload, _meta = synth_real_payload(i)
        if payload.startswith(b"P6"):
            arr = decode_ppm(payload)
        elif payload.startswith(b"BM"):
            arr = decode_bmp(payload)
        else:
            arr = decode_wav(payload)
        mean, _vec = pooled_features(arr)
        ids.append(i)
        mtypes.append(mtype)
        nbytes.append(len(payload))
        intensity.append(_round_half_up(mean, 4))
    return pa.table(
        {
            "media_id": pa.array(ids, pa.int64()),
            "media_type": pa.array(mtypes, pa.string()),
            "n_bytes": pa.array(nbytes, pa.int64()),
            "mean_intensity": pa.array(intensity, pa.float64()),
        }
    )


def mojibake_table():
    """(doc_id, text, fixed_text): deterministic mojibake corpus over
    the sf0.01 documents — singly/doubly damaged, legit-Unicode,
    plain-ASCII, and marker-but-invalid rows — with the expected repair
    recomputed through the pure-Python contract
    (kernels/encoding.py:fix_mojibake, passes=2)."""
    from pdf_extraction_spark.kernels.encoding import fix_mojibake

    ids, texts, fixed = [], [], []
    for doc_id, text in _read_documents():
        base = (text or "")[:160]
        acc = base.replace("a", "á").replace("e", "é").replace("o", "ö")
        case = doc_id % 5
        if case == 0:
            t = acc.encode("utf-8").decode("latin-1")
        elif case == 1:
            t = acc.encode("utf-8").decode("latin-1").encode("utf-8").decode("latin-1")
        elif case == 2:
            t = acc + " —€"  # chars > 0xFF: range guard leaves it alone
        elif case == 3:
            t = base  # pure ASCII is a fixed point
        else:
            # TRUE guard-3 case: marker pair present (Ã© = C3 A9, valid
            # prefix) but the full Latin-1 byte stream is invalid UTF-8
            # (C5 lead byte followed by ASCII) — repair must refuse
            t = "Ã©\u00c5" + base
        ids.append(doc_id)
        texts.append(t)
        fixed.append(fix_mojibake(t, passes=2))
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": texts, "fixed_text": fixed}
    )


def content_spans_table(n_pages: int = 150) -> pa.Table:
    """q_content_spans expected output: synth pages → decode → block
    scanner span map (PDF payloads emit no rows), sequential pure-Python
    recompute of the Spark mapInPandas stage."""
    from pdf_extraction_spark.kernels.extract import is_pdf_payload
    from pdf_extraction_spark.kernels.htmlio import (
        decode_html_payload,
        extract_block_spans,
    )
    from pdf_extraction_spark.sources.synth import synth_page_row

    urls, nos, starts, ends, nws, lds, keeps = [], [], [], [], [], [], []
    for i in range(n_pages):
        row = synth_page_row(i)
        if is_pdf_payload(row["url"], row["html"]):
            continue
        html = decode_html_payload(row["html"])
        for no, (s, e, nw, ld, keep) in enumerate(extract_block_spans(html)):
            urls.append(row["url"])
            nos.append(no)
            starts.append(s)
            ends.append(e)
            nws.append(nw)
            lds.append(ld)
            keeps.append(keep)
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "block_no": pa.array(nos, pa.int32()),
            "span_start": pa.array(starts, pa.int32()),
            "span_end": pa.array(ends, pa.int32()),
            "n_words": pa.array(nws, pa.int32()),
            "link_density": pa.array(lds, pa.float64()),
            "is_content": pa.array(keeps, pa.bool_()),
        }
    )


def porter_table() -> "pa.Table":
    """(word, expected): the sf0.01 corpus' distinct retrieval-tokenizer
    vocabulary with the pure-Python Porter kernel output — the strict
    driver compare proves the Arrow path reproduces the kernel
    byte-for-byte (the mojibake fixture device)."""
    import re

    from pdf_extraction_spark.kernels.stemmer import porter_stem

    vocab = set()
    for _, text in _read_documents():
        for w in re.split(r"[^A-Za-z0-9]+", text or ""):
            if w:
                vocab.add(w.lower())
    # the synthetic corpus vocabulary is tiny; add morphology-heavy
    # words so every Porter step (1a-5b) is exercised in the fixture
    vocab.update(
        """caresses ponies ties cats feed agreed plastered bled motoring
        sing conflated troubled sized hopping tanned falling hissing
        fizzed failing filing happy sky relational conditional rational
        valenci hesitanci digitizer conformabli radicalli differentli
        vileli analogousli vietnamization predication operator feudalism
        decisiveness hopefulness callousness formaliti sensitiviti
        sensibiliti triplicate formative formalize electriciti electrical
        hopeful goodness revival allowance inference airliner gyroscopic
        adjustable defensible irritant replacement adjustment dependent
        adoption communism activate angulariti homologous effective
        bowdlerize probate rate cease controll roll generalization
        oscillators partitions optimization aggregations distributed
        streaming windowed shuffling broadcasting serialization
        connections relativity national""".split()
    )
    words = sorted(vocab)
    return pa.table(
        {
            "word": pa.array(words, pa.string()),
            "expected": pa.array([porter_stem(w) for w in words], pa.string()),
        }
    )


def compress_table() -> "pa.Table":
    """(doc_id, text, n_bytes, n_compressed, ratio_ppm): the sf0.01
    documents (with a repetition-flooded and an empty/NULL row mixed
    in) and the pure-Python zlib-level-6 contract recompute — the
    compressgate strict oracle (mojibake device)."""
    import zlib

    rows = list(_read_documents())
    rows.append((900001, "spam spam spam " * 200))     # repetition flood
    rows.append((900002, ""))
    rows.append((900003, None))
    ids, texts, nb, nc, rp = [], [], [], [], []
    for doc_id, text in rows:
        data = (text or "").encode("utf-8")
        comp = len(zlib.compress(data, 6)) if text is not None else 0
        ids.append(doc_id)
        texts.append(text)
        nb.append(len(data) if text is not None else 0)
        comp = comp if text is not None else 0
        nc.append(comp)
        rp.append((comp * 10**6) // len(data) if len(data) > 0 and text is not None else None)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "n_bytes": pa.array(nb, pa.int64()),
            "n_compressed": pa.array(nc, pa.int64()),
            "ratio_ppm": pa.array(rp, pa.int64()),
        }
    )


FIXTURES = {
    "minhash_sigs_sf0_01.parquet": minhash_sigs_table,
    "simhash_sf0_01.parquet": simhash_table,
    "emb_sketches_sf0_01.parquet": emb_sketches_table,
    "ivf_centroids_sf0_01.parquet": ivf_centroids_table,
    "pq_codebook_sf0_01.parquet": pq_codebook_table,
    "doc_embeddings_sf0_01.parquet": doc_embeddings_table,
    "extract_turns.parquet": extract_turns_table,
    "content_spans.parquet": content_spans_table,
    "curate_docs.parquet": curate_docs_table,
    "media_features.parquet": media_features_table,
    "media_features_real.parquet": media_features_real_table,
    "mojibake_sf0_01.parquet": mojibake_table,
    "minhash_sigs_new_sf0_01.parquet": minhash_sigs_new_table,
    "porter_sf0_01.parquet": porter_table,
    "compress_sf0_01.parquet": compress_table,
}


def main():
    os.makedirs(OUT_DIR, exist_ok=True)
    for name, fn in FIXTURES.items():
        table = fn()
        pq.write_table(table, os.path.join(OUT_DIR, name))
        print(f"{name}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
