#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny size.

    python3 perfbench/selftest.py

Checks that the same seed gives identical inputs (and another seed other
inputs), that each correctness check fails on a deliberately corrupted
output, and that a tiny run of every workload, untraced and traced,
prints exactly the metric names of BENCHMARK.json. Exits non-zero on the
first failure.
"""

import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from pdf_extraction_spark.kernels.extract import extract_document_text  # noqa: E402

TINY = 48
SCRATCH = os.path.join(ROOT, ".perfbench", "selftest")


def expect(cond, what):
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def load(meta):
    import pyarrow.parquet as pq

    rest = {k: v for k, v in meta.items() if k != "pages"}
    return rest, pq.read_table(meta["pages"]).to_pylist()


def test_inputs_deterministic():
    for w in ("ingest", "curate", "rag"):
        a = load(inputs.build(w, 7, TINY, os.path.join(SCRATCH, "a")))
        b = load(inputs.build(w, 7, TINY, os.path.join(SCRATCH, "b")))
        c = load(inputs.build(w, 8, TINY, os.path.join(SCRATCH, "a")))
        expect(a == b, f"{w}: seed 7 gives identical inputs twice")
        expect(a != c, f"{w}: seeds 7 and 8 give different inputs")


def test_ingest_check():
    import pyarrow.parquet as pq

    meta = inputs.build("ingest", 7, TINY, os.path.join(SCRATCH, "a"))
    rows = pq.read_table(meta["pages"]).to_pylist()
    texts = {r["url"]: extract_document_text(r["url"], r["html"]) for r in rows}
    d = meta["digests"]
    expect(checks.check_ingest(texts, len(rows), d) == [], "ingest check passes on the kernel text")
    url = rows[0]["url"]
    expect(checks.check_ingest({**texts, url: texts[url] + " "}, len(rows), d),
           "ingest check fails on one changed byte")
    expect(checks.check_ingest({u: t for u, t in texts.items() if u != url}, len(rows), d),
           "ingest check fails on a missing url")
    expect(checks.check_ingest(texts, len(rows) - 1, d), "ingest check fails on a short lineage count")


def test_curate_check():
    meta = inputs.build("curate", 7, TINY, os.path.join(SCRATCH, "a"))
    clusters = meta["clusters"]
    expect(len(clusters) > 0, "curate input has planted clusters")
    planted = {u for c in clusters for u in (c["base"], *c["exact"], *c["near"])}
    others = [f"https://other/{i}" for i in range(5)]
    good = others + [c["base"] for c in clusters]
    expect(checks.check_curate(good, clusters) == [], "curate check passes with one survivor per cluster")
    c0 = clusters[0]
    expect(checks.check_curate(good + [(c0["exact"] + c0["near"])[0]], clusters),
           "curate check fails when a planted duplicate survives")
    expect(checks.check_curate([u for u in good if u != c0["base"]], clusters),
           "curate check fails when a whole cluster is dropped")
    expect(checks.near_recall(good, clusters) == 1.0, "near recall is 1 when every near copy is dropped")
    expect(len(planted) == len(set(planted)), "planted urls are distinct")


def test_rag_check():
    rng = random.Random(7)
    n = 60
    chunks = {
        "chunk_id": [f"c{i % 50}" for i in range(n)],  # ids repeat, as in the engine
        "company": [rng.choice(["CIPLA", "LUPIN"]) for _ in range(n)],
        "date": [f"2024-0{rng.randint(1, 9)}-01" for _ in range(n)],
        "quality_score": [rng.uniform(3.5, 9) for _ in range(n)],
        "embedding": [[rng.gauss(0, 1) for _ in range(64)] for _ in range(n)],
    }
    ref = checks.RagReference(chunks)
    for q, company in [("revenue growth outlook", None), ("EBITDA margin", "cipla")]:
        scored = sorted(ref.scores(q, company), key=lambda r: (-round(r[1], 4), r[0]))[:5]
        got = [(cid, round(s, 4)) for cid, s in scored]
        expect(ref.check(q, company, got) == [], f"rag check passes on the reference top-k ({company})")
        expect(ref.check(q, company, got[::-1]), "rag check fails on a reversed ranking")
        expect(ref.check(q, company, got[:4]), "rag check fails on a short top-k")
        wrong = [("c-missing", got[0][1])] + got[1:]
        expect(ref.check(q, company, wrong), "rag check fails on a chunk that is not in the table")


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", w, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.05",
            ]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            expect(out.returncode == 0, f"{w} trace={trace} exits 0")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace} prints the four result keys")
            expect(res["correct"] and res["attempted"] >= 1 and res["failed"] == 0,
                   f"{w} trace={trace} output is correct")
            expect(set(res["metrics"]) == want[trace],
                   f"{w} trace={trace} prints exactly the BENCHMARK.json metrics")


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    try:
        test_inputs_deterministic()
        test_ingest_check()
        test_curate_check()
        test_rag_check()
        test_metric_names()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
