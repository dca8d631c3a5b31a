#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {ingest,curate,rag} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates (or reuses) the seeded inputs,
starts Spark at local[nproc] from this one driver process, runs the
workload (the rag question loop runs for --seconds seconds; ingest and
curate run one batch job), checks every operation's output, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the same window with the Spark event log, spans and an RSS sampler on,
plus direct calls into each layer (layers.py), and prints the per-layer
metrics. Everything it writes goes under .perfbench/ in the repository
root. See perfbench/README.md.
"""

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from common import CORES, ROOT, WORK, log

WARM_PAGES = 32
RAG_K = 5


def percentile(xs, q):
    import numpy as np

    return float(np.percentile(xs, q))


class Bench:
    def __init__(self, workload, seed, seconds, scale):
        import inputs
        from tracing import Tracer

        self.workload = workload
        self.seconds = seconds
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        size = max(int(inputs.SIZES[workload] * scale), 32)
        self.meta = inputs.build(workload, seed, size, os.path.join(WORK, "cache"))
        self.pages_path = self.meta["pages"]
        self.n_pages = self.meta["n_pages"]
        self.warm_path = inputs.slice_pages(
            self.meta, WARM_PAGES, os.path.join(self.run_dir, "warm.parquet")
        )
        self.tracer = Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.n_op = 0
        self.files_written = []  # (files, bytes) per ingest operation
        # Spark's scratch space, temp files and Python workers stay inside
        # the checkout; PYTHONPATH lets workers import the engine
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        tempfile.tempdir = self.tmp

    # --- session ---------------------------------------------------------

    def conf(self, event_log: str | None = None):
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.tmp,
            # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    def start(self, cores=CORES, event_log=None, cold=True):
        """Start the session and warm its Python workers on a small slice;
        returns the seconds taken. ``cold`` first stops a running session
        and its JVM, so the start launches a new JVM as a user's job does;
        otherwise only the SparkContext is restarted, in the running JVM
        (the traced run's restarts, which are not timed as set-up)."""
        from pdf_extraction_spark.operators.extract import extract_parse
        from pdf_extraction_spark.session import get_spark
        from pdf_extraction_spark.sources.pages import read_pages
        from pyspark.sql import functions as F

        if cold:
            self.stop()
        elif self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", extra_conf=self.conf(event_log)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        extract_parse(read_pages(self.spark, self.warm_path)).agg(F.count("*")).collect()
        self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def stop(self):
        """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # --- operations ------------------------------------------------------

    def pages(self, path=None):
        from pdf_extraction_spark.sources.pages import read_pages

        return read_pages(self.spark, path or self.pages_path)

    def out_dir(self):
        self.n_op += 1
        return os.path.join(self.run_dir, f"op{self.n_op}")

    def ingest_op(self):
        """One production job; returns (wall, per-bucket commit latencies)."""
        import checks
        import pyarrow.parquet as pq
        from inputs import INGEST_BUCKETS
        from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction

        out = self.out_dir()
        t0 = time.time()
        with self.tracer.span("plans.lineage.run_checkpointed_extraction", out=out):
            run_checkpointed_extraction(self.spark, self.pages(), out, n_buckets=INGEST_BUCKETS)
        wall = time.time() - t0
        lat = bucket_latencies(out)
        log(f"bucket commits (s): {[round(x, 2) for x in lat]}")
        self.files_written.append(tree_size(out))
        docs = pq.read_table(os.path.join(out, "docs"), columns=["url", "text"]).to_pydict()
        lineage = pq.read_table(os.path.join(out, "lineage"), columns=["doc_count"])
        problems = checks.check_ingest(
            dict(zip(docs["url"], docs["text"])),
            sum(lineage.column("doc_count").to_pylist()),
            self.meta["digests"],
        )
        self.report(problems, INGEST_BUCKETS)
        return wall, lat

    def curate_op(self):
        import checks
        import pyarrow.parquet as pq
        from pdf_extraction_spark.plans.curate import curate_corpus

        out = self.out_dir()
        t0 = time.time()
        with self.tracer.span("plans.curate.curate_corpus"):
            res = curate_corpus(self.pages())
            res["docs"].write.parquet(os.path.join(out, "docs"))
            res["stats"].write.parquet(os.path.join(out, "stats"))
            for c in res["caches"]:
                c.unpersist()
        wall = time.time() - t0
        self.surviving = pq.read_table(os.path.join(out, "docs"), columns=["url"]).column("url").to_pylist()
        self.report(checks.check_curate(self.surviving, self.meta["clusters"]), 1)
        return wall, [wall]

    def rag_build_op(self, pages_path=None):
        from pdf_extraction_spark.operators.embed import embed_documents
        from pdf_extraction_spark.plans.pipeline import filtered_chunks, scored_chunks, turns_table

        out = os.path.join(self.out_dir(), "chunks")
        t0 = time.time()
        with self.tracer.span("rag.build"):
            scored = scored_chunks(filtered_chunks(turns_table(self.pages(pages_path))))
            embedded = embed_documents(scored, text_col="content").select(
                "chunk_id", "company", "date", "speaker", "content", "quality_score", "embedding"
            )
            embedded.write.parquet(out)
        return time.time() - t0, out

    def rag_warmup(self):
        """Build a chunks table from the warm-up slice and ask two questions
        on it, untimed and untraced, so the measured build and questions
        run warm: a cold build varied by a third from run to run, and the
        cold first questions set p90. Users build once and then ask many
        questions, so steady state is what they see."""
        self.tracer.enabled, enabled = False, self.tracer.enabled
        try:
            _, path = self.rag_build_op(self.warm_path)
            chunks = self.spark.read.parquet(path)
            for q, company in self.meta["questions"][:2]:
                self.ask(chunks, q, company)
        finally:
            self.tracer.enabled = enabled

    def ask(self, chunks, question, company):
        """One closed-loop question: returns (latency, [(chunk_id, score)])."""
        from pdf_extraction_spark.plans.rag import rag_search

        t0 = time.perf_counter()
        with self.tracer.span("rag.question"):
            with self.tracer.span("plans.rag.rag_search"):
                topk = rag_search(chunks, question, k=RAG_K, company_filter=company)
            with self.tracer.span("rag.collect"):
                rows = topk.collect()
        return time.perf_counter() - t0, [(r["chunk_id"], r["weighted_score"]) for r in rows]

    def report(self, problems, n_ops):
        if problems:
            self.failed += n_ops
            for p in problems[:5]:
                log(f"CHECK FAILED ({self.workload}): {p}")

    # --- the measured window ---------------------------------------------

    def loop(self, seconds):
        """The measured part of a run. ``ingest`` and ``curate`` run their
        batch job once, the first job of the session as in production.
        ``rag`` builds its table once, then asks questions in a closed loop
        for ``seconds``. Returns {"docs_per_s", "op_ms", "walls"} lists."""
        rates, op_ms, walls = [], [], []
        if self.workload == "rag":
            self.rag_warmup()
            wall, chunks_path = self.guard(self.rag_build_op, 1)
            if wall is None:
                return {"docs_per_s": rates, "op_ms": op_ms, "walls": walls}
            log(f"chunks table built in {wall:.2f} s")
            rates.append(self.n_pages / wall)
            walls.append(wall)
            chunks = self.spark.read.parquet(chunks_path)
            asked = []
            end = time.time() + seconds
            for q, company in itertools.cycle(self.meta["questions"]):
                if time.time() >= end:
                    break
                lat, got = self.guard(lambda: self.ask(chunks, q, company), 1)
                if lat is not None:
                    op_ms.append(lat * 1e3)
                    asked.append((q, company, got))
            log(f"{len(asked)} questions asked")
            self.check_rag(chunks_path, asked)
            self.chunks_path = chunks_path
        else:
            from inputs import INGEST_BUCKETS

            op = self.ingest_op if self.workload == "ingest" else self.curate_op
            wall, lat = self.guard(op, INGEST_BUCKETS if self.workload == "ingest" else 1)
            if wall is not None:
                log(f"job took {wall:.2f} s")
                rates.append(self.n_pages / wall)
                walls.append(wall)
                op_ms.extend(x * 1e3 for x in lat)
        return {"docs_per_s": rates, "op_ms": op_ms, "walls": walls}

    def guard(self, fn, n_ops):
        """Run one operation counting ``n_ops`` attempted; an exception
        counts them failed too, and the loop goes on."""
        self.attempted += n_ops
        try:
            return fn()
        except Exception:
            log(traceback.format_exc())
            self.failed += n_ops
            return None, None

    def check_rag(self, chunks_path, asked):
        import checks
        import pyarrow.parquet as pq

        table = pq.read_table(
            chunks_path, columns=["chunk_id", "company", "date", "quality_score", "embedding"]
        ).to_pydict()
        ref = checks.RagReference(table)
        for q, company, got in asked:
            self.report(ref.check(q, company, got, RAG_K), 1)


def bucket_latencies(out):
    """Commit latency of each bucket, from the files the job committed:
    each bucket's lineage append is one write job whose part files share
    a job id. The first bucket starts when staging commits (the staged
    table's _SUCCESS marker); after that, the gap between consecutive
    lineage commits is one bucket's time."""
    lineage_path = os.path.join(out, "lineage")
    commits = {}
    for name in os.listdir(lineage_path):
        if name.startswith("part-"):
            job = name.split("-", 2)[2][:36]
            mtime = os.stat(os.path.join(lineage_path, name)).st_mtime
            commits[job] = max(commits.get(job, 0.0), mtime)
    times = sorted(commits.values())
    staged = os.stat(os.path.join(out, "staged", "_SUCCESS")).st_mtime
    return [b - a for a, b in zip([staged] + times[:-1], times)]


def tree_size(path):
    """(data files, bytes) under a job's output directory."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def end_to_end(b: Bench, setup):
    res = b.loop(b.seconds)
    ops = res["op_ms"] or [0.0]
    return {
        "setup_s": (setup, "s"),
        "docs_per_s": (statistics.median(res["docs_per_s"] or [0.0]), "docs/s"),
        "op_p50_ms": (percentile(ops, 50), "ms"),
        "op_p90_ms": (percentile(ops, 90), "ms"),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "curate", "rag"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs tiny inputs)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pdf_extraction_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine package is not importable from {ROOT}: {e}")
        return 2

    b = Bench(args.workload, args.seed, args.seconds, args.scale)
    log("inputs ready")
    try:
        setup = b.start()
        log(f"session started cold in {setup:.2f} s")
        if args.trace:
            from layers import per_layer

            metrics = per_layer(b)
        else:
            metrics = end_to_end(b, setup)
        log("measured")
    finally:
        b.stop()
        shutil.rmtree(b.run_dir, ignore_errors=True)
        log("stopped")
    print(json.dumps({
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
