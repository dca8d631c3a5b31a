"""The traced run: per-layer metrics of one workload.

Order: the extract job untraced (the overhead baseline), a restart with
the Spark event log on, then with spans and the RSS sampler on the same
extract job traced, the same workload loop as the end-to-end run, and
direct calls into each layer's public functions on the workload's input
(``probes``), then single-process kernel timings and the pinned
local[n] / local[4n] scaling pair. A layer the workload does not exercise
reports 0. Spans, job/stage attribution and all metrics are written to
``.perfbench/traces/<workload>-seed<seed>.json`` at the end.
"""

import json
import os
import statistics
import time

from common import CORES, WORK, log
from tracing import (
    RssSampler,
    Tracer,
    job_layer,
    jobs_under,
    kernel_timings,
    layer_breakdown,
    parse_event_log,
    self_times,
    stage_totals,
)

KERNEL_SAMPLE = 200
PROBE_REPS = 3

UNITS = {
    "sources.scan_s": "s",
    "kernels.html_us_per_doc": "us",
    "kernels.pdf_us_per_doc": "us",
    "kernels.clean_us_per_doc": "us",
    "kernels.transcript_us_per_doc": "us",
    "extract.wall_s": "s",
    "extract.kernel_share": "ratio",
    "scale.eff_1_to_4": "ratio",
    "lineage.staging_s": "s",
    "lineage.commit_s": "s",
    "lineage.lineage_s": "s",
    "lineage.jobs": "count",
    "lineage.bytes_written": "bytes",
    "lineage.files_written": "count",
    "curate.extract_passes": "count",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "textanalysis.langid_s": "s",
    "dedup.exact_dropped": "count",
    "dedup.near_recall": "ratio",
    "dedup.lsh_candidates": "count",
    "pipeline.turns": "count",
    "embed.gated_frac": "ratio",
    "embed.docs_s": "s",
    "embed.question_ms": "ms",
    "rag.plan_ms": "ms",
    "rag.exec_ms": "ms",
    "rag.jobs_per_query": "count",
    "rag.rows_scanned_per_query": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.sched_wait_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}

BATCH_SPAN = {
    "ingest": "plans.lineage.run_checkpointed_extraction",
    "curate": "plans.curate.curate_corpus",
    "rag": "rag.build",
}


def timed(tracer, name, fn, reps=1):
    """Median seconds of ``reps`` calls of fn under a span; returns
    (seconds, last result)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def extract_job(b):
    """extract_parse plus an aggregate over the workload's pages, no
    writes: median seconds of PROBE_REPS runs."""
    from pdf_extraction_spark.operators.extract import extract_parse
    from pyspark.sql import functions as F

    return timed(
        b.tracer, "operators.extract.extract_parse",
        lambda: extract_parse(b.pages()).agg(F.count("*"), F.sum(F.length("text"))).collect(),
        PROBE_REPS,
    )[0]


def scan_probe(b, m):
    from pyspark.sql import functions as F

    m["sources.scan_s"], _ = timed(
        b.tracer, "sources.pages.read_pages",
        lambda: b.pages().agg(F.sum(F.length("html"))).collect(), PROBE_REPS,
    )


def curate_probes(b, m):
    from pdf_extraction_spark.operators.dedup import (
        drop_exact_duplicates,
        minhash_lsh_pairs,
        minhash_near_dup_drops,
        minhash_signatures,
    )
    from pdf_extraction_spark.operators.extract import extract_parse
    from pdf_extraction_spark.operators.textanalysis import (
        langid_udf,
        token_count_col,
        with_quality_ratios,
    )
    from pyspark.sql import functions as F

    # the same parameters curate_corpus uses by default
    hashes, bands, threshold = 32, 8, 0.8
    t = b.tracer
    docs = extract_parse(b.pages()).withColumn("doc_id", F.xxhash64("url")).persist()
    docs.count()
    m["textanalysis.langid_s"], _ = timed(
        t, "operators.textanalysis.langid_udf",
        lambda: docs.agg(F.count(langid_udf(F.col("text")))).collect(),
    )
    analyzed = (
        with_quality_ratios(docs, "text")
        .withColumn("token_count", token_count_col(F.col("text")))
        .withColumn("detected_lang", langid_udf(F.col("text")))
        .persist()
    )
    n_analyzed = analyzed.count()
    unique = drop_exact_duplicates(analyzed, "text", "doc_id").persist()
    m["dedup.exact_s"], n_unique = timed(
        t, "operators.dedup.drop_exact_duplicates", unique.count
    )
    m["dedup.exact_dropped"] = n_analyzed - n_unique
    m["dedup.minhash_s"], sigs = timed(
        t, "operators.dedup.minhash_signatures",
        lambda: minhash_signatures(unique, "text", "doc_id", num_hashes=hashes),
    )
    m["dedup.lsh_s"], _ = timed(
        t, "operators.dedup.minhash_near_dup_drops",
        lambda: minhash_near_dup_drops(
            unique, "text", "doc_id", num_hashes=hashes, bands=bands,
            threshold=threshold, sigs=sigs,
        ).count(),
    )
    _, m["dedup.lsh_candidates"] = timed(
        t, "operators.dedup.minhash_lsh_pairs",
        lambda: minhash_lsh_pairs(
            unique, "text", "doc_id", num_hashes=hashes, bands=bands, sigs=sigs
        ).count(),
    )
    for df in (sigs, unique, analyzed, docs):
        df.unpersist()


def rag_probes(b, m):
    from pdf_extraction_spark.operators.embed import embed_documents, embed_text
    from pdf_extraction_spark.plans.pipeline import filtered_chunks, scored_chunks, turns_table
    from pyspark.sql import functions as F

    t = b.tracer
    _, m["pipeline.turns"] = timed(
        t, "plans.pipeline.turns_table", lambda: turns_table(b.pages()).count()
    )
    n_chunks = b.spark.read.parquet(b.chunks_path).count()
    m["embed.gated_frac"] = n_chunks / max(m["pipeline.turns"], 1)
    scored = scored_chunks(filtered_chunks(turns_table(b.pages()))).persist()
    scored.count()
    m["embed.docs_s"], _ = timed(
        t, "operators.embed.embed_documents",
        lambda: embed_documents(scored, text_col="content")
        .agg(F.sum(F.size("embedding"))).collect(),
    )
    scored.unpersist()
    qs = [q for q, _ in b.meta["questions"][:50]]
    t0 = time.perf_counter()
    for q in qs:
        embed_text(q)
    m["embed.question_ms"] = (time.perf_counter() - t0) / len(qs) * 1e3


def runtime_metrics(b, ev, traced, m):
    """Event-log metrics of the traced pass's operations."""
    ops = [s["id"] for s in b.tracer.spans if s["name"] == BATCH_SPAN[b.workload]]
    ops = [o for o in ops if o >= traced["first_span"]]
    n = max(len(ops), 1)
    op_spans = b.tracer.descendants(ops)
    tot = stage_totals(ev, op_spans)
    m["spark.task_cpu_s"] = tot["cpu_s"] / n
    m["spark.gc_s"] = tot["gc_s"] / n
    m["spark.sched_wait_s"] = tot["sched_wait_s"] / n
    m["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"] / n
    m["spark.shuffle_fetch_wait_s"] = tot["shuffle_fetch_wait_s"] / n
    m["spark.spill_bytes"] = tot["spill_bytes"] / n
    m["spark.failed_tasks"] = tot["failed_tasks"] / n

    if b.workload == "ingest":
        secs = {"staging": 0.0, "commit": 0.0, "lineage": 0.0}
        jobs = jobs_under(ev, op_spans)
        for j in jobs:
            layer = job_layer(ev, j)
            if layer in secs and j["end"]:
                secs[layer] += (j["end"] - j["start"]) / 1e3
        m["lineage.staging_s"] = secs["staging"] / n
        m["lineage.commit_s"] = secs["commit"] / n
        m["lineage.lineage_s"] = secs["lineage"] / n
        m["lineage.jobs"] = len(jobs) / n
        written = b.files_written[-len(ops):]
        m["lineage.files_written"] = statistics.median(f for f, _ in written)
        m["lineage.bytes_written"] = statistics.median(s for _, s in written)
    if b.workload == "curate":
        want = {str(s) for s in op_spans}
        passes = sum(
            1 for st in ev["stages"].values()
            if st["tasks"] and "MapInPandas" in st["scopes"]
            and ev["jobs"].get(st["job"], {}).get("span") in want
        )
        m["curate.extract_passes"] = passes / n
    if b.workload == "rag":
        qs = [s["id"] for s in b.tracer.spans if s["name"] == "rag.question" and s["id"] >= traced["first_span"]]
        nq = max(len(qs), 1)
        m["rag.jobs_per_query"] = len(jobs_under(ev, b.tracer.descendants(qs))) / nq
        m["rag.rows_scanned_per_query"] = stage_totals(ev, b.tracer.descendants(qs))["records_read"] / nq
        m["rag.plan_ms"] = statistics.median(b.tracer.durations("plans.rag.rag_search")) * 1e3
        m["rag.exec_ms"] = statistics.median(b.tracer.durations("rag.collect")) * 1e3


def scaling_pair(b):
    """Identical input, extract_parse + aggregate at local[n] and local[4n]:
    efficiency = (T_n / T_4n) / 4 (1.0 is linear scaling)."""
    from pdf_extraction_spark.operators.extract import extract_parse
    from pyspark.sql import functions as F

    lo = max(CORES // 4, 1)
    hi = min(4 * lo, CORES)
    walls = {}
    for cores in (lo, hi):
        b.start(cores=cores, cold=False)
        walls[cores], _ = timed(
            b.tracer, f"scale.local[{cores}]",
            lambda: extract_parse(b.pages()).agg(F.count("*")).collect(), PROBE_REPS,
        )
    return (walls[lo] / walls[hi]) / (hi / lo), walls


def per_layer(b):
    import checks
    import pyarrow.parquet as pq

    m = dict.fromkeys(UNITS, 0.0)
    extract_job(b)  # warm-up: the first full-size extract job compiles its code paths
    untraced_extract_s = extract_job(b)

    ev_dir = os.path.join(b.run_dir, "eventlog")
    b.tracer = Tracer(True)
    b.start(event_log=ev_dir, cold=False)
    with RssSampler() as rss:
        m["extract.wall_s"] = extract_job(b)
        traced = {"first_span": len(b.tracer.spans)}
        with b.tracer.span("traced_pass"):
            traced.update(b.loop(b.seconds))
        with b.tracer.span("probes"):
            scan_probe(b, m)
            if b.workload == "curate":
                curate_probes(b, m)
                m["dedup.near_recall"] = checks.near_recall(b.surviving, b.meta["clusters"])
            elif b.workload == "rag":
                rag_probes(b, m)
    m["proc.peak_rss_mb"] = rss.peak_kb / 1024
    b.tracer.sc = None
    b.spark.stop()  # flushes the event log
    b.spark = None
    ev = parse_event_log(ev_dir)
    runtime_metrics(b, ev, traced, m)

    sample = pq.read_table(b.pages_path).slice(0, KERNEL_SAMPLE).to_pylist()
    k = kernel_timings(sample)
    m["kernels.html_us_per_doc"] = k["html_us"]
    m["kernels.pdf_us_per_doc"] = k["pdf_us"]
    m["kernels.clean_us_per_doc"] = k["clean_us"]
    m["kernels.transcript_us_per_doc"] = k["transcript_us"]
    m["extract.kernel_share"] = k["fused_us"] * 1e-6 * b.n_pages / (m["extract.wall_s"] * CORES)
    m["scale.eff_1_to_4"], scale_walls = scaling_pair(b)

    # the same job, equally warm, without and then with the event log and spans
    m["trace.overhead_frac"] = m["extract.wall_s"] / untraced_extract_s - 1

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{b.workload}-seed{b.meta['seed']}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": b.workload,
            "seed": b.meta["seed"],
            "n_pages": b.n_pages,
            "metrics": m,
            "untraced_extract_s": untraced_extract_s,
            "traced": traced,
            "kernel_timings_us": k,
            "scaling_walls_s": scale_walls,
            "spans": b.tracer.spans,
            "self_time_s": self_times(b.tracer.spans),
            "scope_run_s": layer_breakdown(ev),
            "jobs": ev["jobs"],
            "stages": ev["stages"],
        }, f, indent=1, default=str)
    log(f"trace written to {path}")
    return {k: (v, UNITS[k]) for k, v in m.items()}
