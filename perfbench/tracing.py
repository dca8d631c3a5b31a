"""Tracing for the per-layer run: spans around the benchmark's calls into
each layer, Spark event-log task metrics attributed to those spans and to
operator scopes, a /proc RSS sampler, and single-process kernel timings.

Spans are kept in memory and written out once, when the run ends. A span
that calls Spark tags its jobs through the SparkContext local property
``perfbench.span``, so every stage of the event log maps back to the span
(and through it to the layer) that caused it.
"""

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op, which is
    how the untraced end-to-end run uses the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans = []
        self._stack = []
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROP, str(self._stack[-1]) if self._stack else None
                )

    def durations(self, name: str):
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def descendants(self, root_ids):
        """Ids of the given spans and every span below them."""
        out = set(root_ids)
        for s in self.spans:  # parents always precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out


def self_times(spans):
    """name → summed self time (duration minus time covered by children)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out = {}
    for s in spans:
        d = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + d
    return out


def parse_event_log(log_dir: str):
    """Jobs, stages and per-stage task totals from a Spark JSON event log.

    Returns {"jobs": {job_id: {"span", "stages", "start", "end", "sql"}},
    "stages": {stage_id: {...totals, "scopes", "job"}}, "sql": {id: plan}}.
    """
    jobs, stages, sql = {}, {}, {}
    stage_job = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "span": props.get(SPAN_PROP),
                        "sql": props.get("spark.sql.execution.id"),
                        "stages": ev.get("Stage IDs", []),
                        "start": ev.get("Submission Time"),
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql[str(ev.get("executionId"))] = ev.get("physicalPlanDescription", "")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["scopes"] = sorted(
                        {json.loads(r["Scope"])["name"] for r in info.get("RDD Info", []) if r.get("Scope")}
                    )
                    st["completed"] = True
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], _new_stage()), ev)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _new_stage():
    return {
        "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
        "sched_wait_s": 0.0, "shuffle_write_bytes": 0, "shuffle_fetch_wait_s": 0.0,
        "spill_bytes": 0, "records_read": 0, "bytes_written": 0,
        "scopes": [], "completed": False,
    }


def _add_task(st, ev):
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    if info.get("Failed"):
        st["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    st["run_s"] += run_ms / 1e3
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    # the Spark UI's scheduler delay: time a launched task spent neither
    # deserializing, running, serializing its result nor being fetched
    wall = (info.get("Finish Time", 0) or 0) - (info.get("Launch Time", 0) or 0)
    busy = (
        run_ms + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0) + (info.get("Getting Result Time", 0) or 0)
    )
    st["sched_wait_s"] += max(wall - busy, 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    st["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


RUNTIME_KEYS = (
    "cpu_s", "gc_s", "sched_wait_s", "shuffle_write_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "failed_tasks",
)


def stage_totals(log, span_ids):
    """Summed task metrics of the stages whose jobs ran under span_ids."""
    want = {str(s) for s in span_ids}
    tot = dict.fromkeys(RUNTIME_KEYS + ("tasks", "records_read"), 0)
    for st in log["stages"].values():
        job = log["jobs"].get(st["job"])
        if job is None or job["span"] not in want:
            continue
        for k in tot:
            tot[k] += st[k]
    return tot


def jobs_under(log, span_ids):
    want = {str(s) for s in span_ids}
    return [j for j in log["jobs"].values() if j["span"] in want]


def job_layer(log, job):
    """Layer of an ingest job: the last directory of the path its SQL plan
    writes (staged → staging, docs → commit, lineage → lineage); jobs
    that write nothing are reads."""
    plan = log["sql"].get(job["sql"] or "", "")
    node = plan.rfind("Execute InsertIntoHadoopFsRelationCommand\n")
    if node == -1:
        return "read"
    args = plan[node:].split("Arguments: ", 1)[1].split(",", 1)[0]
    return {"staged": "staging", "docs": "commit", "lineage": "lineage"}.get(
        os.path.basename(args.rstrip("/")), "read"
    )


def layer_breakdown(log):
    """Task run seconds per combination of layer-identifying operator
    scopes in a stage, for the trace file."""
    out = {}
    for st in log["stages"].values():
        key = "+".join(s for s in st["scopes"] if s in LAYER_SCOPES) or "other"
        out[key] = out.get(key, 0.0) + st["run_s"]
    return out


# operator scopes that tell a stage's layer: MapInPandas is the extract or
# embed UDF, ArrowEvalPython a pandas UDF (langid, MinHash), Window the
# exact dedup, TakeOrderedAndProject the top-k
LAYER_SCOPES = (
    "MapInPandas", "ArrowEvalPython", "Exchange", "Window", "SortMergeJoin",
    "BroadcastHashJoin", "TakeOrderedAndProject", "WriteFiles", "Scan parquet",
)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)


def tree_rss_kb(root: int) -> int:
    children, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields.get("PPid", "0").strip()), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0]) if "VmRSS" in fields else 0
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def kernel_timings(rows, reps: int = 3):
    """Single-process µs per document of each pure-Python kernel over a
    fixed sample of pages, median of ``reps`` passes. ``fused_us`` is the
    per-document cost of what the extract UDF runs (extract + parse)."""
    from pdf_extraction_spark.kernels.extract import extract_document, is_pdf_payload
    from pdf_extraction_spark.kernels.htmlio import decode_html_payload, extract_main_content
    from pdf_extraction_spark.kernels.pdfio import extract_pdf_text
    from pdf_extraction_spark.kernels.text_cleaner import clean_text
    from pdf_extraction_spark.kernels.transcript import parse_transcript

    html = [r for r in rows if not is_pdf_payload(r["url"], r["html"])]
    pdf = [r for r in rows if is_pdf_payload(r["url"], r["html"])]
    raws = [extract_main_content(decode_html_payload(r["html"])) for r in html] + [
        extract_pdf_text(r["html"]) for r in pdf
    ]
    cleaned = [clean_text(t) for t in raws]

    def per_doc(fn, items):
        if not items:
            return 0.0
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            times.append(time.perf_counter() - t0)
        return statistics.median(times) / len(items) * 1e6

    return {
        "html_us": per_doc(lambda r: extract_main_content(decode_html_payload(r["html"])), html),
        "pdf_us": per_doc(lambda r: extract_pdf_text(r["html"]), pdf),
        "clean_us": per_doc(clean_text, raws),
        "transcript_us": per_doc(parse_transcript, cleaned),
        "fused_us": per_doc(
            lambda r: parse_transcript(extract_document(r["url"], r["html"])[1]), rows
        ),
    }
