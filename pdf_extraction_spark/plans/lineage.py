"""Checkpointed extraction with per-partition lineage (north_rule §4.3).

The input is processed in **buckets** keyed by ``pmod(xxhash64(url), B)``
— the sandbox stand-in for Iceberg snapshot/partition batches (on a real
deployment ``snapshot_id`` comes from the Iceberg table; here it
identifies the input fingerprint). :func:`commit_bucket` is the one
commit protocol, shared by the batch loop here (key ``bucket``) and the
streaming sink (key ``batch_id``). It has two halves:
:func:`write_bucket` writes the bucket's docs partition (per-write
dynamic overwrite, so a half-written bucket from a killed run is
replaced idempotently) and returns the lineage rows its extraction
tasks reported, and :func:`append_lineage` appends those rows. The
lineage row IS the commit marker: a killed run resumes by skipping the
buckets :func:`completed_buckets` lists — completed buckets are never
recomputed. A bucket with no rows writes neither a docs partition nor a
lineage file, so a resumed run re-runs it as an empty job and
``lineage/`` does not grow.

Each extraction task adds its own lineage row to an accumulator that
:func:`write_bucket` creates for that one write. Spark applies a result
task's accumulator update once, when the task succeeds, so after the
write returns the rows describe exactly the tasks whose output the
write committed; a failed or retried attempt adds nothing. The docs
table therefore holds only the extracted columns (``FUSED_SCHEMA`` plus
the partition key), and the lineage frame is built on the driver from
pandas through Arrow, with no Python task and no read-back of the docs.
The write then unregisters its accumulator, which PySpark would
otherwise keep for the life of the application: one per bucket, and one per
micro-batch of the streaming sink.

The batch loop writes one bucket ahead: bucket b+1's docs write runs on
one background thread while the main thread appends bucket b's lineage.
Lineage appends stay on the main thread, in bucket order, each after its
own bucket's docs commit, so the marker rule above holds. The write
thread is wrapped in ``inheritable_thread_target``: a new thread starts
with no Spark local properties, so without it the write jobs would lose
the caller's job group, description and tags. On a failure the in-flight
write finishes before the exception propagates. Each bucket costs two
jobs (the docs write, and the lineage append); a fresh run of B buckets
costs 2B+2 with staging and the closing ``total_docs`` sum.

Lineage rows (FIXTURES.md §4):
``(snapshot_id, partition_id, doc_count, bytes, extractor_version,
wall_time_s)`` — one per extraction task with output per bucket, timed
inside the extraction UDF itself.
"""

import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pandas as pd
from pyspark.accumulators import AccumulatorParam, _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.util import inheritable_thread_target

from ..kernels.extract import EXTRACTOR_VERSION
from ..operators.extract import FUSED_SCHEMA, _extract_parse_batches

LINEAGE_SCHEMA = (
    "snapshot_id long, partition_id int, doc_count long, bytes long, "
    "extractor_version string, wall_time_s double"
)


class _TaskRows(AccumulatorParam):
    """Accumulates a list of ``(partition_id, doc_count, bytes,
    wall_time_s)`` tuples, one per extraction task."""

    def zero(self, value):
        return []

    def addInPlace(self, rows, more):
        rows.extend(more)
        return rows


def _counted_batches(rows, batches):
    from pyspark import TaskContext

    t0 = time.perf_counter()
    n = size = 0
    for out in _extract_parse_batches(batches):
        n += len(out)
        size += int(out["payload_bytes"].sum())
        yield out
    if n:
        rows.add([(TaskContext.get().partitionId(), n, size, time.perf_counter() - t0)])


def extract_counted(pages: DataFrame):
    """Fused extraction (``FUSED_SCHEMA``) whose tasks each report one
    lineage row. Returns ``(docs, rows)``: once an action over ``docs``
    succeeds, ``rows.value`` lists one ``(partition_id, doc_count,
    bytes, wall_time_s)`` per task that produced documents."""
    rows = pages.sparkSession.sparkContext.accumulator([], _TaskRows())
    return pages.mapInPandas(partial(_counted_batches, rows), schema=FUSED_SCHEMA), rows


def completed_buckets(spark: SparkSession, lineage_path: str) -> set:
    if not os.path.exists(lineage_path):
        return set()
    rows = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(lineage_path)
        .select("snapshot_id")
        .distinct()
        .collect()
    )
    return {r.snapshot_id for r in rows}


def write_bucket(pages: DataFrame, docs_path: str, key: str, value: int) -> list:
    """Extract ``pages`` into the ``{key}={value}`` docs partition and
    return the lineage rows of the write's tasks. An empty bucket writes
    no partition and returns no rows."""
    docs, rows = extract_counted(pages)
    try:
        (
            docs.withColumn(key, F.lit(value).cast("long"))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy(key).parquet(docs_path)
        )
        return rows.value
    finally:
        # PySpark never unregisters an accumulator; once the write has
        # returned (or failed) no task of it can report to this one again
        _accumulatorRegistry.pop(rows.aid, None)


def append_lineage(spark: SparkSession, lineage_path: str, value: int, rows: list) -> None:
    """Append one lineage file holding ``rows`` (from :func:`write_bucket`)
    as snapshot ``value``, in one job."""
    if not rows:
        return  # an empty write ran no task with output: nothing to record
    frame = pd.DataFrame(sorted(rows), columns=["partition_id", "doc_count", "bytes", "wall_time_s"])
    frame.insert(0, "snapshot_id", value)
    frame.insert(4, "extractor_version", EXTRACTOR_VERSION)
    spark.createDataFrame(frame, LINEAGE_SCHEMA).coalesce(1).write.mode("append").parquet(lineage_path)


def commit_bucket(
    pages: DataFrame, docs_path: str, lineage_path: str, key: str, value: int
) -> None:
    """Extract ``pages`` into the ``{key}={value}`` docs partition, then
    append the lineage rows of the tasks that write committed."""
    rows = write_bucket(pages, docs_path, key, value)
    append_lineage(pages.sparkSession, lineage_path, value, rows)


def run_checkpointed_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    fail_bucket: int | None = None,
) -> dict:
    """Extract ``pages`` bucket-by-bucket with resume.

    Output layout: ``{out_dir}/docs`` parquet partitioned by ``bucket``;
    ``{out_dir}/lineage`` parquet. Returns run stats; ``total_docs`` is
    the lineage table's ``doc_count`` sum. ``fail_bucket`` injects a
    failure after that bucket's docs commit, before its lineage commit
    (test hook for the kill-resume fixture).
    """
    docs_path = os.path.join(out_dir, "docs")
    lineage_path = os.path.join(out_dir, "lineage")
    staged_path = os.path.join(out_dir, "staged")

    done = completed_buckets(spark, lineage_path)

    # Stage the bucketed input ONCE, partitioned by bucket: the bucket key
    # is computed (pmod(xxhash64(url))) so a filter on it can never be
    # pushed into the source scan — filtering per bucket in the loop would
    # re-scan the full input n_buckets times. After staging, each
    # iteration is a partition-PRUNED scan of its own bucket directory
    # (one full input scan total). On Iceberg the staging step disappears:
    # buckets come from real snapshots/partitions already materialized.
    # Staging is resumable: the _SUCCESS marker gates reuse, so a run
    # killed mid-stage rewrites it, and a resumed run re-reads it for free.
    if not os.path.exists(os.path.join(staged_path, "_SUCCESS")):
        (
            pages.withColumn(
                "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staged_path)
        )
    staged = spark.read.schema(
        StructType(pages.schema.fields + [StructField("bucket", IntegerType())])
    ).parquet(staged_path)

    todo = [b for b in range(n_buckets) if b not in done]
    processed = []
    with ThreadPoolExecutor(1) as writer:  # on exit, waits for the in-flight write

        def write(b):
            subset = staged.filter(F.col("bucket") == b).drop("bucket")
            # wrapped here, on the caller's thread, so the write job carries
            # the caller's local properties (job group, description, tags)
            return writer.submit(
                inheritable_thread_target(spark)(write_bucket), subset, docs_path, "bucket", b
            )

        written = write(todo[0]) if todo else None
        for b, nxt in zip(todo, todo[1:] + [None]):
            ahead = write(nxt) if nxt is not None else None
            rows = written.result()
            if b == fail_bucket:
                raise RuntimeError(f"injected failure after bucket {b} output, before lineage commit")
            append_lineage(spark, lineage_path, b, rows)
            processed.append(b)
            written = ahead

    n_docs = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
        .coalesce(1).agg(F.sum("doc_count")).first()[0]
        if os.path.exists(lineage_path) else 0
    )
    return {
        "processed_buckets": processed,
        "skipped_buckets": sorted(done),
        "total_docs": n_docs or 0,
        "lineage_path": lineage_path,
        "docs_path": docs_path,
    }
