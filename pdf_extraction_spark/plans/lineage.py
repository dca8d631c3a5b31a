"""Checkpointed extraction with per-partition lineage (north_rule §4.3).

The input is processed in **buckets** keyed by ``pmod(xxhash64(url), B)``
— the sandbox stand-in for Iceberg snapshot/partition batches (on a real
deployment ``snapshot_id`` comes from the Iceberg table; here it
identifies the input fingerprint). :func:`commit_bucket` is the one
commit protocol, shared by the batch loop here (key ``bucket``) and the
streaming sink (key ``batch_id``): write the bucket's docs partition
(per-write dynamic overwrite, so a half-written bucket from a killed run
is replaced idempotently), read back only that partition with the known
schema, then append its lineage rows. The lineage row IS the commit
marker: a killed run resumes by skipping the buckets
:func:`completed_buckets` lists — completed buckets are never
recomputed. A bucket with no rows writes neither a docs partition nor a
lineage file, so a resumed run re-runs it as an empty job and
``lineage/`` does not grow.

Lineage rows (FIXTURES.md §4):
``(snapshot_id, partition_id, doc_count, bytes, extractor_version,
wall_time_s)`` — one per Spark partition per bucket, measured inside the
extraction UDF itself.
"""

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.extract import EXTRACTOR_VERSION
from ..operators.extract import FUSED_SCHEMA, _extract_parse_batches

LINEAGE_SCHEMA = (
    "snapshot_id long, partition_id int, doc_count long, bytes long, "
    "extractor_version string, wall_time_s double"
)

_FUSED_LINEAGE_SCHEMA = FUSED_SCHEMA + ", partition_id int, extract_wall_s double"


def _extract_with_partition(batches):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else -1
    t0 = time.perf_counter()
    for out in _extract_parse_batches(batches):
        out["partition_id"] = pid
        out["extract_wall_s"] = time.perf_counter() - t0
        yield out


def extract_with_lineage(pages: DataFrame) -> DataFrame:
    """Fused extraction carrying (partition_id, cumulative wall time)."""
    return pages.mapInPandas(_extract_with_partition, schema=_FUSED_LINEAGE_SCHEMA)


def lineage_of(extracted: DataFrame, snapshot_id: int) -> DataFrame:
    """Aggregate per-partition lineage rows from an extracted frame."""
    return extracted.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("payload_bytes").alias("bytes"),
        F.max("extract_wall_s").alias("wall_time_s"),
    ).select(
        F.lit(snapshot_id).cast("long").alias("snapshot_id"),
        "partition_id",
        "doc_count",
        "bytes",
        F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
        "wall_time_s",
    )


def completed_buckets(spark: SparkSession, lineage_path: str) -> set:
    if not os.path.exists(lineage_path):
        return set()
    try:
        rows = (
            spark.read.schema(LINEAGE_SCHEMA)
            .parquet(lineage_path)
            .select("snapshot_id")
            .distinct()
            .collect()
        )
        return {r.snapshot_id for r in rows}
    except Exception:
        return set()


def commit_bucket(
    pages: DataFrame, docs_path: str, lineage_path: str, key: str, value: int,
    fail_after_docs: bool = False,
) -> None:
    """Extract ``pages`` into the ``{key}={value}`` docs partition, then
    append the lineage rows of what actually landed on disk. An empty
    bucket writes no partition and so appends nothing to ``lineage/``.
    ``fail_after_docs`` raises between the two commits (test hook)."""
    (
        extract_with_lineage(pages).withColumn(key, F.lit(value).cast("long"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(key).parquet(docs_path)
    )
    if fail_after_docs:
        raise RuntimeError(f"injected failure after {key} {value} output, before lineage commit")
    if not os.path.isdir(os.path.join(docs_path, f"{key}={value}")):
        return  # an empty write leaves no partition: nothing to read back or record
    committed = (
        pages.sparkSession.read.schema(f"{_FUSED_LINEAGE_SCHEMA}, {key} long")
        .parquet(docs_path).filter(F.col(key) == value)
    )
    lineage_of(committed, snapshot_id=value).write.mode("append").parquet(lineage_path)


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
    staged = spark.read.parquet(staged_path)

    processed = []
    for b in range(n_buckets):
        if b in done:
            continue
        subset = staged.filter(F.col("bucket") == b).drop("bucket")
        commit_bucket(subset, docs_path, lineage_path, "bucket", b, fail_after_docs=b == fail_bucket)
        processed.append(b)

    n_docs = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path).agg(F.sum("doc_count")).first()[0]
        if os.path.exists(lineage_path) else 0
    )
    return {
        "processed_buckets": processed,
        "skipped_buckets": sorted(done),
        "total_docs": n_docs or 0,
        "lineage_path": lineage_path,
        "docs_path": docs_path,
    }
