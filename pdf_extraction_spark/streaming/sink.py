"""Exactly-once streaming extraction sink.

Each ``foreachBatch`` micro-batch is one bucket of the commit protocol in
plans/lineage.py: the sink calls the same :func:`commit_bucket` as the
batch loop, keyed by ``batch_id``, and skips batches that
:func:`completed_buckets` already lists.

Failure contract:
- a batch's docs land under ``batch_id=<n>`` via dynamic partition
  overwrite → a retried batch REPLACES its half-written output instead
  of appending duplicates;
- the lineage rows (snapshot_id = batch_id) come from the extraction
  tasks of the committed docs write and are appended only after it —
  they are the marker; a batch whose lineage row exists is skipped
  outright on redelivery;
- the stream's own checkpoint handles source progress, so a restarted
  query re-reads nothing already processed; the lineage guard covers
  the foreachBatch-retry window the checkpoint cannot.
"""

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.lineage import commit_bucket, completed_buckets


def make_extraction_sink(out_dir: str):
    """foreachBatch callback: pages micro-batch → extracted docs
    partitioned by batch_id (idempotent) → lineage commit marker."""
    docs_path = os.path.join(out_dir, "docs")
    lineage_path = os.path.join(out_dir, "lineage")

    def sink(batch_df: DataFrame, batch_id: int):
        if batch_id in completed_buckets(batch_df.sparkSession, lineage_path):
            return  # redelivered after a successful commit — drop
        if not os.path.exists(docs_path) and batch_df.isEmpty():
            # an empty FIRST-EVER batch would leave a docs dir with no
            # data files, which a schema-inferring reader of the output
            # cannot open — skip it. Once docs exist the hazard is gone,
            # so steady-state batches never pay the extra isEmpty() job
            # (the dir check is free)
            return
        commit_bucket(batch_df, docs_path, lineage_path, "batch_id", batch_id)

    return sink


def run_streaming_extraction_to_parquet(
    spark: SparkSession, pages_dir: str, out_dir: str, schema, available_now: bool = True
):
    """Wire a file-source pages stream through the exactly-once sink.
    ``available_now=True`` drains everything currently present and stops
    (the batch-shaped test/run mode); False runs continuously."""
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    writer = (
        stream.writeStream.foreachBatch(make_extraction_sink(out_dir))
        .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
