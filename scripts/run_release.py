#!/usr/bin/env python
"""Release job — extracted docs → curated, deduped, gated, manifested corpus.

The second spark-submit stage of the production pipeline (the first is
scripts/run_extraction.py, whose bucket-checkpointed output this reads):

    analyze (token/quality ratios) → exact dedup → MinHash-LSH near-dup
    drop → language/token/Gopher gates → md5-sharded corpus write +
    integrity manifest (operators/release.py:shard_manifest)

Usage (cluster):

    spark-submit --py-files pdf_extraction_spark.zip \
        scripts/run_release.py --docs /data/extract/docs \
        --output /data/release --shards 64

The manifest is the consumer-verifiable release contract: per-shard doc
count, byte total, and order-independent XOR digest — any field edit,
row loss, or injection flips a shard digest. Disjoint increments
manifest independently and fold exactly (merge_manifests; driver query
`manifest_merge`).
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--docs", required=True, help="extracted docs parquet (run_extraction.py output)")
    parser.add_argument("--output", required=True, help="output dir (corpus/ manifest/ summary.json)")
    parser.add_argument("--shards", type=int, default=64)
    parser.add_argument("--min-tokens", type=int, default=20)
    parser.add_argument("--languages", default="en")
    parser.add_argument("--minhash-bits", type=int, default=32)
    parser.add_argument("--bands", type=int, default=16)
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app_name="pdf_extraction_spark.release")

    from pyspark.sql.types import StructType

    from pdf_extraction_spark.operators.curation import with_gopher_flags
    from pdf_extraction_spark.operators.dedup import (
        drop_exact_duplicates,
        minhash_near_dup_drops,
    )
    from pdf_extraction_spark.operators.extract import FUSED_SCHEMA
    from pdf_extraction_spark.operators.release import shard_manifest, shard_of
    from pdf_extraction_spark.operators.skew import host_col
    from pdf_extraction_spark.operators.textanalysis import token_count_col

    t0 = time.perf_counter()
    walls = {}

    # read with the extraction's own schema and keep exactly its columns:
    # the docs table's partition key (``bucket``, or ``batch_id`` from the
    # streaming sink) is plumbing, not part of the released corpus
    fused = StructType.fromDDL(FUSED_SCHEMA)
    # persist the analyzed frame ONCE: every downstream stage (exact
    # dedup, the near-dup anti-join, the Gopher gate, the corpus write)
    # re-reads it, and without the cache each staged action would re-run
    # the read + tokenize lineage from parquet (measured 5× cost at sf1)
    analyzed = (
        spark.read.schema(fused).parquet(args.docs)
        .select(*fused.names)
        .withColumn("doc_id", F.xxhash64("url"))
        .withColumn("token_count", token_count_col(F.col("text")))
    ).persist()
    docs = analyzed
    n_in = docs.count()
    walls["read_analyze_s"] = round(time.perf_counter() - t0, 2)

    # exact dedup (normalized-text hash) — one shuffle on a 64-bit key
    t = time.perf_counter()
    docs = drop_exact_duplicates(docs, "text", "doc_id")
    n_exact = docs.count()
    walls["exact_dedup_s"] = round(time.perf_counter() - t, 2)

    # near-dup drop (MinHash-LSH, signature-collapse path — mega-cluster
    # safe); the language/token prefilter runs FIRST so signatures are
    # only computed for docs that can survive
    t = time.perf_counter()
    langs = tuple(args.languages.split(","))
    docs = docs.filter(
        F.col("lang").isin(*langs) & (F.col("token_count") >= args.min_tokens)
    )
    drops = minhash_near_dup_drops(
        docs, "text", "doc_id", num_hashes=args.minhash_bits, bands=args.bands
    )
    docs = docs.join(drops, "doc_id", "left_anti")
    n_near = docs.count()
    walls["gate_neardup_s"] = round(time.perf_counter() - t, 2)

    # Gopher quality gate on the survivors
    t = time.perf_counter()
    docs = with_gopher_flags(docs, "text").filter(F.col("gopher_pass"))
    docs = docs.withColumn("source", host_col(F.col("url"))).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    docs = docs.persist()
    n_final = docs.count()
    walls["gopher_gate_s"] = round(time.perf_counter() - t, 2)

    # sharded corpus write + integrity manifest over the SAME frame
    t = time.perf_counter()
    corpus_path = os.path.join(args.output, "corpus")
    manifest_path = os.path.join(args.output, "manifest")
    (
        docs.withColumn("shard", shard_of(F.col("doc_id"), args.shards))
        .repartition("shard")
        .sortWithinPartitions("shard", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(corpus_path)
    )
    manifest = shard_manifest(
        spark.read.parquet(corpus_path), n_shards=args.shards
    )
    manifest.write.mode("overwrite").parquet(manifest_path)
    m = manifest.agg(
        F.sum("n_docs").alias("docs"), F.sum("n_bytes").alias("bytes")
    ).first()
    walls["write_manifest_s"] = round(time.perf_counter() - t, 2)
    walls["total_s"] = round(time.perf_counter() - t0, 2)

    analyzed.unpersist()
    summary = {
        "n_input_docs": n_in,
        "n_after_exact_dedup": n_exact,
        "n_after_gates_neardup": n_near,
        "n_released": n_final,
        "manifest_docs": m["docs"],
        "manifest_bytes": m["bytes"],
        "n_shards": args.shards,
        "walls": walls,
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "summary.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print("release summary: " + json.dumps(summary))
    assert m["docs"] == n_final, "manifest count != released count"
    docs.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
