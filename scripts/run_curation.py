#!/usr/bin/env python
"""Production corpus-curation job — pages → training-ready corpus.

The end-to-end composition of the curation suite, spark-submit-shaped
like run_extraction.py:

    extract+segment (fused UDF) → exact dedup → MinHash-LSH near-dup
    drop → language/token/stopword gate → Gopher quality gate → PII
    scrub → eval-set decontamination (optional) → deterministic
    stratified sampling (optional) → training-sequence packing →
    partitioned parquet corpus + per-host stats + packing stats

Usage (cluster):

    spark-submit --py-files pdf_extraction_spark.zip \
        scripts/run_curation.py --input warehouse.pages \
        --output /data/corpus --budget 2048

Usage (local smoke):

    python scripts/run_curation.py --synth 300 --output /tmp/corpus
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", help="pages parquet path or iceberg table name")
    parser.add_argument("--synth", type=int, default=0, help="synthesize N pages instead of --input")
    parser.add_argument("--output", required=True)
    parser.add_argument("--min-tokens", type=int, default=20)
    parser.add_argument("--languages", default="en", help="comma-separated keep list")
    parser.add_argument("--budget", type=int, default=2048, help="packing token budget")
    parser.add_argument("--shards", type=int, default=32, help="packing shards")
    parser.add_argument("--eval-parquet", help="optional eval set (text column) for decontamination")
    parser.add_argument("--sample", help="optional per-host sampling rates, e.g. host0.example=0.5,*=1.0")
    args = parser.parse_args(argv)
    if not args.input and not args.synth:
        parser.error("one of --input / --synth is required")

    from pyspark.sql import functions as F

    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app_name="pdf_extraction_spark.curate")

    from pdf_extraction_spark.operators.curation import (
        flag_contaminated,
        pack_sequences,
        pack_stats,
        scrub_pii,
        stratified_sample,
        with_gopher_flags,
    )
    from pdf_extraction_spark.operators.skew import host_col
    from pdf_extraction_spark.plans.curate import curate_corpus
    from pdf_extraction_spark.sources.pages import read_pages, synth_pages_df

    pages = (
        synth_pages_df(spark, args.synth) if args.synth else read_pages(spark, args.input)
    )

    out = curate_corpus(
        pages,
        min_tokens=args.min_tokens,
        languages=tuple(args.languages.split(",")),
    )
    docs = out["docs"]

    # Gopher gate on the curated survivors
    docs = with_gopher_flags(docs, "text").filter(F.col("gopher_pass"))

    # optional decontamination against a provided eval set
    if args.eval_parquet:
        eval_df = spark.read.parquet(args.eval_parquet)
        flags = flag_contaminated(docs, eval_df, "text", "doc_id")
        docs = docs.join(flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id")

    # optional deterministic per-host downsampling
    if args.sample:
        rates, default = {}, 1.0
        for part in args.sample.split(","):
            k, v = part.split("=")
            if k == "*":
                default = float(v)
            else:
                rates[k] = float(v)
        docs = docs.withColumn("__host", host_col(F.col("url")))
        docs = stratified_sample(docs, "doc_id", "__host", rates, default).drop("__host")

    # PII scrub replaces the text column
    scrubbed = scrub_pii(docs, "text", "doc_id").withColumnRenamed("scrubbed", "text")
    docs = docs.drop("text").join(scrubbed.select("doc_id", "text"), "doc_id")

    # materialize ONCE before the fan-out: three sinks + the data card
    # all act on this frame, and without the cache each action would
    # re-run the whole extract/dedup/gate lineage from the source
    docs = docs.persist()

    packed = pack_sequences(
        docs.select("doc_id", "token_count"), budget=args.budget, n_shards=args.shards
    )
    corpus = docs.join(packed.select("doc_id", "shard", "seq_id", "offset_in_seq"), "doc_id")

    corpus_path = os.path.join(args.output, "corpus")
    (
        corpus.repartition("shard")
        .sortWithinPartitions("shard", "seq_id", "offset_in_seq")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(corpus_path)
    )
    pack_stats(packed, budget=args.budget).write.mode("overwrite").parquet(
        os.path.join(args.output, "pack_stats")
    )
    out["stats"].write.mode("overwrite").parquet(os.path.join(args.output, "host_stats"))

    # dataset datasheet for the released corpus
    import json

    from pdf_extraction_spark.plans.card import corpus_card

    card = corpus_card(
        spark.read.parquet(corpus_path).withColumn("source", host_col(F.col("url"))),
        group_col="source",
    )
    with open(os.path.join(args.output, "data_card.json"), "w") as f:
        json.dump(card, f, indent=2)

    # cache hygiene: every sink is materialized — release curate's two
    # cached frames and the fan-out cache so a long-lived session
    # composing several corpora holds no residual cached frames
    for frame in out["caches"]:
        frame.unpersist()
    docs.unpersist()

    n = card["n_docs"]
    print(f"done: {n} curated docs → {corpus_path} (+ pack_stats, host_stats, data_card.json)")


if __name__ == "__main__":
    main()
