#!/usr/bin/env python
"""Production extraction job — the spark-submit entry point.

Usage (cluster):

    python -c "from pdf_extraction_spark.session import package_zip; print(package_zip())"
    spark-submit --py-files pdf_extraction_spark.zip \
        scripts/run_extraction.py \
        --input warehouse.pages --output /data/out --buckets 64

Usage (local smoke):

    python scripts/run_extraction.py --synth 500 --output /tmp/out

Reads the pages table (parquet path or Iceberg table name), runs the
bucket-checkpointed extraction (resumable: rerun the same command after
a failure and completed buckets are skipped via the lineage table), and
writes docs + lineage under --output.
"""

import argparse
import sys


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", help="pages parquet path or iceberg table name")
    parser.add_argument("--synth", type=int, default=0, help="synthesize N pages instead of --input")
    parser.add_argument("--output", required=True, help="output directory (docs/ + lineage/)")
    parser.add_argument("--buckets", type=int, default=16, help="checkpoint buckets")
    parser.add_argument("--repartition", type=int, default=0, help="url-hash repartition width (0 = off)")
    args = parser.parse_args(argv)
    if not args.input and not args.synth:
        parser.error("one of --input / --synth is required")

    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app_name="pdf_extraction_spark.extract")

    from pdf_extraction_spark.plans.lineage import run_checkpointed_extraction
    from pdf_extraction_spark.sources.pages import read_pages, synth_pages_df

    if args.synth:
        pages = synth_pages_df(spark, args.synth)
    else:
        pages = read_pages(spark, args.input)
    if args.repartition:
        from pyspark.sql import functions as F

        pages = pages.repartition(args.repartition, F.xxhash64("url"))

    stats = run_checkpointed_extraction(spark, pages, args.output, n_buckets=args.buckets)
    print(
        f"done: {stats['total_docs']} docs; "
        f"processed buckets {stats['processed_buckets']}, "
        f"resumed past {stats['skipped_buckets']}; "
        f"lineage at {stats['lineage_path']}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
