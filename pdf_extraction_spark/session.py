"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point and safe locally:
- AQE on (runtime coalescing, skew-join splitting)
- Arrow enabled for pandas-UDF exchange; small Arrow batches because the
  extract UDF carries MB-scale binary payloads per row
- shuffle partitions sized from local parallelism (overridable)
- under spark-submit, the submitted --master and --conf stand
"""

import functools
import os
import zipfile

from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

# binary payloads are MB-scale; keep Arrow batches small so a batch of
# html blobs fits comfortably in the Python worker (SURVEY.md §4.2.4)
ARROW_BATCH_ROWS = 256


def get_spark(
    app_name: str = "pdf_extraction_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    conf = {}
    # under spark-submit (it started the JVM and set PYSPARK_GATEWAY_PORT)
    # the submitted --master and --conf stand unless a master is passed
    if master is not None or "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = master or f"local[{cpus}]"
        conf["spark.master"] = master
        # local[N]: ~1 shuffle partition per core; on a real cluster this is
        # sized to keep post-shuffle partitions in the 64–256 MB range
        n = int(master[master.find("[") + 1 : master.find("]")]) if "[" in master else cpus
        conf["spark.sql.shuffle.partitions"] = str(max(n, 1))

    builder = (
        SparkSession.builder.appName(app_name)
        .config(map=conf)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def per_call_pandas_udf(return_type):
    """Decorator: like ``pandas_udf(return_type)``, but the UDF is built
    anew on every call, so it binds to the SparkContext running at that
    moment. A module-level pandas UDF caches its JVM function together
    with the first context's accumulator; after ``spark.stop()`` and a
    new session, every task then fails to report back to the driver
    ("Failed to update accumulator"); one with a DDL-string type cannot
    even be defined before a context exists. The wrapper keeps the
    function's name, so its column reads ``name(arg)``."""

    def wrap(fn):
        @functools.wraps(fn)
        def call(*cols):
            return pandas_udf(fn, return_type)(*cols)

        return call

    return wrap


def package_zip(dest_dir: str | None = None) -> str:
    """Zip the pdf_extraction_spark package for spark-submit --py-files /
    SparkContext.addPyFile (multi-executor shipping)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    dest_dir = dest_dir or os.path.join(root, ".bench_cache")
    os.makedirs(dest_dir, exist_ok=True)
    zip_path = os.path.join(dest_dir, "pdf_extraction_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root)
                zf.write(full, rel)
    return zip_path
