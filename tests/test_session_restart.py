"""Pandas UDFs keep working after the SparkSession is stopped and a new
one started in the same Python process (notebooks, long-lived drivers,
test suites that restart). A UDF object that outlives its session still
holds the first context's accumulator; every task of the second session
then logs "Failed to update accumulator" instead of reporting back."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys
from pyspark.sql import functions as F
from pdf_extraction_spark.session import get_spark

CONF = {"spark.ui.showConsoleProgress": "false"}
# the first session starts before the imports: a module-level
# pandas_udf("string") needs a running context just to be defined
spark = get_spark(master="local[1]", extra_conf=CONF)

from pdf_extraction_spark.operators.dedup import simhash_udf
from pdf_extraction_spark.operators.executives import roster_udf
from pdf_extraction_spark.operators.stemming import _stem_udf
from pdf_extraction_spark.operators.textanalysis import (
    fingerprint_udf, fold_accents_udf, langid_udf, nfc_normalize_udf,
    token_count_udf,
)

UDFS = [langid_udf, token_count_udf, fingerprint_udf, nfc_normalize_udf,
        fold_accents_udf, simhash_udf, roster_udf, _stem_udf]
TEXT = "John Smith - Chief Executive Officer. The café is running and the results are in."

for run in range(2):
    if run:
        spark = get_spark(master="local[1]", extra_conf=CONF)
    df = spark.createDataFrame([(TEXT,)], "text string")
    for udf in UDFS:
        # marker on stderr, so a failure names the UDF whose task erred
        sys.stderr.write(f"APPLY run={run} {udf.__name__}\n")
        sys.stderr.flush()
        print(f"ROW run={run} {udf.__name__} {df.select(udf(F.col('text'))).collect()[0][0]!r}", flush=True)
    spark.stop()
"""


def test_module_udfs_survive_session_restart():
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO, "PYSPARK_PYTHON": sys.executable},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    rows = [line.split(" ", 3)[1:] for line in r.stdout.splitlines() if line.startswith("ROW ")]
    assert len(rows) == 16, r.stdout
    first = {name: value for run, name, value in rows if run == "run=0"}
    second = {name: value for run, name, value in rows if run == "run=1"}
    assert first == second
    # the UDFs (by run) whose tasks failed to report back
    stale = [
        part.split("\n", 1)[0]
        for part in r.stderr.split("APPLY ")[1:]
        if "Failed to update accumulator" in part
    ]
    assert not stale
