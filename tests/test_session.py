"""``session.get_spark`` under spark-submit: the submitted master and
conf stand, so a script that builds its session with ``get_spark()``
runs where it was submitted to."""

import os
import subprocess
import sys

from test_submit import REPO, _spark_submit

SCRIPT = r"""
from pdf_extraction_spark.session import get_spark

spark = get_spark(app_name="submitted")
print("MASTER", spark.sparkContext.master)
print("SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions"))
print("ARROW", spark.conf.get("spark.sql.execution.arrow.pyspark.enabled"))
spark.stop()
"""


def test_get_spark_keeps_the_submitted_master(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(SCRIPT)
    cmd = [
        _spark_submit(), "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=3",
        "--conf", "spark.ui.showConsoleProgress=false",
        str(script),
    ]
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable, "PYTHONPATH": REPO}
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    assert "MASTER local[2]" in r.stdout
    assert "SHUFFLE 3" in r.stdout
    assert "ARROW true" in r.stdout  # the engine's defaults still apply
