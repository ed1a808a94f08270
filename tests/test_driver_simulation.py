"""Driver-contract simulation: the REAL consumer of
``__spark_entry__`` builds its own bare SparkSession (no get_spark,
no repo PYTHONPATH in the JVM env). The TWS queries depend on
worker-side ``google.protobuf`` resolution, which get_spark normally
wires via env — this test pins the caller-provided-session path
(``session.ensure_protobuf_on_session``: addPyFile + sc.environment).

Runs in a SUBPROCESS so the bare JVM cannot inherit this pytest
session's already-wired environment, from a directory outside the
repo so nothing resolves the package through the working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e
qs = e.queries()
n = len(qs["streaming_tws_user_peaks"](spark, {sf!r}).collect())
assert n > 0, "tws peaks returned no rows"
n = len(e.entry(spark).collect())
assert n >= 0
print("DRIVER_SIM_OK")
spark.stop()
"""


def test_bare_session_runs_tws_query(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT.format(repo=repo, sf="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "DRIVER_SIM_OK" in proc.stdout
