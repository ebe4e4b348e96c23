"""``get_spark`` keeps a shuffle-partition count set at launch
(``spark-submit --conf``, spark-defaults.conf) and applies its own
default only when the launch conf carries none.  Each case starts its own
driver in a fresh process, because a launch conf is fixed per JVM."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

SCRIPT = """
from python_fastly_log_query_spark.session import get_spark
spark = get_spark("launch-conf")
print("PARTITIONS=" + spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


@pytest.mark.parametrize(
    "submit_args, want",
    [("--conf spark.sql.shuffle.partitions=5 pyspark-shell", "5"), (None, "32")],
    ids=["preset-survives", "default-applies"],
)
def test_launch_conf_shuffle_partitions(submit_args, want):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m", SPARK_GRAFT_CPUS="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = [l for l in proc.stdout.splitlines() if l.startswith("PARTITIONS=")]
    assert got == [f"PARTITIONS={want}"], (proc.stdout[-2000:], proc.stderr[-2000:])
