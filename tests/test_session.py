"""Session defaults of ``get_spark``."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dataframe_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_cores_fall_back_to_cpu_affinity(tmp_path):
    """Without ``SPARK_GRAFT_CPUS`` the session runs one thread per CPU
    this process may use, not a fixed count."""
    script = tmp_path / "probe.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {REPO!r})
from airbyte_custom_spark.session import get_spark
spark = get_spark(app_name="cpu-fallback")
sc = spark.sparkContext
print(sc.master, sc.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    r = subprocess.run(
        [sys.executable, str(script)], env=env, capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-3000:]
    n = len(os.sched_getaffinity(0))
    assert r.stdout.split()[-3:] == [f"local[{n}]", str(n), str(n)], r.stdout
