"""The session factory under a launcher that owns the master URL."""

import os
import subprocess
import sys

import pytest

SPARK_SUBMIT = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_get_spark_keeps_launcher_master(tmp_path):
    # spark-submit --master local[2] starts the JVM; get_spark(cores=3)
    # layers its confs on top and keeps the launcher's master
    script = tmp_path / "master.py"
    script.write_text(
        "from entity_linking_spark.session import get_spark\n"
        "s = get_spark(cores=3)\n"
        "print('MASTER=' + s.sparkContext.master)\n"
        "s.stop()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "512m", str(script)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert "MASTER=local[2]" in out.stdout, out.stderr[-2000:]
