"""``get_spark``'s master: spark-submit's ``--master`` stands; otherwise
``local[local_cores()]``."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_cores_is_the_env_else_the_affinity(monkeypatch):
    from loongcollector_spark.session import local_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3


def test_spark_submit_master_stands(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from loongcollector_spark.session import get_spark\n"
        "s = get_spark()\n"
        "print('PROBE', s.sparkContext.master,"
        " s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    env = dict(
        os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable, SPARK_GRAFT_CPUS="3",
    )
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--driver-memory", "1g",
         str(probe)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert "PROBE local[2] 8" in out.stdout, out.stderr[-3000:]
