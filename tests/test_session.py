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


def test_workers_import_the_package_the_driver_imported(tmp_path):
    """A driver that finds the package by ``sys.path`` alone, started
    outside the repo, runs a Python-UDF stage: ``get_spark`` hands the
    package's source root to the Python workers."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from loongcollector_spark.operators.splits import MergeMultilineLog\n"
        "from loongcollector_spark.session import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "df = s.createDataFrame([('g', 0, 'c a'), ('g', 1, 'E b')],"
        " 'src string, off long, content string')\n"
        "op = MergeMultilineLog(SourceKey='content', GroupKey='src',"
        " OrderKey='off', ContinuePattern='^c', EndPattern='^E')\n"
        "print('PROBE', [tuple(r) for r in op(df).collect()])\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(probe)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "PROBE [('g', 'c a\\nE b', 0, 2)]" in out.stdout, out.stderr[-3000:]
