"""North-rule deployment clause: the pipeline runs via REAL
``spark-submit --py-files <zip>`` (not just an in-process session) —
tools/submit_pipeline.py end-to-end as a subprocess."""

import json
import os
import subprocess

import pytest

from npm_extraction_server_spark.plans.session import build_package_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pipeline(tmp_path):
    zip_path = build_package_zip()
    env = os.environ.copy()
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    out = tmp_path / "out"
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", zip_path,
         "tools/submit_pipeline.py",
         "--synthetic", "60", "--out", str(out), "--no-linking"],
        cwd=REPO, capture_output=True, text=True, timeout=420, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_triples"] > 0
    # the materialized warehouse exists on disk
    assert (out / "triples").exists() and (out / "lineage").exists()


def test_default_cpus_follow_host_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS``, get_spark's master and bench.py's
    CPUS use one thread per CPU this process may run on. The session
    builder is stopped before it starts a JVM."""
    from pyspark.sql import SparkSession

    from npm_extraction_server_spark.plans.session import get_spark

    class Built(Exception):
        pass

    def capture(builder):
        raise Built(builder._options["spark.master"])

    cores = len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built) as got:
        get_spark()
    assert got.value.args[0] == f"local[{cores}]"
    proc = subprocess.run(
        ["python", "-c", "import bench; print(bench.CPUS)"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
        env={k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"})
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert int(proc.stdout) == cores
