"""The literal north_rule launch shape, end-to-end: ``spark-submit
--py-files dist/pdf_parser_spark.zip scripts/submit_job.py`` with an
emptied PYTHONPATH (imports must resolve from the zip), then the same
command again to prove idempotent resume through the packaged entry
point — not just through the pytest-imported library."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_launch_and_resume(spark, tmp_path):
    # build the zip fresh so the test pins the CURRENT package
    subprocess.run([sys.executable,
                    os.path.join(REPO, "scripts", "package.py")],
                   check=True, capture_output=True)
    zip_path = os.path.join(REPO, "dist", "pdf_parser_spark.zip")
    assert os.path.exists(zip_path)

    from pdf_parser_spark.sources.turns import synthetic_turns
    in_dir = str(tmp_path / "turns")
    synthetic_turns(spark, 12).write.mode("overwrite").parquet(in_dir)

    env = dict(os.environ)
    env["PYTHONPATH"] = ""  # imports must come from --py-files
    cmd = [SPARK_SUBMIT, "--master", "local[2]",
           "--py-files", zip_path,
           os.path.join(REPO, "scripts", "submit_job.py"),
           "--input", in_dir,
           "--output", str(tmp_path / "out"),
           "--lineage", str(tmp_path / "lineage"),
           "--n-buckets", "2", "--salt", "1", "--partitions", "2"]

    def run_once() -> dict:
        p = subprocess.run(cmd, env=env, cwd=str(tmp_path),
                           capture_output=True, text=True, timeout=300)
        assert p.returncode == 0, p.stderr[-3000:]
        metrics = [ln for ln in p.stdout.splitlines()
                   if ln.startswith("{")]
        assert metrics, p.stdout[-2000:]
        return json.loads(metrics[-1])

    first = run_once()
    assert first["turns"] > 0
    resumed = run_once()
    assert resumed["turns"] == 0  # every bucket already committed
    assert resumed["run_id"] != first["run_id"]  # each launch mints one


def test_submit_rejects_run_id():
    """The attempt id is minted by the job: the launcher takes no
    ``--run-id`` and argparse refuses it before any Spark work."""
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "submit_job.py"),
         "--input", "i", "--output", "o", "--lineage", "l",
         "--run-id", "x"], capture_output=True, text=True, timeout=60)
    assert p.returncode == 2
    assert "unrecognized arguments: --run-id x" in p.stderr
