"""The soak scripts run from any working directory: their Spark Python
workers import ``marky_spark`` from the checkout the script lives in."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_soak_runs_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SOAK_CRAWL_DIR=str(tmp_path / "crawl"),
               SOAK_OUT_DIR=str(tmp_path / "out"))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "soak.py"),
         "300", "2", "2"],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["exactly_once"] and result["n_docs"] == 300
