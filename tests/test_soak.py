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


def test_media_soak_runs_outside_the_repo(tmp_path):
    """A small media soak: the crash + resume of its image branch and its
    two other outputs read back each blob exactly once, and the error rows
    are exactly the planted poison."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(MEDIA_SOAK_OUT=str(tmp_path / "media"))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "media_soak.py"),
         "300", "2"],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["exactly_once"] and result["n_blobs"] == 300
    assert result["n_error_rows"] == result["n_poison_planted"] > 0


def test_convert_job_runs_outside_the_repo(tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "a.html").write_text("<h1>Title</h1><p>body</p>")
    (corpus / "b.csv").write_text("x,y\n1,2\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "convert_job.py"),
         "--input", str(corpus), "--input-format", "binary",
         "--output", str(tmp_path / "out"), "--buckets", "2", "--waves", "1",
         "--local", "2"],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    from marky_spark.pipeline import SnapshotStore

    manifest = SnapshotStore(str(tmp_path / "out")).read()
    assert manifest["committed_buckets"] and manifest["snapshots"]
