"""Python worker set-up: the stat-checked zip import invalidation and the
session's master."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyspark
import pytest

from marky_spark import zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "A = 1\n"})
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_changed_zip_is_reread_unchanged_zip_is_not(zip_on_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    import zc_mod_a

    assert zc_mod_a.A == 1
    mtime_ns = os.stat(zip_on_path).st_mtime_ns
    _write_zip(zip_on_path, {"zc_mod_a": "A = 1\n", "zc_mod_b": "B = 2\n"})
    os.utime(zip_on_path, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    importlib.invalidate_caches()
    import zc_mod_b

    assert zc_mod_b.B == 2

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == zip_on_path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1


def test_install_is_idempotent():
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    assert zipcache._original is not zipcache.invalidate_caches


def _report_hook(batches):
    import pandas as pd

    hooked = zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    for pdf in batches:
        yield pd.DataFrame({"id": pdf["id"], "hooked": hooked})


def test_workers_run_the_stat_checked_invalidation(spark):
    rows = (spark.range(8, numPartitions=8)
            .mapInPandas(_report_hook, schema="id long, hooked boolean")
            .collect())
    assert len(rows) == 8
    assert all(r.hooked for r in rows)


def test_get_spark_keeps_the_submitted_master(tmp_path):
    script = tmp_path / "which_master.py"
    script.write_text(
        "from marky_spark.session import get_spark\n"
        "s = get_spark(confs={'spark.ui.enabled': 'false'})\n"
        "print('MASTER=' + s.sparkContext.master)\n"
        "s.stop()\n")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")]))
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run([submit, "--master", "local[2]", str(script)],
                          capture_output=True, text=True, cwd=REPO, env=env,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert "MASTER=local[2]" in proc.stdout.splitlines()
