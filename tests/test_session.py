"""Session layer: the Python worker daemon and the workers' import path."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from conftest import SF_DIR
from selium_spark import worker_daemon
from selium_spark.session import PACKAGE_ROOT


def test_worker_daemon_keeps_unchanged_zip_directory(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` (run by PySpark at every task
    start) re-reads a zip archive's directory only when the archive
    changed on disk."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_probe_a.py", "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("wd_probe_a.py", "X = 1\n")
            z.writestr("wd_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)


FOREIGN_CWD_UDF = """
import sys
sys.path.insert(0, sys.argv[1])
from selium_spark import get_spark
from selium_spark.suite import QUERIES
spark = get_spark(app_name="foreign_cwd", cpus=2, shuffle_partitions=2)
rows = QUERIES["wasm_udf_lcg_bucket"](spark, sys.argv[2]).collect()
print(sorted((r.bucket, r.n) for r in rows))
"""


def test_pandas_udf_runs_from_a_foreign_cwd_without_pythonpath(tmp_path):
    """Spark's Python workers import ``selium_spark`` (the worker daemon
    and the UDF's own module) whatever the working directory: the
    session puts the package root on ``spark.executorEnv.PYTHONPATH``."""
    import duckdb

    from selium_spark.suite import ORACLES

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", FOREIGN_CWD_UDF, PACKAGE_ROOT, SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'")
    want = sorted(
        (int(b), int(n)) for b, n in con.sql(ORACLES["wasm_udf_lcg_bucket"]).fetchall()
    )
    assert proc.stdout.strip().splitlines()[-1] == str(want)


IMPORT_ORACLE_GATE = """
import sys
sys.path.append(sys.argv[1])
import scripts.check_correctness
import selium_spark
print(selium_spark.__file__)
"""


def test_oracle_gate_grades_its_own_checkout(tmp_path):
    """``scripts/check_correctness.py`` imports ``selium_spark`` from the
    checkout it lives in, so a second checkout is graded as itself."""
    import shutil

    copy = tmp_path / "checkout"
    ignore = shutil.ignore_patterns("__pycache__")
    for d in ("selium_spark", "scripts"):
        shutil.copytree(os.path.join(PACKAGE_ROOT, d), copy / d, ignore=ignore)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", IMPORT_ORACLE_GATE, str(copy)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    imported = os.path.realpath(proc.stdout.strip().splitlines()[-1])
    assert imported.startswith(os.path.realpath(copy) + os.sep)
