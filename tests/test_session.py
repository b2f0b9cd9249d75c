"""Session layer: the Python worker daemon, the workers' import path,
the driver JVM's options and the static-conf read-back."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from conftest import SF_DIR
from selium_spark import get_spark, worker_daemon
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


JIT_OPTIONS = "-XX:ThreadPriorityPolicy=1 -XX:CompilerThreadPriority=19"


def _compiler_thread_nices(pid: int) -> list[int]:
    """OS nice value of each live JIT compiler thread of process ``pid``."""
    nices = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue  # a compiler thread the JIT retired meanwhile
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            nices.append(int(stat[stat.rindex(")") + 2 :].split()[16]))
    return nices


def test_shared_session_jvm_runs_its_jit_at_nice_19(spark):
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert set(JIT_OPTIONS.split()) <= set(args)
    nices = _compiler_thread_nices(spark.sparkContext._gateway.proc.pid)
    assert nices and set(nices) == {19}


class _StubConf:
    """A conf whose ``get`` returns ``options`` (None when unset), or
    raises ``raises``."""

    def __init__(self, options, raises=None):
        self.options = options
        self.raises = raises

    def get(self, key):
        if self.raises is not None:
            raise self.raises
        return self.options.get(key)


@pytest.fixture()
def stub_live_session(monkeypatch):
    """Make ``getOrCreate`` hand back a stub of an already-live session.
    Like the real one, its runtime conf echoes every builder option,
    while its SparkContext's conf is ``make_started(builder options)``:
    what the JVM started with. Returns the captured builder options."""
    captured = {}

    def install(make_started, raises=None):
        def get_or_create(builder):
            captured.update(builder._options)
            started = _StubConf(make_started(dict(builder._options)), raises)
            stub = type("StubSession", (), {})()
            stub.conf = _StubConf(dict(builder._options), raises)
            stub.sparkContext = type(
                "StubContext",
                (),
                {"setLogLevel": lambda self, level: None, "getConf": lambda self: started},
            )()
            return stub

        monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
        return captured

    return install


def test_perfbench_extra_java_options_keep_the_jit_options(stub_live_session, recwarn):
    options = stub_live_session(dict)
    extra = "-Djava.io.tmpdir=/tmp/x -XX:-UsePerfData"
    get_spark(cpus=4, extra_conf={"spark.driver.extraJavaOptions": extra})
    assert options["spark.driver.defaultJavaOptions"] == JIT_OPTIONS
    assert options["spark.driver.extraJavaOptions"] == extra
    assert not [w for w in recwarn if issubclass(w.category, RuntimeWarning)]


def test_caller_default_java_options_merge_after_ours(stub_live_session, recwarn):
    """HotSpot takes a flag's last occurrence, so the caller's own
    default options come after the rule's and win."""
    options = stub_live_session(dict)
    get_spark(cpus=4, extra_conf={"spark.driver.defaultJavaOptions": "-Dx=1"})
    assert options["spark.driver.defaultJavaOptions"] == f"{JIT_OPTIONS} -Dx=1"
    assert not [w for w in recwarn if issubclass(w.category, RuntimeWarning)]


@pytest.mark.parametrize("key", ["spark.driver.memory", "spark.driver.defaultJavaOptions"])
def test_static_conf_missing_from_the_live_jvm_warns(stub_live_session, key):
    """A live JVM started without a static key (a plain session): the
    requested value was ignored, so that warns like a mismatch, though
    the live session's runtime conf reads back the requested value."""
    stub_live_session(lambda opts: {k: v for k, v in opts.items() if k != key})
    with pytest.warns(RuntimeWarning, match=key):
        get_spark(cpus=4)


def test_static_conf_read_back_lets_other_errors_raise(stub_live_session):
    stub_live_session(dict, raises=ConnectionError("gateway"))
    with pytest.raises(ConnectionError, match="gateway"):
        get_spark(cpus=4)


def test_second_get_spark_warns_on_the_shared_jvm_options(spark):
    """A real reused JVM: asking the shared session for other driver JVM
    options warns, since they only apply at JVM start."""
    key = "spark.driver.defaultJavaOptions"
    live = spark.sparkContext.getConf().get(key)
    cpus = spark.sparkContext.defaultParallelism
    try:
        with pytest.warns(RuntimeWarning, match=key):
            get_spark(
                app_name=spark.sparkContext.appName,
                cpus=cpus,
                shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
                extra_conf={key: "-Dselium.probe=1"},
            )
    finally:
        spark._jsparkSession.sessionState().conf().setConfString(key, live)
