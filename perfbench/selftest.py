"""Self-test of the benchmark's own machinery; run from the repository
root:

    python3 perfbench/selftest.py

Checks, in a few seconds plus one short Spark session:

- the generators are deterministic: the same seed gives the same bytes;
- the SQL-metric parser reads the renderings the status store produces,
  and the file-source offset parser reads both renderings of an offset;
- a pandas-UDF suite query (``wasm_udf_lcg_bucket``) runs from a
  working directory outside the repository, so Spark's Python workers
  import ``selium_spark`` through the pinned ``PYTHONPATH`` rather than
  through the current directory, and its output equals the oracle.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.core import ROOT, pin_environment  # noqa: E402

# runs in the child, whose working directory is not the repository
UDF_CHECK = """
import sys
from perfbench.core import Bench
from perfbench.gen import STAR_TABLES
from perfbench.oracle import Oracle, diff, spark_rows
from selium_spark.suite import ORACLES, QUERIES

data, work = sys.argv[1], sys.argv[2]
bench = Bench(seed=0, seconds=0, trace=False, work=work)
bench.start_session()
try:
    got = spark_rows(QUERIES["wasm_udf_lcg_bucket"](bench.spark, data))
finally:
    bench.stop()
oracle = Oracle({t: f"{data}/{t}.parquet" for t in STAR_TABLES})
why = diff(got, oracle.rows(ORACLES["wasm_udf_lcg_bucket"]))
print("wasm_udf_lcg_bucket:", why or "matches the oracle")
sys.exit(1 if why else 0)
"""


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def main() -> int:
    from types import SimpleNamespace

    from perfbench.trace import log_offset, metric_value

    work = os.path.join(ROOT, "perfbench", "_work", f"selftest-{os.getpid()}")
    try:
        for tag in ("a", "b"):
            gen.write_star(os.path.join(work, tag), 0.001, seed=7)
        gen.write_star(os.path.join(work, "c"), 0.001, seed=8)
        a, b, c = (_digest(os.path.join(work, t)) for t in "abc")
        if a != b or a == c:
            print("FAIL: generator output is not a function of the seed")
            return 1
        print("ok: star tables are a function of the seed")

        cases = {"2.8 s": 2.8, "15,000": 15000.0, "total (min, med, max)\n1.5 KiB (1 B)": 1536.0}
        for text, want in cases.items():
            if abs(metric_value(text) - want) > 1e-9:
                print(f"FAIL: metric_value({text!r}) = {metric_value(text)}, want {want}")
                return 1
        print("ok: SQL metric renderings parse")

        for text in ('{"logOffset":12}', "{'logOffset': 12}"):
            if log_offset([SimpleNamespace(endOffset=text)]) != 12:
                print(f"FAIL: log_offset of {text!r} is not 12")
                return 1
        if log_offset([]) is not None:
            print("FAIL: log_offset of a query without sources is not None")
            return 1
        print("ok: file-source offsets parse")

        pin_environment(work, len(os.sched_getaffinity(0)))
        cwd = os.path.join(work, "elsewhere")
        os.makedirs(cwd)
        rc = subprocess.run(
            [sys.executable, "-c", UDF_CHECK, os.path.join(work, "a"), work], cwd=cwd
        ).returncode
        if rc:
            print("FAIL: pandas-UDF query from an outside working directory")
            return 1
        print("ok: pandas-UDF query from an outside working directory")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
