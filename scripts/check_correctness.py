"""Local mirror of the driver's correctness gate.

Runs every suite query on Spark AND its DuckDB oracle at sf0.01,
canonicalizes (sorted rows, columns sorted by name, doubles rounded to
1e-9), and reports per-query match/mismatch with first differing row.

Usage: python scripts/check_correctness.py [name ...] [--sf DIR]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from selium_spark import get_spark  # noqa: E402
from selium_spark.sources.tables import TABLES  # noqa: E402
from selium_spark.suite import ORACLES, QUERIES  # noqa: E402


def _canon_val(v, round_decimals):
    """Type-tagged canonical form: int vs float is a REAL mismatch at the
    driver (its value-hash serializes them differently — a DuckDB HUGEINT
    surfacing as float64 hashed != Spark's int64 in round 1), so the tag
    keeps the local gate at least as strict."""
    import numpy as np

    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("f", "nan" if math.isnan(f) else round(f, round_decimals))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("l", tuple(_canon_val(x, round_decimals) for x in v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("y", bytes(v))
    return ("s", v) if isinstance(v, str) else ("o", repr(v))


def canon_rows(rows, cols, round_decimals=9):
    out = []
    for row in rows:
        out.append(tuple(_canon_val(row[c], round_decimals) for c in cols))
    return sorted(out, key=repr)


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    plain = "--plain" in argv
    if plain:
        argv.remove("--plain")
    timed = "--time" in argv
    if timed:
        argv.remove("--time")
    names = argv or list(QUERIES)

    if plain:
        # driver-faithful mode: a bare session with none of our confs
        # (catches anything that silently depends on session.get_spark)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark(app_name="check_correctness", cpus=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            s_rows = canon_rows([r.asDict() for r in sdf.collect()], s_cols)
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        spark_s = time.time() - t0
        sql = ORACLES.get(name)
        if sql is None:
            print(f"pass {name} (rows-only: {len(s_rows)} rows) [{spark_s:.1f}s]")
            n_pass += 1
            continue
        t1 = time.time()
        try:
            ddf = con.sql(sql).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        d_cols = sorted(ddf.columns.tolist())
        if s_cols != d_cols:
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            n_fail += 1
            continue
        d_rows = canon_rows(
            [dict(zip(ddf.columns, row)) for row in ddf.itertuples(index=False)], d_cols
        )
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]}\n  spark={bad[1]}\n  duck ={bad[2]}")
            n_fail += 1
        else:
            extra = f" spark={spark_s:.2f}s duck={time.time()-t1:.2f}s" if timed else ""
            print(f"pass {name} ({len(s_rows)} rows) [{time.time()-t0:.1f}s]{extra}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail / {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
