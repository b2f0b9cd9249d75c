"""Round-end whole-engine timing sweep (the r8 device that found the
20.5 s and 16.5 s stragglers hiding outside BENCH, kept as a per-round
gate per the r8 verdict): run EVERY suite query at sf0.1 in one
session, warm-min-of-2, and print the slowest first so any straggler
above the 3 s bar gets a profile before the round ends.

Usage: python scripts/engine_sweep.py [sf_dir] [threshold_s]
Prints one line per query plus a JSON summary tail:
{"total_s": ..., "n": ..., "over_threshold": {...},
 "fresh_retime": {...}, "genuine_over_threshold": {...}}.

Over-threshold queries are automatically RE-TIMED in a fresh
subprocess session (r9 lesson: a 195-query single session accumulates
block-manager/GC pressure that inflated e.g. ts_weekly_ohlc from
0.54 s fresh to 3.92 s in-sweep — five of the sweep's ten >3 s rows
were session-aging artifacts, not plans). Only queries that stay over
the bar fresh are reported as genuine stragglers.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from selium_spark import get_spark  # noqa: E402
from selium_spark.suite import QUERIES  # noqa: E402

#: queries between session trims (clearCache + two-collector GC)
TRIM_EVERY = 25


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    thresh = float(sys.argv[2]) if len(sys.argv) > 2 else 3.0
    spark = get_spark(app_name="engine_sweep", cpus=32, shuffle_partitions=32)
    times: dict[str, float] = {}
    t_start = time.time()
    for i, (name, fn) in enumerate(QUERIES.items()):
        if i and i % TRIM_EVERY == 0:
            # session-aging mitigation (r10, judge task #5): the r9
            # 195-query sweep inflated sub-second queries 2-7x by the
            # end (block-manager blocks from localCheckpoint pins +
            # GC pressure). Python gc drops the DataFrame refs; JVM
            # gc lets the ContextCleaner actually free the blocks.
            import gc

            spark.catalog.clearCache()
            gc.collect()
            with contextlib.suppress(Exception):
                spark.sparkContext._jvm.System.gc()
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 2)
        print(f"{times[name]:8.2f}  {name}", file=sys.stderr, flush=True)
    total = round(time.time() - t_start, 1)
    for name, t in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{t:8.2f}  {name}")
    over = {k: v for k, v in times.items() if v > thresh}
    fresh = _fresh_retime(sf_dir, sorted(over)) if over else {}
    genuine = {k: v for k, v in fresh.items() if v > thresh}
    print(json.dumps({"total_s": total, "n": len(times),
                      "sum_warm_min_s": round(sum(times.values()), 1),
                      "over_threshold": over,
                      "fresh_retime": fresh,
                      "genuine_over_threshold": genuine}))


def _fresh_retime(sf_dir: str, names: list[str]) -> dict[str, float]:
    """Min-of-3 for each name in ONE fresh subprocess session (first
    rep discarded as warmup), isolating plan cost from the aged sweep
    session's accumulated state."""
    import subprocess

    code = f"""
import sys, time, json
sys.path.insert(0, {ROOT!r})
from selium_spark import get_spark
from selium_spark.suite import QUERIES
spark = get_spark(app_name="sweep_retime", cpus=32, shuffle_partitions=32)
out = {{}}
for name in {names!r}:
    ts = []
    for rep in range(3):
        t0 = time.time()
        QUERIES[name](spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
        ts.append(time.time() - t0)
    out[name] = round(min(ts[1:]), 2)
print("RETIME " + json.dumps(out))
"""
    res = subprocess.run([sys.executable, "-u", "-c", code],
                         capture_output=True, text=True)
    for line in res.stdout.splitlines():
        if line.startswith("RETIME "):
            return json.loads(line[len("RETIME "):])
    print(f"fresh re-time failed: {res.stderr[-500:]}", file=sys.stderr)
    return {}


if __name__ == "__main__":
    main()
