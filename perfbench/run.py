"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``perfbench/_work/``, starts one ``local[N]`` session
(N = usable cores), measures for ``--seconds``, checks every output
against DuckDB, deletes its inputs and prints the metrics. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics read from Spark's status
stores. Human-readable lines (units, sample counts, per-query and
per-stream detail, the layer figures not in the result line) go to
stdout before it.

Exits 2 without a result when the ``selium_spark`` package is not
beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.core import (  # noqa: E402
    ROOT,
    Bench,
    Result,
    become_subreaper,
    cpu_times,
    pin_environment,
    stop_descendants,
    steal_share,
)

WORKLOADS = ("batch_sf01", "stream_open")


def print_result(workload: str, result: Result, trace: bool) -> None:
    metrics = result.per_layer if trace else result.end_to_end
    frac = result.failed / result.attempted if result.attempted else 1.0
    print(f"# {workload}: correct={result.failed == 0} attempted={result.attempted} "
          f"failed={result.failed} failed_frac={frac:.4f}")
    for why in result.problems:
        print(f"#   problem: {why}")
    for why in result.warnings:
        print(f"#   warning: {why}")
    for name, m in metrics.items():
        print(f"#   {name:<32} {m.value:>14.6g} {m.unit:<8} n={m.samples}")
    for line in result.lines:
        print(f"#   {line}")
    print(
        json.dumps(
            {
                "correct": result.failed == 0 and result.attempted > 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {n: {"value": m.value, "unit": m.unit} for n, m in metrics.items()},
            }
        ),
        flush=True,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="selium_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "selium_spark", "__init__.py")):
        print(f"perfbench: no selium_spark package under {ROOT}", file=sys.stderr)
        return 2

    # every path out, a SIGTERM too, stops what the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    work = os.path.join(ROOT, "perfbench", "_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    bench = Bench(a.seed, a.seconds, bool(a.trace), work)
    pin_environment(work, bench.cores)
    cpu0 = cpu_times()
    try:
        # imported once the environment is pinned: both start Spark
        from perfbench import batch, stream

        result = {"batch_sf01": batch.run, "stream_open": stream.run}[a.workload](bench)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.stop()
        finally:
            stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
    result.lines.append(
        f"cpu steal {steal_share(cpu0, cpu_times()):.1%} of the run (time the host ran others)"
    )
    print_result(a.workload, result, bool(a.trace))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
