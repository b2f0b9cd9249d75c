"""Open-loop event generator for the ``stream_open`` workload.

Runs as its own single-threaded process, separate from the Spark driver
it feeds. File ``k`` of the fixed-rate phase is due at
``t0 + k * INTERVAL_S`` whatever the consumers are doing: each file is
written into a staging directory ahead of time and renamed into the
source directory when due, so the file source never lists a partly
written file and a slow consumer never slows the schedule.

Each landed file is recorded as one JSON line in ``manifest.jsonl``:
name, phase, event count, the time it was due (its creation stamp) and
how late the rename ran.

The offered load is fixed: ``EVENTS_PER_FILE`` events every
``INTERVAL_S`` seconds.

    python3 perfbench/loadgen.py --dir WORK --seed 1 --first-seq 4 --files 48
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402

# Offered load: EVENTS_PER_FILE / INTERVAL_S = 500 events per second,
# about a third of the rate at which the seed commit drained a
# 12,000-event backlog (~1400 events/s; a small burst drains slower, as
# one trigger's fixed cost dominates it). Fixed once; re-tuning it would
# break comparisons across commits.
INTERVAL_S = 0.25
EVENTS_PER_FILE = 125
# event time advances by SPAN_US per file: 5 minutes, so a 1-hour
# alert window closes every 12 files
SPAN_US = 5 * 60 * 1_000_000
T_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01
N_USERS = 2_000
ZIPF_A = 1.3
LATE_SHARE = 0.05


def file_name(seq: int) -> str:
    return f"ev-{seq:06d}.parquet"


def stage(work: str, rng: np.random.Generator, seq: int, slots: int = 1) -> str:
    """Write the events of ``slots`` consecutive file slots, from slot
    ``seq`` on, as one file in the staging directory; return its path."""
    table = gen.event_batch(
        rng,
        first_id=seq * EVENTS_PER_FILE,
        n=slots * EVENTS_PER_FILE,
        t0_us=T_START_US + seq * SPAN_US,
        span_us=slots * SPAN_US,
        n_users=N_USERS,
        zipf_a=ZIPF_A,
        late_share=LATE_SHARE,
    )
    path = os.path.join(work, "stage", file_name(seq))
    gen.write_events(path, table)
    return path


def land(work: str, staged: str, seq: int, phase: str, n: int, due: float, manifest) -> None:
    os.rename(staged, os.path.join(work, "src", file_name(seq)))
    landed = time.time()
    manifest.write(
        json.dumps(
            {"file": file_name(seq), "seq": seq, "phase": phase, "n": n, "due": due,
             "late_s": landed - due}
        )
        + "\n"
    )
    manifest.flush()


def sleep_until(t: float) -> None:
    while True:
        left = t - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-seq", type=int, default=0)
    ap.add_argument("--files", type=int, required=True)
    a = ap.parse_args(argv)

    rng = np.random.default_rng(a.seed)
    t0 = time.time() + INTERVAL_S  # file 0 is due one interval after start-up
    os.makedirs(os.path.join(a.dir, "stage"), exist_ok=True)
    os.makedirs(os.path.join(a.dir, "src"), exist_ok=True)
    with open(os.path.join(a.dir, "manifest.jsonl"), "a") as manifest:
        for k in range(a.files):
            seq = a.first_seq + k
            staged = stage(a.dir, rng, seq)
            due = t0 + k * INTERVAL_S
            sleep_until(due)
            land(a.dir, staged, seq, "rate", EVENTS_PER_FILE, due, manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
