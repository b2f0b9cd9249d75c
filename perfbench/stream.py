"""Open-loop workload ``stream_open``: three named streaming queries on
one event stream, fed by a separate generator process.

The queries run concurrently on ``StreamCatalog.read_stream`` with
default triggers, each with its own checkpoint:

- ``alerts``: ``windows.window_threshold_alerts`` (the log-analyser
  flagship) with a 10-minute watermark, JVM state, update mode;
- ``scd2``: ``stateful.streaming_scd2(state_buckets=256)``, an
  ``applyInPandasWithState`` fold;
- ``rollup``: ``Engine.streaming_rollup``, parquet appends through
  foreachBatch with an epoch ledger.

Set-up is the session start, building and starting the queries, and a
few warm-up files that every query must commit. Then ``loadgen.py``
lands one file every ``INTERVAL_S`` for ``--seconds``. Once every query
has caught up and gone idle, a backlog burst of ``BURST_FILES`` files'
worth of events lands at once, as one file; this repeats ``BURSTS``
times.

A file's latency for one query is the commit time of the first
micro-batch that read it minus the time the file was due. The query's
checkpoint source log gives the log batch that listed the file, and
progress events give each micro-batch's end offset in that log and its
commit time; the first micro-batch whose end offset reaches the file's
log batch read it. (Log batch ids are not micro-batch ids: a query with
a watermark also runs micro-batches that read no new files.)

``wall_s`` is the mean over the bursts of a burst's drain time: from
its landing to the last commit, over the three queries, that covers it.

Afterwards every query must still be active with no exception, must
have committed every file, and its output must equal DuckDB's answer
over all landed files.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

from perfbench import loadgen
from perfbench.loadgen import EVENTS_PER_FILE, INTERVAL_S
from perfbench.core import Bench, Metric, Result, cpu_times, quantile, split_layers, steal_share
from perfbench.oracle import Oracle, diff, spark_rows
from perfbench.trace import ProgressLog, Snapshot, progress_end_ms, streaming_metrics

NAMES = ("alerts", "scd2", "rollup")
URI = "sel://perfbench/events"
SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
WARM_FILES = 4
# A burst is one file holding BURST_FILES files' worth of events: twelve
# files renamed in one by one could be split across two micro-batches by
# a listing that runs between the renames, doubling that drain time.
BURST_FILES = 12
# each burst drains in one trigger per query; two bursts, because each
# costs about 10 s of run time (its drain, then the no-data batch the
# watermark triggers in ``alerts``)
BURSTS = 2
DRAIN_TIMEOUT_S = 60.0
# an alert fires in an hour window with more errors or signups than
# this: each type is a fifth of the ~12 files x EVENTS_PER_FILE events
ALERT_OVER = 12 * EVENTS_PER_FILE // 5
# a generator that lands a file this late has not run open-loop
MAX_GEN_LATE_S = 2.0

SQL_ALERTS = f"""
SELECT date_trunc('hour', ts) AS window_start,
  count(*) FILTER (WHERE event_type = 'error') AS errors,
  count(*) FILTER (WHERE event_type = 'signup') AS signups
FROM events GROUP BY 1
HAVING errors > {ALERT_OVER} OR signups > {ALERT_OVER}
"""
SQL_ROLLUP = """
SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY ALL
"""


def run(bench: Bench) -> Result:
    from pyspark.sql import functions as F

    from selium_spark.catalog import StreamCatalog
    from selium_spark.engine import Engine
    from selium_spark.operators import stateful, windows

    res = Result()
    work = bench.path("stream")
    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    os.makedirs(os.path.join(work, "stage"), exist_ok=True)
    os.makedirs(src, exist_ok=True)

    # warm-up files land before the queries start: their first batch
    # reads them, and set-up ends when every query has committed it
    t0 = time.perf_counter()
    rng = np.random.default_rng([bench.seed, 1])
    _land_now(work, rng, [(seq, 1) for seq in range(WARM_FILES)], "warm")
    gen_s = time.perf_counter() - t0

    start_s = bench.start_session()
    spark = bench.spark
    progress = ProgressLog()
    spark.streams.addListener(progress)

    t_setup = time.perf_counter()
    catalog = StreamCatalog(spark)
    catalog.insert(URI, src, schema=SCHEMA)
    engine = Engine(spark, catalog)
    t0 = time.perf_counter()
    ev = catalog.read_stream(URI)
    read_stream_s = time.perf_counter() - t0
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    alerts = windows.window_threshold_alerts(
        ev,
        "ts",
        "1 hour",
        conds={
            "errors": F.col("event_type") == "error",
            "signups": F.col("event_type") == "signup",
        },
        alert_when=(F.col("errors") > ALERT_OVER) | (F.col("signups") > ALERT_OVER),
        watermark="10 minutes",
    ).select(F.col("window.start").alias("window_start"), "errors", "signups")
    scd2 = stateful.streaming_scd2(
        ev, "user_id", "event_type", "ts", "event_id",
        late_counter=engine.late_counter("scd2"), state_buckets=256,
    )
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    handles = {
        "alerts": engine.start(
            "alerts", alerts, checkpoint=f"{ckpt}/alerts", output_mode="update"
        ),
        "scd2": engine.start("scd2", scd2, checkpoint=f"{ckpt}/scd2", output_mode="update"),
        "rollup": engine.streaming_rollup(
            "rollup", ev, f"{work}/partials", checkpoint=f"{ckpt}/rollup",
            ledger_dir=f"{work}/ledger",
        ),
    }
    engine_start_s = time.perf_counter() - t0

    warm_ok = _wait_covered(ckpt, progress, _manifest(work), DRAIN_TIMEOUT_S, handles)
    setup_s = start_s + time.perf_counter() - t_setup

    # measured: the open-loop generator in its own process
    cpu0 = cpu_times()
    n_files = max(1, round(bench.seconds / INTERVAL_S))
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
            "--dir", work, "--seed", str(bench.seed), "--first-seq", str(WARM_FILES),
            "--files", str(n_files),
        ]
    )
    try:
        gen_rc = gen.wait(timeout=bench.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    covered = warm_ok and _wait_covered(ckpt, progress, _manifest(work), DRAIN_TIMEOUT_S, handles)
    for b in range(BURSTS):
        # a burst lands on idle queries, so its drain does not depend on
        # where a running trigger happened to be
        covered = covered and _wait_idle(handles, DRAIN_TIMEOUT_S)
        first = WARM_FILES + n_files + b * BURST_FILES
        _land_now(work, rng, [(first, BURST_FILES)], f"burst{b}")
        covered = covered and _wait_covered(
            ckpt, progress, _manifest(work), DRAIN_TIMEOUT_S, handles
        )
    files = _manifest(work)
    steal = steal_share(cpu0, cpu_times())

    # liveness, before stopping: a dead or failed query is a failure
    dead = {}
    for name, h in handles.items():
        exc = h.query.exception()
        if exc is not None or not h.query.isActive:
            dead[name] = f"{name}: query not active at the end ({exc})"
    late_rows = engine.late_rows_dropped("scd2")
    outputs = {
        "alerts": spark_rows(
            spark.table("alerts").groupBy("window_start")
            .agg(F.max("errors").alias("errors"), F.max("signups").alias("signups"))
        ),
        "scd2": spark_rows(_collapse_scd2(spark.table("scd2"))),
    }
    engine.close()
    outputs["rollup"] = spark_rows(Engine.rollup_read(spark, f"{work}/partials", "hour"))

    events = progress.events()
    lat, uncovered = [], {n: 0 for n in NAMES}
    first_commit: dict[tuple[str, str], float] = {}
    for n in NAMES:
        committed = _committed_ms(f"{ckpt}/{n}", events, n)
        for f in files:
            t = committed.get(f["file"])
            if t is None:
                uncovered[n] += 1
                continue
            first_commit[n, f["file"]] = t
            if f["phase"] == "rate":
                lat.append(t / 1e3 - f["due"])

    # correctness
    res.attempted = len(files) * len(NAMES)
    oracle = Oracle({"events": f"{src}/*.parquet"})
    try:
        from selium_spark.suite import ORACLES

        want = {
            "alerts": oracle.rows(SQL_ALERTS),
            "scd2": oracle.rows(ORACLES["stream_scd2_history"]),
            "rollup": oracle.rows(SQL_ROLLUP),
        }
    finally:
        oracle.close()
    for n in NAMES:
        why = dead.get(n) or diff(outputs[n], want[n])
        if why:
            res.fail(len(files), f"{n}: {why}")
        elif uncovered[n]:
            res.fail(uncovered[n], f"{n}: {uncovered[n]} files never committed")
    if gen_rc != 0:
        res.fail(1, f"generator exited with {gen_rc}")
    if late_rows:
        res.fail(late_rows, f"scd2 dropped {late_rows} rows as late")
    gen_late = max(f["late_s"] for f in files if f["phase"] == "rate")
    if gen_late > MAX_GEN_LATE_S:
        res.fail(1, f"generator landed a file {gen_late:.2f} s late")
    if not covered:
        res.fail(len(NAMES), f"catching up took more than {DRAIN_TIMEOUT_S:.0f} s")
    res.check_steal(steal)

    rate_files = [f for f in files if f["phase"] == "rate"]

    def last_commit(group):
        return max(first_commit.get((n, f["file"]), float("nan")) for f in group for n in NAMES)

    rate_s = last_commit(rate_files) / 1e3 - rate_files[0]["due"]
    drains = []
    for b in range(BURSTS):
        burst = [f for f in files if f["phase"] == f"burst{b}"]
        drains.append(last_commit(burst) / 1e3 - burst[0]["due"])
    drain_s = statistics.fmean(drains)
    drain_end = max(first_commit.values(), default=time.time() * 1e3)
    lat.sort()
    burst_events = BURST_FILES * EVENTS_PER_FILE
    res.end_to_end = {
        "setup_s": Metric(setup_s, "s"),
        "wall_s": Metric(drain_s, "s", BURSTS),
        "latency_p50_s": Metric(quantile(lat, 0.5), "s", len(lat)),
        "latency_p90_s": Metric(quantile(lat, 0.9), "s", len(lat)),
    }
    lines = [
        f"offered {EVENTS_PER_FILE / INTERVAL_S:.0f} events/s: {len(rate_files)} files x "
        f"{EVENTS_PER_FILE} events every {INTERVAL_S} s, committed {rate_s:.3f} s after the "
        f"first was due; then {BURSTS} bursts of {BURST_FILES * EVENTS_PER_FILE} events",
        f"drain_eps {burst_events / drain_s:.0f} events/s ({burst_events} events in a mean "
        f"{drain_s:.3f} s; drains {', '.join(f'{d:.3f}' for d in drains)} s)",
        f"latency p99 {quantile(lat, 0.99):.3f} s over {len(lat)} file x query samples",
        f"generator late by at most {gen_late * 1e3:.1f} ms; cpu steal {steal:.1%} while measured",
        f"session start {start_s:.2f} s, build {build_s:.3f} s, engine start "
        f"{engine_start_s:.3f} s, read_stream {read_stream_s:.4f} s",
    ]
    res.lines = lines
    if bench.trace:
        window = (rate_files[0]["due"] * 1e3, drain_end)
        _layers(
            bench, window, events, files, first_commit, start_s, setup_s - start_s, build_s,
            gen_s, drain_s, res,
        )
        res.lines += [
            f"engine.start_s {engine_start_s:.3f}  catalog.read_stream_s {read_stream_s:.4f}  "
            f"engine.late_rows {late_rows}  gen.events {sum(f['n'] for f in files)}  "
            f"gen.files {len(files)}  gen.late_ms_max {gen_late * 1e3:.1f}"
        ]
    return res


def _land_now(work: str, rng, files: list[tuple[int, int]], phase: str) -> None:
    """Stage ``files``, each given as (first slot, slots), then land them
    all at one due time."""
    staged = [(seq, slots, loadgen.stage(work, rng, seq, slots)) for seq, slots in files]
    due = time.time()
    with open(os.path.join(work, "manifest.jsonl"), "a") as manifest:
        for seq, slots, path in staged:
            loadgen.land(work, path, seq, phase, slots * EVENTS_PER_FILE, due, manifest)


def _wait_idle(handles, timeout_s) -> bool:
    """Wait until no query has a trigger running (twice in a row, so a
    no-data batch that follows a commit is not missed)."""
    deadline = time.monotonic() + timeout_s
    quiet = 0
    while time.monotonic() < deadline:
        busy = any(h.query.status["isTriggerActive"] for h in handles.values())
        quiet = 0 if busy else quiet + 1
        if quiet == 2:
            return True
        time.sleep(0.05)
    return False


def _manifest(work: str) -> list[dict]:
    with open(os.path.join(work, "manifest.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _file_log_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the file source's log batch that listed it,
    from the source's metadata log (delta and compacted entries alike)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                out[name] = min(out.get(name, entry["batchId"]), entry["batchId"])
    return out


def _committed_ms(ckpt: str, events: list[dict], name: str) -> dict[str, float]:
    """File name -> commit time (epoch ms) of the first micro-batch of
    query ``name`` that read it, for the files committed so far."""
    done = sorted(
        (e["batch"], e["offset"], progress_end_ms(e))
        for e in events
        if e["name"] == name and e["offset"] is not None
    )
    out = {}
    for f, k in _file_log_batches(ckpt).items():
        t = next((end for _, reached, end in done if reached >= k), None)
        if t is not None:
            out[f] = t
    return out


def _wait_covered(ckpt, progress, files, timeout_s, handles) -> bool:
    """Wait until every query has committed a batch covering every file
    in ``files``; False on timeout or when a query stops."""
    deadline = time.monotonic() + timeout_s
    names = [f["file"] for f in files]
    while time.monotonic() < deadline:
        if any(not h.query.isActive for h in handles.values()):
            return False
        events = progress.events()
        if all(
            set(names) <= _committed_ms(f"{ckpt}/{n}", events, n).keys() for n in NAMES
        ):
            return True
        time.sleep(0.05)
    return False


def _collapse_scd2(snap):
    """The memory sink holds every closed interval once plus stale
    open-interval re-emissions; a closed emission wins (the same
    collapse the suite's streaming SCD2 query applies)."""
    from pyspark.sql import functions as F

    sentinel = F.lit("9999-12-31 00:00:00").cast(dict(snap.dtypes)["valid_to"])
    return (
        snap.groupBy("key", "state", "valid_from")
        .agg(F.min(F.coalesce(F.col("valid_to"), sentinel)).alias("valid_to"))
        .select(F.col("key").alias("user_id"), "state", "valid_from", "valid_to")
    )


def _layers(
    bench, window, events, files, first_commit, start_s, warmup_s, build_s, gen_s, wall_s, res
):
    """Per-layer figures over the measured window, plus one line of
    trigger and state figures per query."""
    snap = Snapshot(bench.spark)
    lo, hi = window
    layers = snap.layer_metrics([window], bench.cores)
    measured = [e for e in events if lo <= progress_end_ms(e) <= hi]
    layers.update(streaming_metrics(measured, 1))
    layers.update(
        {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.peak_rss_mb": bench.peak_rss_mb(),
            "driver.build_s": build_s,
            "gen.input_s": gen_s,
            "trace.wall_s": wall_s,
        }
    )
    for n in NAMES:
        q_events = [e for e in measured if e["name"] == n]
        m = streaming_metrics(q_events, 1)
        # backlog: files landed but not yet committed, at each landing
        lags = []
        for f in files:
            t = f["due"] * 1e3
            lags.append(sum(1 for g in files if g["due"] * 1e3 <= t
                            and first_commit.get((n, g["file"]), float("inf")) > t))
        states = [s for e in q_events for s in e["state"]]
        removed = sum(s["removed"] for s in states)
        m["streaming.lag_files_max"] = max(lags, default=0)
        m["state.removed_frac"] = removed / max(sum(s["rows"] for s in states) + removed, 1)
        res.lines.append(
            "  ".join(f"{k.split('.')[0]}.{n}.{k.split('.', 1)[1]} {v:.4g}" for k, v in m.items())
        )
    split_layers(layers, res)
