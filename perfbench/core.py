"""Shared pieces of the benchmark: the run context, result records and
the pinned session inputs."""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The driver JVM and its Python workers share the machine with other
# jobs; 4g covers the largest workload here with room to spare.
DRIVER_MEM = "4g"
# How long the driver JVM and the other child processes get to exit on
# their own before they are killed
EXIT_GRACE_S = 30
# prctl option that makes orphaned descendants children of the caller
PR_SET_CHILD_SUBREAPER = 36
# CPU steal above this share of the measured region means the host gave
# a large part of its time to other guests: the run's times are slow
# for a reason outside the program, and the run is flagged
STEAL_WARN = 0.05


# The per-layer metrics a traced run reports, in BENCHMARK.json order.
# Every workload has each of them; the rest of what the stores give
# goes to the human-readable lines.
PER_LAYER = (
    "session.start_s session.warmup_s session.peak_rss_mb driver.build_s "
    "spark.sql.plan_s spark.sql.executions "
    "spark.sched.jobs spark.sched.stages spark.sched.tasks spark.sched.deser_s "
    "spark.sched.task_skew "
    "spark.exec.run_s spark.exec.cpu_s spark.exec.gc_s spark.exec.busy_frac "
    "spark.shuffle.write_mb spark.shuffle.read_mb sources.scan_mb sources.scan_rows "
    "spark.python.run_s spark.python.init_s spark.python.recv_mb "
    "streaming.triggers streaming.trigger_p50_ms streaming.trigger_p95_ms "
    "streaming.add_batch_ms streaming.plan_ms streaming.wal_ms streaming.offsets_ms "
    "streaming.rows_per_trigger state.rows state.commit_ms gen.input_s trace.wall_s"
).split()


@dataclass
class Metric:
    value: float
    unit: str
    samples: int = 1


@dataclass
class Result:
    end_to_end: dict[str, Metric] = field(default_factory=dict)
    per_layer: dict[str, Metric] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)  # the times are suspect
    lines: list[str] = field(default_factory=list)  # human-readable detail

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)

    def check_steal(self, share: float) -> None:
        """Flag a measured region during which the host ran others."""
        if share > STEAL_WARN:
            self.warnings.append(
                f"cpu steal {share:.1%} while measured, above {STEAL_WARN:.0%}: "
                "the host was slow, so these times are not comparable; rerun"
            )


class Bench:
    """What a workload gets: its seed, run length, trace flag, a private
    work directory inside the checkout and the pinned session."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """Start the session every workload runs on; returns its
        wall time in seconds."""
        from selium_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        import resource

        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        proc = self.spark.sparkContext._gateway.proc if self.spark else None
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss += int(line.split()[1]) / 1024
        return rss

    def stop(self) -> None:
        """Stop the session and wait until its driver JVM has exited.

        PySpark leaves the JVM running after ``stop()`` and ends it only
        when this process exits (the JVM quits when its stdin closes), so
        without this the JVM would outlive the run."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=EXIT_GRACE_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (a
    Python worker whose JVM has gone), so :func:`stop_descendants` can
    find and wait for them. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of every live process below this one, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    found, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _reap() -> None:
    """Collect every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """End every process this run started, directly or not, and wait
    until each has gone: SIGTERM, then SIGKILL after the grace time."""
    if not os.path.isdir("/proc"):
        return
    deadline = None
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        if deadline is None:
            deadline = time.monotonic() + EXIT_GRACE_S
            sig = signal.SIGTERM
        else:
            sig = signal.SIGKILL if time.monotonic() > deadline else None
        for pid in pids if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def pin_environment(work: str, cores: int) -> None:
    """Session inputs both sides of a comparison must share. Everything
    a run writes stays under ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # Spark's Python workers import the package by name, whatever the
    # working directory
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def quantile(sorted_values: list[float], q: float) -> float:
    """Linear-interpolated quantile of an ascending list (the same
    rule as numpy's default)."""
    if not sorted_values:
        return 0.0
    pos = q * (len(sorted_values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(sorted_values) - 1)
    return sorted_values[lo] + (sorted_values[hi] - sorted_values[lo]) * (pos - lo)


def split_layers(layers: dict[str, float], res: Result) -> None:
    """Put the :data:`PER_LAYER` figures in ``res.per_layer`` and the
    others in the human-readable lines."""
    res.per_layer = {k: Metric(layers[k], unit_of(k)) for k in PER_LAYER}
    res.lines += [
        f"{k:<32} {v:.6g} {unit_of(k)}" for k, v in sorted(layers.items()) if k not in PER_LAYER
    ]


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if last.endswith(suffix):
            return unit
    if last.endswith(("_frac", "_share", "_skew")):
        return "ratio"
    return "count"


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_times` readings that the
    hypervisor gave to other guests; a run with a large share ran on a
    slower machine than it looks."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
