"""SparkSession factory tuned for the selium_spark engine.

Local testing runs on ``local[N]``; the configs below are chosen so the
same code scales to a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalesce, skew-join splitting) so shuffle partition
  counts self-correct at any scale factor.
- ``spark.sql.shuffle.partitions`` defaults to ``max(cpus, 8)``, the
  count of batch queries; on a real cluster this is overridden (or left
  to AQE's initialPartitionNum). Streaming queries do not take it: each
  starts with ``streaming.state_partitions(df)``, sized from its first
  micro-batch's input (AQE does not re-plan streaming state).
- Arrow enabled for every Python<->JVM exchange (Pandas UDFs are the
  only Python hot path we allow).
- Session timezone pinned to UTC so results are comparable with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Python workers fork from :mod:`selium_spark.worker_daemon`
  (``spark.python.daemon.module``), which stops every task from
  re-reading ``pyspark.zip``'s directory (~0.12 s of CPU per task).
  The package root leads ``spark.executorEnv.PYTHONPATH`` (merged with
  any caller value), so workers import ``selium_spark`` — the daemon
  and every UDF that imports the package — whatever the working
  directory. Sessions are ``local[N]``, so the driver's package root
  is the workers' too.
- The driver JVM's JIT compiler threads run at OS nice 19
  (:func:`driver_java_options`, in ``spark.driver.defaultJavaOptions``):
  a ``local[N]`` session runs the driver, the N task threads and the
  JIT in one JVM on the same N cores, so when the queries keep those
  cores busy the compilers yield to them. spark-submit puts the default
  options before ``spark.driver.extraJavaOptions`` and HotSpot takes a
  flag's last occurrence, so a caller overrides the rule with its own
  ``-XX:CompilerThreadPriority`` (or ``-XX:ThreadPriorityPolicy=0``) in
  ``spark.driver.extraJavaOptions``. A ``spark.driver.defaultJavaOptions``
  passed in ``extra_conf`` is appended after ours.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_java_options(caller: str = "") -> str:
    """The driver JVM's ``spark.driver.defaultJavaOptions``: HotSpot's
    JIT compiler threads at OS nice 19, then ``caller``'s own default
    options (so a flag the caller repeats wins).

    A ``local[N]`` session runs the driver, the N task threads and the
    JIT compilers in one JVM on the same cores, and HotSpot sizes its
    compiler pool as if the JVM had the host to itself (3 threads at 4
    CPUs, 15 at 32). At nice 19 a compiler thread gets about 1/70 of a
    nice-0 thread's CPU share, so while the queries keep the cores busy
    the JIT yields to them, and it compiles in the idle time between.
    ``ThreadPriorityPolicy=1`` lets the JVM set thread priorities at
    all. It then also maps Java thread priorities to nice values: when
    the process may raise priorities (root), a few JVM-internal threads
    (GC, VM thread) go to nice -4; otherwise the JVM warns that raising
    is ignored. Lowering the compilers works either way.

    Measured at 4 cores only (a 4-vCPU VM), on ``perfbench``'s
    ``stream_open`` (three live queries that keep the CPUs busy, where
    the C2 compilers used 1.14 of the JVM's 3.0 cores) and
    ``batch_sf01`` (a closed loop with idle cores); the readings are in
    CHANGES.md. The cost: ``batch_sf01`` ``setup_s`` +15 %, since its
    cold pass keeps the cores busy and the JIT then waits. Measured and
    not taken: a pool of ``max(2, cpus // 4)`` threads (``stream_open``
    ``latency_p50_s`` -9 %, ``batch_sf01`` ``latency_p50_s`` +15 %),
    nice 5 (``stream_open`` p50 -6 %), that pool at nice 19
    (``batch_sf01`` ``setup_s`` +4 to +47 %),
    ``-XX:TieredStopAtLevel=1`` (``wall_s`` +30 %: the bursts need C2
    code) and ``-XX:-TieredCompilation`` (``setup_s`` 12.8 -> 15.6 s).
    """
    return f"-XX:ThreadPriorityPolicy=1 -XX:CompilerThreadPriority=19 {caller}".strip()


def get_spark(
    app_name: str = "selium_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes (100 TB design): every setting here is either
    scale-neutral or an AQE knob that lets Spark re-plan at runtime.
    Nothing below hard-codes data sizes.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    extra_conf = dict(extra_conf or {})
    worker_path = [PACKAGE_ROOT] + [
        p
        for p in extra_conf.pop("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
        if p
    ]
    java_options = driver_java_options(extra_conf.pop("spark.driver.defaultJavaOptions", ""))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.defaultJavaOptions", java_options)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet scans: split files ~128MB like a real cluster would
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and normalize in sources.tables
        # (ns -> us truncation, matching DuckDB's timestamp semantics).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.shuffle.spill.compress", "true")
        # Generated-class cache (r12): the default 100 entries thrash
        # under this engine's operator mix — a 127-query sweep emits
        # ~2.6k codegen'd sources, so every repeated execution in a
        # long-lived session re-runs janino + JIT for classes the
        # session already built (measured: 2597 recompiles and 678.5 s
        # for a warm full-headline sweep at the default vs 43 and
        # 395.6 s at 10000 — 1.7x; cold sweeps equal within box noise).
        # Entries are compiled-class references (~10 KB bytecode each),
        # so the ceiling is ~100 MB of metaspace at full fill —
        # scale-neutral driver state, env-tunable for small drivers.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"),
        )
        # PySpark's per-call error-context capture (r13 session 2):
        # with dataFrameDebugging on (the default), EVERY decorated
        # DataFrame/Column API call pays a Python stack walk plus py4j
        # round trips (conf read + PySparkCurrentOrigin.set/clear) —
        # pure driver-side construction overhead on every query build,
        # at any scale. Off, errors lose the user-code call-site
        # decoration; results are unchanged. Env-escape for debugging
        # sessions: SPARK_GRAFT_DF_DEBUGGING=true.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        .config("spark.python.daemon.module", "selium_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(dict.fromkeys(worker_path)),
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate() silently returns the EXISTING session when one is
    # already live in this JVM, ignoring builder configs that are
    # static (codegen cache, driver memory, JVM options, master). Read
    # the static-at-startup ones back and warn on mismatch so an A/B
    # script (or a second get_spark with different env) cannot run
    # with a stale value while appearing configured (r12 ADVICE). They
    # are read from the SparkContext's conf, which holds what the JVM
    # started with: getOrCreate copies every builder option into the
    # live session's runtime conf, so spark.conf.get would echo the
    # request back, or raise SQL_CONF_NOT_FOUND before that copy.
    requested = {
        "spark.sql.codegen.cache.maxEntries": os.environ.get(
            "SPARK_GRAFT_CODEGEN_CACHE", "10000"
        ),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.driver.defaultJavaOptions": java_options,
        **{
            k: v
            for k, v in extra_conf.items()
            if k.startswith(("spark.driver.", "spark.sql.codegen.cache."))
        },
    }
    started = spark.sparkContext.getConf()
    for key, want in requested.items():
        got = started.get(key)  # None: the JVM started without it
        if got != want:
            import warnings

            warnings.warn(
                f"get_spark: {key}={got!r} in the live session; the "
                f"requested {want!r} was ignored because a SparkSession "
                "already exists in this process (static conf). Stop the "
                "session (or a fresh process) to apply it.",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
