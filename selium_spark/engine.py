"""Query lifecycle + delivery-mode semantics (SURVEY §1.1, §2.5, §7.1).

Maps selium's control plane onto Spark:

- ``Engine.start/stop`` == ProcessBuilder::start / ProcessHandle::stop
  (system/userland/src/process.rs:46-150,
  examples/orchestrator/src/lib.rs:179-183). A named query is the unit
  of deployment; capability checks become catalog ACLs on stream URIs.
- Park vs Drop (subsystem/messaging/src/lib.rs:36-41): ``park`` runs
  checkpointed (lossless, at-least-once -> exactly-once per sink);
  ``drop`` runs without a checkpoint from latest offsets and the
  listener *reports* loss instead of silently dropping (SURVEY §7.4.3,
  mirroring ChannelError::ReaderBehind, messaging/src/lib.rs:107-109).
- ``drain`` vs ``terminate`` (messaging/src/lib.rs:559-595): drain
  processes all available input then stops; terminate stops now.
"""

from __future__ import annotations

import time
import weakref
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from .catalog import StreamCatalog
from .streaming.partitions import query_partitions, state_partitions


from .fsutil import fs_exists, fs_mkdirs, fs_touch  # noqa: E402  (re-export:
# the ledger and epoch-write below are the primary consumers)


def dedup_index_epoch_write(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    survivors_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One epoch of continuous-ingest dedup, idempotent by
    construction: both outputs are partitioned by ``epoch`` and written
    with *dynamic partition overwrite*, so a crashed epoch replays by
    REWRITING its own partitions instead of appending beside them.

    The index read excludes the current epoch's rows before the
    anti-join: a crash after the index append but before the ledger
    marker must not let the epoch's own partial writes shadow the
    batch, or the replay would compute an empty survivor set and leave
    the half-written partitions in place. With the exclusion the
    replayed computation is bit-identical to the first attempt
    (epoch ids are monotonic per checkpoint; the batch content is
    pinned by the source offsets).
    """
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import AnalysisException

    from .operators.dedup import dedup_against_index

    try:
        index = spark.read.parquet(index_path).where(F.col("epoch") != int(epoch_id))
    except AnalysisException:
        # first epoch, or a crashed attempt left only an empty dir
        index = spark.createDataFrame([], "content_hash string")
    survivors = dedup_against_index(
        batch_df, index.select("content_hash"), text_col=text_col, id_col=id_col
    )
    # one delta-sized materialization reused for both writes
    survivors = survivors.withColumn("epoch", F.lit(int(epoch_id))).persist()
    try:
        (
            survivors.drop("content_hash")
            .write.mode("overwrite")
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(survivors_path)
        )
        (
            survivors.select("content_hash", id_col, "epoch")
            .write.mode("overwrite")
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(index_path)
        )
    finally:
        survivors.unpersist()


def foreach_concurrent(df: DataFrame, fn, max_concurrency: int = 50) -> None:
    """T9: consume records with bounded per-task concurrency — the
    reference's ``for_each_concurrent(CONCURRENT_REQUESTS, ...)``
    (examples/load-balancer/src/lib.rs:52-61, 50 in-flight HTTP
    connections per handler).

    Spark already parallelizes the consumer ACROSS tasks (one per
    partition); what the reference adds is WITHIN-consumer overlap for
    IO-bound effects (webhook posts, HTTP replies) where a record's
    latency is wait, not CPU. Each partition drains through a bounded
    thread pool with at most ``max_concurrency`` records in flight, so
    a slow callee stalls one slot, not the whole partition — and total
    in-flight across the job is ``n_tasks * max_concurrency``, exactly
    the reference's N-per-handler shape.

    Backpressure is real: submission blocks when the pool is full
    (futures are awaited before the iterator advances), so an
    unbounded source can't buffer the whole partition as queued work.
    Worker errors propagate and fail the task (Spark then retries it),
    matching for_each_concurrent's panic-on-error surface. Ordering
    within a partition is NOT guaranteed beyond slot granularity —
    same as the reference's concurrent combinator.

    This is an ACTION (it runs the plan). For streams, use
    :meth:`Engine.foreach_concurrent_sink`.
    """
    if max_concurrency < 1:
        raise ValueError(f"max_concurrency must be >= 1, got {max_concurrency}")

    def _drain(rows) -> None:
        import concurrent.futures as cf

        with cf.ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            pending: set = set()
            for row in rows:
                if len(pending) >= max_concurrency:
                    done, pending = cf.wait(
                        pending, return_when=cf.FIRST_COMPLETED
                    )
                    for d in done:
                        d.result()  # surface worker errors -> task failure
                pending.add(pool.submit(fn, row))
            for f in cf.as_completed(pending):
                f.result()

    df.foreachPartition(_drain)


class LossMetricsListener(StreamingQueryListener):
    """Accounts rows behind / dropped for weak (Drop-mode) readers.

    The reference surfaces loss as ``ReaderBehind(n_bytes)``
    (subsystem/messaging/src/reader.rs:342-349); we surface per-query
    input-row counts and backlog so loss is observable, never silent.
    """

    def __init__(self) -> None:
        self.rows_by_query: dict[str, int] = {}
        self.last_progress: dict[str, dict] = {}
        self.state_by_query: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        from .streaming.state import state_metrics

        p = event.progress
        name = p.name or p.id
        self.rows_by_query[name] = self.rows_by_query.get(name, 0) + int(
            p.numInputRows or 0
        )
        self.last_progress[name] = {
            "numInputRows": p.numInputRows,
            "batchId": p.batchId,
        }
        # state-store observability: unbounded state (missing watermark)
        # shows up here as monotonically growing rows_total, long before
        # it is an executor OOM at scale
        try:
            metrics = state_metrics(p)
        except Exception:
            metrics = []
        if metrics:
            self.state_by_query[name] = metrics

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


@dataclass
class QueryHandle:
    """ProcessHandle analogue."""

    name: str
    query: StreamingQuery
    mode: str

    def stop(self) -> None:
        """P2 terminate: abort now."""
        self.query.stop()

    def drain(self, timeout_s: float = 120.0) -> None:
        """S6 drain: finish in-flight input, then stop. A failed query
        never looks drained: its ``StreamingQueryException`` is
        re-raised at once, and any other error that outlasts
        ``timeout_s`` of retries is re-raised too."""
        from pyspark.errors import StreamingQueryException

        deadline = time.monotonic() + timeout_s
        try:
            while True:
                try:
                    self.query.processAllAvailable()
                    return
                except StreamingQueryException:
                    raise
                except Exception:
                    if time.monotonic() >= deadline:
                        raise
                    time.sleep(0.2)
        finally:
            self.query.stop()


# (engine weakref, session weakref, listener) for every live Engine's
# loss listener. Listeners registered on spark.streams are held by the
# JVM forever; without a sweep, every Engine constructed on a long-lived
# session leaks one Python callback that receives EVERY future progress
# event — per-event Py4J fan-out grows without bound (observed: a
# 200-test session starving a fresh query's events past a 60 s
# deadline). The sweep runs at Engine construction: listeners whose
# Engine has been garbage-collected are deregistered from their session.
_LISTENER_REGISTRY: list[tuple[weakref.ref, weakref.ref, LossMetricsListener]] = []


def _sweep_stale_listeners() -> None:
    kept = []
    for eng_ref, sess_ref, listener in _LISTENER_REGISTRY:
        if eng_ref() is not None:
            kept.append((eng_ref, sess_ref, listener))
            continue
        sess = sess_ref()
        if sess is not None:
            try:
                sess.streams.removeListener(listener)
            except Exception:
                pass  # session already stopped
    _LISTENER_REGISTRY[:] = kept


class Engine:
    """Named-query runtime over a StreamCatalog.

    Deterministic teardown: call :meth:`close` (or use the Engine as a
    context manager) to stop queries and deregister the loss listener.
    Engines that are simply dropped are swept at the next Engine
    construction (see ``_sweep_stale_listeners``).
    """

    def __init__(self, spark: SparkSession, catalog: StreamCatalog | None = None):
        _sweep_stale_listeners()
        self.spark = spark
        self.catalog = catalog or StreamCatalog(spark)
        self.queries: dict[str, QueryHandle] = {}
        self.loss_listener = LossMetricsListener()
        self.late_counters: dict[str, object] = {}
        self._singletons: dict[str, object] = {}
        spark.streams.addListener(self.loss_listener)
        _LISTENER_REGISTRY.append(
            (weakref.ref(self), weakref.ref(spark), self.loss_listener)
        )

    def close(self) -> None:
        """Stop all queries and deregister the loss listener (P2 for
        the engine itself). Idempotent."""
        self.stop_all()
        for i, (eng_ref, _sess_ref, listener) in enumerate(_LISTENER_REGISTRY):
            if eng_ref() is self and listener is self.loss_listener:
                del _LISTENER_REGISTRY[i]
                break
        try:
            self.spark.streams.removeListener(self.loss_listener)
        except Exception:
            pass

    def __enter__(self) -> "Engine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- loss accounting (S3 Drop-mode, extended to event-time late) ------
    def late_counter(self, name: str):
        """Dropped-late-rows accumulator for the streaming time-series
        twins (stateful.streaming_gapfill_locf / streaming_scd2 /
        streaming_funnel): pass the returned accumulator as their
        ``late_counter`` and read ``.value`` (or
        :meth:`late_rows_dropped`) after the replay. Extends the weak-
        subscribe loss accounting (``ReaderBehind``, reference
        subsystem/messaging/src/lib.rs:107-109) from reader-lap loss to
        event-time lateness: loss is observable, never silent. Task
        retries can over-count (accumulator-at-least-once) — the same
        contract as Spark's own numInputRows."""
        if name not in self.late_counters:
            self.late_counters[name] = self.spark.sparkContext.accumulator(0)
        return self.late_counters[name]

    def late_rows_dropped(self, name: str) -> int:
        acc = self.late_counters.get(name)
        return int(acc.value) if acc is not None else 0

    # -- singletons (P3) --------------------------------------------------
    def register_singleton(self, name: str, value) -> None:
        """P3: publish a well-known shared resource (reference:
        hostcalls.rs:200-211; guest lookup context.rs:44-72). DataFrames
        are additionally exposed as global temp views so SQL sees them."""
        self._singletons[name] = value
        if isinstance(value, DataFrame) and not value.isStreaming:
            value.createOrReplaceGlobalTempView(name)

    def singleton(self, name: str):
        return self._singletons[name]

    # -- guest log stream (S11/S12) ---------------------------------------
    def log_stream(self) -> DataFrame:
        """S11: every query's progress/telemetry as a Drop-mode stream
        (the guests' tracing channel, system/userland/src/logging.rs:
        278-313 — 512 KiB Drop ring there; bounded in-memory rows here).
        Returns a batch DataFrame of LogRecord-shaped rows accumulated
        by the listener; lossy by contract (Drop mode)."""
        from pyspark.sql import functions as F

        rows = [
            (name, int(p.get("batchId", -1)), int(p.get("numInputRows") or 0))
            for name, p in self.loss_listener.last_progress.items()
        ]
        return self.spark.createDataFrame(
            rows, "query STRING, batch_id LONG, num_input_rows LONG"
        ).withColumn("ts", F.current_timestamp())

    def console_sink(self, df: DataFrame, name: str = "console"):
        """S12: host tails a stream and renders it (forward_log_stream,
        system/runtime/src/modules.rs:747-767)."""
        return self._start(
            df, df.writeStream.queryName(name).format("console").outputMode("append")
        )

    def start(
        self,
        name: str,
        df: DataFrame,
        sink_uri: str | None = None,
        checkpoint: str | None = None,
        mode: str = "park",
        output_mode: str = "append",
        trigger_available_now: bool = False,
        fmt: str | None = None,
    ) -> QueryHandle:
        """P1 start a named streaming query.

        park -> requires checkpoint (lossless); drop -> no checkpoint,
        loss reported via the listener. ``sink_uri=None`` writes to a
        memory sink named ``name`` (test harness / tap).
        """
        writer = df.writeStream.queryName(name).outputMode(output_mode)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        if mode == "park":
            if not checkpoint:
                raise ValueError("park-mode query needs a checkpoint dir")
            writer = writer.option("checkpointLocation", checkpoint)
        if sink_uri is None:
            q = self._start(df, writer.format("memory"))
        else:
            entry = self.catalog.get(sink_uri)
            q = self._start(df, writer.format(fmt or entry.fmt), entry.path)
        handle = QueryHandle(name=name, query=q, mode=mode)
        self.queries[name] = handle
        return handle

    def _start(self, df: DataFrame, writer, path: str | None = None) -> StreamingQuery:
        """Start ``writer`` (over ``df``): every live query starts here,
        with ``state_partitions(df)`` shuffle partitions. The count holds
        for the checkpoint's life (a restart reads it back from the
        offset log); the session keeps its own for batch queries."""
        with query_partitions(self.spark, state_partitions(df)):
            return writer.start(path) if path else writer.start()

    def _start_foreach_batch(
        self,
        name: str,
        df: DataFrame,
        process: Callable[[DataFrame, int], None],
        checkpoint: str,
    ) -> QueryHandle:
        writer = (
            df.writeStream.queryName(name)
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint)
        )
        handle = QueryHandle(name=name, query=self._start(df, writer), mode="park")
        self.queries[name] = handle
        return handle

    def stop(self, name: str) -> None:
        self.queries.pop(name).stop()

    def stop_all(self) -> None:
        for name in list(self.queries):
            self.stop(name)

    def idempotent_foreach_batch(
        self,
        name: str,
        df: DataFrame,
        write_fn: Callable[[DataFrame, int], None],
        checkpoint: str,
        ledger_dir: str,
    ) -> QueryHandle:
        """Exactly-once custom sink: ``write_fn(batch_df, epoch_id)``
        runs at most once per epoch, enforced by an epoch ledger. After
        a crash between sink-write and checkpoint-commit, the replayed
        epoch is skipped instead of double-written — the standard
        idempotent-foreachBatch pattern for sinks without transactional
        semantics. The ledger marker only closes the *at-most-once*
        side; a ``write_fn`` that is not itself idempotent still has an
        at-least-once window between its first byte and the marker
        write (see ``dedup_index_epoch_write`` for the idempotent
        shape). Ledger I/O goes through the Hadoop FileSystem API, so
        ``ledger_dir`` may be any supported URI (local, HDFS, s3a).
        """
        spark = self.spark
        fs_mkdirs(spark, ledger_dir)

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            marker = f"{ledger_dir.rstrip('/')}/epoch_{epoch_id}"
            if fs_exists(spark, marker):
                return  # epoch already written: replay after crash
            write_fn(batch_df, epoch_id)
            fs_touch(spark, marker)

        return self._start_foreach_batch(name, df, _process, checkpoint)

    def streaming_dedup_index(
        self,
        name: str,
        df: DataFrame,
        index_path: str,
        survivors_path: str,
        checkpoint: str,
        ledger_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> QueryHandle:
        """Continuous-ingest exact dedup: each micro-batch is deduped
        against the PARKED content-hash index (dedup.dedup_against_index),
        survivors append to ``survivors_path`` and their hashes append to
        ``index_path`` — the streaming rendering of the batch
        incremental-dedup operator, with the epoch ledger supplying
        exactly-once across crash replays.

        Scale: the per-epoch work is delta-sized (batch window + one
        anti-join against the index scan); at 100 TB the index is
        bucketed by content_hash so the anti-join co-locates, and a
        Bloom sketch of the index can pre-prune the delta. State lives
        in parquet, not the state store — unbounded corpus, bounded
        memory. Both sinks are epoch-partitioned and replay by dynamic
        partition overwrite (``dedup_index_epoch_write``), so a crash
        anywhere between the first byte and the ledger marker is
        repaired, not duplicated.
        """
        spark = self.spark

        def _write(batch_df: DataFrame, epoch_id: int) -> None:
            dedup_index_epoch_write(
                spark,
                batch_df,
                epoch_id,
                index_path=index_path,
                survivors_path=survivors_path,
                text_col=text_col,
                id_col=id_col,
            )

        return self.idempotent_foreach_batch(
            name, df, _write, checkpoint=checkpoint, ledger_dir=ledger_dir
        )

    def streaming_rollup(
        self,
        name: str,
        df: DataFrame,
        partials_path: str,
        checkpoint: str,
        ledger_dir: str,
        ts_col: str = "ts",
        value_col: str = "value",
        keys: tuple[str, ...] = ("event_type",),
    ) -> QueryHandle:
        """Continuous aggregate (hypertable rollup, streaming side):
        each micro-batch appends its MINUTE partials (count + exact
        decimal sum) to an append-only partial store; coarser grains
        merge partials ON READ via ``rollup_read``. Append-only partials
        make the sink trivially idempotent-friendly (epoch ledger) and
        skip the update-in-place problem entirely — the merge is
        associative re-aggregation, the same algebra
        ``suite.rollup_hierarchical`` verifies against DuckDB.

        Scale: per-epoch state is |distinct minute buckets in the
        batch| rows; the store grows by partials, not raw rows, and a
        periodic ``layout.compact`` folds duplicate buckets.
        """
        from pyspark.sql import functions as F

        def _write(batch_df: DataFrame, epoch_id: int) -> None:
            partial = batch_df.groupBy(
                F.date_trunc("minute", ts_col).alias("bucket"), *keys
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_sv"),
            )
            partial.write.mode("append").parquet(partials_path)

        return self.idempotent_foreach_batch(
            name, df, _write, checkpoint=checkpoint, ledger_dir=ledger_dir
        )

    @staticmethod
    def rollup_read(spark: SparkSession, partials_path: str, grain: str, keys: tuple[str, ...] = ("event_type",)) -> DataFrame:
        """Merge-on-read of the partial store at any grain >= minute:
        re-aggregate counts and decimal sums (exact, order-free)."""
        from pyspark.sql import functions as F

        p = spark.read.parquet(partials_path)
        return (
            p.groupBy(F.date_trunc(grain, "bucket").alias("bucket"), *keys)
            .agg(F.sum("n").cast("long").alias("n"), F.sum("_sv").alias("_sv"))
            .select("bucket", *keys, "n", F.col("_sv").cast("double").alias("sum_value"))
        )

    def foreach_concurrent_sink(
        self,
        name: str,
        df: DataFrame,
        fn: Callable,
        max_concurrency: int,
        checkpoint: str,
    ) -> QueryHandle:
        """T9 streaming form: every micro-batch drains through
        :func:`foreach_concurrent` — bounded within-task overlap for
        IO-bound per-record effects on top of Spark's across-task
        parallelism."""

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            foreach_concurrent(batch_df, fn, max_concurrency)

        return self._start_foreach_batch(name, df, _process, checkpoint)

    def foreach_batch_routes(
        self,
        name: str,
        df: DataFrame,
        routes: dict[str, tuple[Callable[[DataFrame], DataFrame] | None, str]],
        checkpoint: str,
    ) -> QueryHandle:
        """W4 one-pass routing: per micro-batch, write each route's
        (optionally transformed) slice to its sink URI — the WAF
        result_router (examples/waf/src/lib.rs:216-233) without reading
        the input twice."""

        targets = {
            route: (xform, self.catalog.get(uri)) for route, (xform, uri) in routes.items()
        }

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.persist()
            try:
                for _route, (xform, entry) in targets.items():
                    out = xform(batch_df) if xform else batch_df
                    out.write.format(entry.fmt).mode("append").save(entry.path)
            finally:
                batch_df.unpersist()

        return self._start_foreach_batch(name, df, _process, checkpoint)
