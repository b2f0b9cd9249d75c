"""Streaming replay harness (SURVEY §5.3): run a batch table through
the streaming engine and return the final result as a batch DataFrame.

This is the signature test move borrowed from the reference — *assert
pipeline behavior by subscribing to its output streams*
(tests/request-reply/tests/request_reply.rs:386-414) — rendered as:
parquet-dir file-stream -> user transform -> memory sink, driven to
completion with an ``availableNow`` trigger (which also reproduces
selium's emit-partial-window-on-stream-end behavior, SURVEY §7.4.1).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .partitions import query_partitions, state_partitions
from .state import state_store_provider


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream reader over ``path`` (a directory or one file).

    ``maxFilesPerTrigger`` bounds each micro-batch. FileStreamSource
    needs a directory, so a single-file source becomes its parent dir
    plus a glob filter on the file name."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.load(path)


@contextlib.contextmanager
def drained_run(
    spark: SparkSession,
    out: DataFrame,
    sink: str,
    output_mode: str = "append",
    timeout_s: float = 300.0,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
    query_name: str | None = None,
) -> Iterator[StreamingQuery]:
    """Run ``out`` to the ``sink`` format with an ``availableNow``
    trigger and yield the terminated query.

    ``shuffle_partitions`` is the query's state-partition count, set
    for its start only (Spark keeps it in the offset log). ``None``
    derives it from the first micro-batch's input bytes
    (``partitions.state_partitions``: one partition per
    ``STATE_PARTITION_BYTES``, at most the cores); an int pins it.
    ``state_store`` selects the state-store provider for this query
    ('rocksdb' for disk-backed bounded-memory state; None keeps the
    session default). The checkpoint lives in a temp dir removed on
    exit.

    Raises ``TimeoutError`` (after stopping the query) when it has not
    drained within ``timeout_s``: a partial run never looks complete.
    """
    if shuffle_partitions is None:
        shuffle_partitions = state_partitions(out)
    provider_ctx = (
        state_store_provider(spark, state_store) if state_store else contextlib.nullcontext()
    )
    with tempfile.TemporaryDirectory(prefix="selium_ckpt_") as ckpt, provider_ctx:
        writer = out.writeStream.outputMode(output_mode).format(sink)
        if query_name:
            writer = writer.queryName(query_name)
        writer = writer.option("checkpointLocation", ckpt).trigger(availableNow=True)
        with query_partitions(spark, shuffle_partitions):
            query = writer.start()
        query.awaitTermination(timeout_s)
        if query.isActive:
            query.stop()
            raise TimeoutError(
                f"streaming query {query_name or query.id} did not drain "
                f"within {timeout_s} s; the query was stopped"
            )
        yield query


def replay_to_memory(
    spark: SparkSession,
    source_path: str,
    schema,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    max_files_per_trigger: int | None = None,
    timeout_s: float = 300.0,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Replay a parquet dir/file as a stream, apply ``transform``, sink
    to memory, block until drained, return the sink's contents.

    ``shuffle_partitions`` sizes the stateful-operator state-store count
    for THIS query, never the session's count: a replay that inherited
    a 32-core session's partitions paid 32 state-store commits per
    micro-batch. ``None`` (the default) derives it from the replayed
    bytes (``partitions.state_partitions``: ``ceil(bytes /
    STATE_PARTITION_BYTES)`` clamped to [1, cores], the first
    micro-batch's share under ``max_files_per_trigger``); an int pins
    it.

    ``state_store`` and the ``TimeoutError`` contract are those of
    ``drained_run``.
    """
    name = f"replay_{uuid.uuid4().hex[:8]}"
    out = transform(file_stream(spark, source_path, schema, fmt, max_files_per_trigger))
    try:
        with drained_run(
            spark,
            out,
            "memory",
            output_mode,
            timeout_s,
            shuffle_partitions,
            state_store,
            query_name=name,
        ):
            # materialize before the checkpoint dir disappears —
            # JVM-side (executor-stored blocks, freed by the
            # ContextCleaner once the frame is unreferenced), NOT a
            # collect()+createDataFrame round-trip: shipping every
            # sink row through Python and back cost ~0.5-0.7 s per
            # graded replay at sf0.1 (r8 profile, BASELINE.md) and
            # pinned the whole output in driver memory
            return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)  # free the memory sink
