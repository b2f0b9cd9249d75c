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

import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


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
    for THIS query (the conf is captured at query start, then restored).
    Streaming state stores cost per-partition commit overhead every
    micro-batch — size to state volume, not core count: 8 handles test
    SFs; a 100 TB deployment raises it with its key cardinality.

    ``state_store`` selects the provider for THIS query ('rocksdb' for
    disk-backed bounded-memory state — the 100 TB configuration; None
    keeps the session default).

    Raises ``TimeoutError`` (after stopping the query) when the replay
    has not drained within ``timeout_s``: a partial sink is never
    returned as if complete.
    """
    import contextlib
    import os

    from .state import state_store_provider

    name = f"replay_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # FileStreamSource needs a directory; a single-file source becomes
    # parent dir + glob filter on the file name
    if os.path.isfile(source_path):
        reader = reader.option("pathGlobFilter", os.path.basename(source_path))
        source_path = os.path.dirname(source_path)
    stream = reader.load(source_path)
    out = transform(stream)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    provider_ctx = (
        state_store_provider(spark, state_store) if state_store else contextlib.nullcontext()
    )
    try:
        with tempfile.TemporaryDirectory(prefix="selium_ckpt_") as ckpt, provider_ctx:
            query = (
                out.writeStream.queryName(name)
                .outputMode(output_mode)
                .format("memory")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination(timeout_s)
            if query.isActive:
                query.stop()
                spark.catalog.dropTempView(name)
                raise TimeoutError(
                    f"replay of {source_path} did not drain within "
                    f"{timeout_s} s; the query was stopped"
                )
            # materialize before the checkpoint dir disappears —
            # JVM-side (executor-stored blocks, freed by the
            # ContextCleaner once the frame is unreferenced), NOT a
            # collect()+createDataFrame round-trip: shipping every
            # sink row through Python and back cost ~0.5-0.7 s per
            # graded replay at sf0.1 (r8 profile, BASELINE.md) and
            # pinned the whole output in driver memory
            sink = spark.table(name).localCheckpoint(eager=True)
            spark.catalog.dropTempView(name)  # free the memory sink
            return sink
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
