"""State-partition count of a streaming query, sized to its input.

A stateful streaming query runs ``spark.sql.shuffle.partitions`` state
stores per operator, and every micro-batch pays a commit (plus, for
``applyInPandasWithState``, a Python-worker task) per store, whatever
the state holds. Spark fixes the count when the query first starts and
keeps it in the checkpoint's offset log, so it is chosen once, here,
from what the first micro-batch will read:

- a file-stream leaf reads the bytes of the files it lists (capped at
  ``maxFilesPerTrigger`` files of the mean size);
- a batch leaf (the static side of a stream-static join) reads its
  estimated size on every micro-batch;
- any other streaming leaf (Kafka, rate, memory) has no size known at
  start and takes the cores.

The count is ``ceil(bytes / STATE_PARTITION_BYTES)`` clamped to
``[1, defaultParallelism]``.
"""

from __future__ import annotations

import contextlib
import math
from typing import Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

#: Input bytes of the first micro-batch per state partition. Per-trigger
#: cost is per-partition state-store and task overhead until a partition
#: holds a few hundred KiB; past that the Python folds want every core.
#: At 256 KiB sf0.1's events.parquet (2.0 MB) takes 8 partitions at >= 8
#: cores (the count that read best at 32 cores) and every core on 4, and
#: a live query started on a few small files takes 1. Readings on a
#: 4-vCPU VM (``local[4]``, warm, this rule against the fixed 8):
#: - ``stream_open`` (125-event files -> 1): ``latency_p50_s`` 3.02 ->
#:   1.69 s, median of 10 interleaved pairs.
#: - sf0.1 replays (events.parquet -> 4 against 8): no gap resolved over
#:   the 34 replay-based suite queries; the host's drift between sweeps
#:   (52-83 s for all 34) was wider than any difference.
#: - ``scripts/scale_stress.py --streaming`` replays (4 files a trigger,
#:   hdfs state): 1x (~170 KB a trigger -> 1) ``streaming_scd2`` 10.9
#:   against 9.7 s (8.0 s at 2: its 256 buckets fold one after another
#:   in one task), ``dedup_within_watermark`` 3.3 against 4.7 s; 30x
#:   (~5 MB -> 4) ``streaming_scd2`` 12.4 against 14.5 s,
#:   ``dedup_within_watermark`` 8.3 against 11.2 s.
STATE_PARTITION_BYTES = 256 * 1024


def state_partitions(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` for the streaming query ``df``,
    from the bytes its first micro-batch will read (module docstring)."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    total = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            total += int(leaf.stats().sizeInBytes())
            continue
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return cores
        source = leaf.dataSource()
        opts = _options(source.options())
        if "path" not in opts or not _is_file_format(spark, source):
            return cores
        n_bytes, n_files = _listed(spark, source)
        per_trigger = int(opts.get("maxfilespertrigger") or 0)
        if 0 < per_trigger < n_files:
            n_bytes = n_bytes * per_trigger // n_files
        total += n_bytes
    return max(1, min(cores, math.ceil(total / STATE_PARTITION_BYTES)))


@contextlib.contextmanager
def query_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the span of a
    streaming query's ``start()`` and restore it on exit. A started
    query runs on its own clone of the session and keeps the count in
    its offset log, so batch queries of the session keep theirs."""
    prev = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS, str(n))
    try:
        yield
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)


def _options(scala_map) -> dict[str, str]:
    """A data source's options, keys lower-cased (Spark matches source
    options case-insensitively)."""
    out = {}
    it = scala_map.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1()).lower()] = str(kv._2())
    return out


def _is_file_format(spark: SparkSession, source) -> bool:
    file_format = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.datasources.FileFormat"
    )
    return bool(file_format.isAssignableFrom(source.providingClass()))


def _listed(spark: SparkSession, source) -> tuple[int, int]:
    """(bytes, files) a file source lists now: its options read as a
    batch relation, so Spark's own listing (glob paths, partition dirs,
    hidden files, ``pathGlobFilter``) runs JVM-side in one call."""
    reader = spark._jsparkSession.read().format(source.className()).options(source.options())
    schema = source.userSpecifiedSchema()
    if schema.isDefined():
        reader = reader.schema(schema.get())
    try:
        relation = reader.load()
    except AnalysisException:  # a glob the stream accepts that matches nothing yet
        return 0, 0
    return int(relation.queryExecution().analyzed().stats().sizeInBytes()), len(relation.inputFiles())
