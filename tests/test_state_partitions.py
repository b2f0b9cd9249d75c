"""State-partition sizing of streaming queries: the count a query starts
with follows the bytes of its first micro-batch, live queries leave the
session's count alone, and a checkpoint keeps the count it was made
with."""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import functions as F

from selium_spark.engine import Engine
from selium_spark.streaming import state_partitions
from selium_spark.streaming.partitions import STATE_PARTITION_BYTES, query_partitions
from selium_spark.streaming.replay import file_stream

KIB = 1024


def _text_file(path, n_bytes: int) -> None:
    """A text file of exactly ``n_bytes`` bytes, 1 KiB lines."""
    line = "x" * (KIB - 1) + "\n"
    with open(path, "w") as f:
        f.write(line * (n_bytes // KIB))


def _expected(spark, n_bytes: int) -> int:
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, math.ceil(n_bytes / STATE_PARTITION_BYTES)))


def test_state_partitions_follows_first_batch_bytes(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _text_file(src / f"part-{i}.txt", 300 * KIB)
    # what a file source never reads: hidden files
    _text_file(src / "_SUCCESS", 4096 * KIB)
    _text_file(src / ".part-0.txt.crc", 4096 * KIB)
    schema = "value STRING"

    def stream(**opts):
        reader = spark.readStream.schema(schema).format("text")
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load(str(src)).groupBy("value").count()

    assert spark.sparkContext.defaultParallelism >= 4
    assert state_partitions(stream()) == _expected(spark, 900 * KIB) == 4
    # maxFilesPerTrigger caps the first batch at that many mean files
    assert state_partitions(stream(maxFilesPerTrigger=1)) == _expected(spark, 300 * KIB) == 2
    assert state_partitions(stream(maxFilesPerTrigger=9)) == 4
    # the single-file form of file_stream: parent dir + pathGlobFilter
    one = file_stream(spark, str(src / "part-1.txt"), schema, "text")
    assert state_partitions(one) == 2
    # a glob path and nested dirs are listed like the file source does
    nested = tmp_path / "nested" / "day=1"
    nested.mkdir(parents=True)
    _text_file(nested / "a.txt", 10 * KIB)
    glob_df = spark.readStream.schema(schema).format("text").load(str(tmp_path / "nest*"))
    assert state_partitions(glob_df) == 1


def test_state_partitions_edges(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    empty = tmp_path / "empty"
    empty.mkdir()
    assert state_partitions(spark.readStream.schema("value STRING").text(str(empty))) == 1
    nothing_yet = spark.readStream.schema("value STRING").text(str(tmp_path / "later*"))
    assert state_partitions(nothing_yet) == 1
    # no size known at start: the cores
    rate = spark.readStream.format("rate").load().groupBy("value").count()
    assert state_partitions(rate) == cores
    # the static side of a stream-static join is read every micro-batch
    tiny = tmp_path / "tiny"
    tiny.mkdir()
    _text_file(tiny / "a.txt", KIB)
    static = spark.range(10**5).withColumn("value", F.col("id").cast("string"))
    static_path = str(tmp_path / "static")
    static.write.parquet(static_path)
    static_bytes = sum(
        os.path.getsize(os.path.join(static_path, f))
        for f in os.listdir(static_path)
        if f.endswith(".parquet")
    )
    joined = spark.readStream.schema("value STRING").text(str(tiny)).join(
        spark.read.parquet(static_path), "value"
    )
    assert state_partitions(joined) == _expected(spark, static_bytes + KIB) > 1


def _offset_log_partitions(ckpt: str) -> str:
    """``spark.sql.shuffle.partitions`` recorded in the latest offset-log
    entry of the checkpoint ``ckpt``."""
    offsets = os.path.join(ckpt, "offsets")
    latest = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    with open(os.path.join(offsets, latest)) as f:
        meta = json.loads(f.read().splitlines()[1])
    return meta["conf"]["spark.sql.shuffle.partitions"]


def test_checkpoint_keeps_its_partition_count_across_restart(spark, tmp_path):
    """Spark stores the count in the offset log: a checkpoint made at 8
    partitions resumes at 8 under a start that would pick fewer, and the
    resumed output equals one uninterrupted run."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    schema = "k BIGINT, v BIGINT"

    def land(lo, hi):
        (
            spark.range(lo, hi)
            .select((F.col("id") % 13).alias("k"), F.col("id").alias("v"))
            .coalesce(1)
            .write.mode("append")
            .parquet(str(src))
        )

    def counts():
        return (
            file_stream(spark, str(src), schema)
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        )

    land(0, 500)
    with query_partitions(spark, 8):
        q = (
            counts().writeStream.queryName("sp_restart").format("memory")
            .outputMode("complete").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    assert _offset_log_partitions(ckpt) == "8"

    land(500, 900)
    df = counts()
    assert state_partitions(df) < 8
    with Engine(spark) as engine:
        h = engine.start(
            "sp_restart", df, checkpoint=ckpt, output_mode="complete",
            trigger_available_now=True,
        )
        h.query.awaitTermination(120)
        assert not h.query.isActive and h.query.exception() is None
        resumed = sorted(map(tuple, spark.table("sp_restart").collect()))
    assert _offset_log_partitions(ckpt) == "8"
    stores = [d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]
    assert len(stores) == 8

    whole = sorted(
        map(
            tuple,
            spark.read.parquet(str(src))
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect(),
        )
    )
    assert resumed == whole and sum(r[1] for r in whole) == 900


def test_engine_start_live_query_takes_state_partitions(spark, tmp_path):
    """A live ``Engine.start`` query records ``state_partitions(df)`` in
    its offset log while the session keeps its own count: the query's
    cloned session is taken at ``start()``, so restoring the session's
    value right after cannot reach the running query."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    spark.range(200).select((F.col("id") % 7).alias("k")).write.parquet(str(src))
    df = file_stream(spark, str(src), "k BIGINT").groupBy("k").count()
    session_value = spark.conf.get("spark.sql.shuffle.partitions")
    want = state_partitions(df)
    assert str(want) != session_value
    with Engine(spark) as engine:
        h = engine.start("sp_live", df, checkpoint=ckpt, output_mode="complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == session_value
        h.query.processAllAvailable()
        assert spark.table("sp_live").count() == 7
    assert _offset_log_partitions(ckpt) == str(want)
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_value
