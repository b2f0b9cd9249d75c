"""Scale-path operators: salted join correctness, bucketed zero-shuffle
join, IVF assignment sanity."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from selium_spark.operators import relational

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [("hot", i) for i in range(100)] + [("cold", i) for i in range(5)],
        "k STRING, v INT",
    )
    right = spark.createDataFrame([("hot", 10), ("cold", 20)], "k STRING, mult INT")
    plain = left.join(right, "k").select("k", "v", "mult")
    salted = relational.salted_join(left, right, "k", salt_buckets=4).select("k", "v", "mult")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
        b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
        ta = relational.bucketed_table(a, "bt_a", "k", n_buckets=4)
        tb = relational.bucketed_table(b, "bt_b", "k", n_buckets=4)
        joined = ta.join(tb, "k")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized IVF index prunes partitions on probe, and its
    results equal the on-the-fly IVF search."""
    from selium_spark.operators import similarity
    from selium_spark.plans import summarize
    from selium_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.make_centroids(emb, n=8)
    query_vec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]

    idx = str(tmp_path / "ivf_index")
    similarity.ivf_index_write(emb, cents, idx)

    topk_idx = similarity.ivf_index_topk(spark, idx, cents, query_vec, k=10, n_probe=2)
    topk_fly = similarity.ivf_topk(emb, cents, query_vec, k=10, n_probe=2)
    assert [tuple(r) for r in topk_idx.collect()] == [tuple(r) for r in topk_fly.collect()]

    # partition pruning is visible in the scan
    p = summarize(topk_idx)
    assert "PartitionFilters" in p.text
    assert "cluster_id" in p.text


def test_kmeans_centroids_improve_clustering(spark):
    """Lloyd iterations reduce within-cluster scatter vs the naive
    first-k init, and keep k centroids of the right shape."""
    from selium_spark.operators import similarity
    from selium_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    naive = similarity.make_centroids(emb, n=8)
    trained = similarity.kmeans_centroids(emb, k=8, iterations=3)
    rows = trained.collect()
    assert len(rows) == 8 and all(len(r.centroid_vec) == 64 for r in rows)

    def mean_best_cosine(cents):
        assigned = similarity.ivf_assign(emb, cents)
        return assigned.agg(F.avg("c_score")).first()[0]

    # higher mean max-cosine == tighter clusters
    assert mean_best_cosine(trained) > mean_best_cosine(naive)


def test_time_partitioned_layout_prunes(spark, tmp_path):
    from selium_spark.sources import layout
    from selium_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "ev_by_day")
    layout.write_time_partitioned(ev, path, "ts", "day")

    back = layout.read_time_partitioned(spark, path)
    assert back.count() == ev.count()  # layout is lossless

    one_day = back.where(F.col("p_date") == "2024-01-03")
    one_day.collect()
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the predicate must be a partition filter (planning-time pruning),
    # NOT a data filter evaluated after reading every file
    assert "PartitionFilters" in plan
    assert "p_date" in plan.split("PartitionFilters", 1)[1][:200]
    n_days = back.select("p_date").distinct().count()
    assert n_days > 1
    # pruned scan touches exactly the one partition's rows
    expected = ev.where(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == "2024-01-03").count()
    assert one_day.count() == expected > 0


def test_bucketed_index_join_skips_index_shuffle(spark, tmp_path):
    """A content-hash index written bucketed joins the delta with NO
    Exchange on the index side: the write-time shuffle is reused by
    every later incremental-dedup anti-join."""
    from pyspark.sql import functions as F

    from selium_spark.operators.dedup import dedup_against_index
    from selium_spark.plans import summarize
    from selium_spark.sources.layout import write_bucketed

    history = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(64)], "doc_id LONG, text STRING"
    )
    from selium_spark.operators.dedup import content_hash_index

    write_bucketed(
        content_hash_index(history), "dedup_index_b", ["content_hash"], 8,
        sort_by=["content_hash"],
    )
    try:
        index = spark.table("dedup_index_b")
        delta = spark.createDataFrame(
            [(100, "doc number 3"), (101, "brand new")], "doc_id LONG, text STRING"
        )
        out = dedup_against_index(delta, index)
        assert {r["doc_id"] for r in out.collect()} == {101}

        # plan shape: disabling broadcast forces the sort-merge path,
        # where the bucketed side must NOT re-shuffle
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p = summarize(dedup_against_index(delta, index))
            # the scan honors the write-time clustering: the index is
            # read pre-hashed (no exchange above its scan) — both
            # remaining exchanges are delta-side (window + join align),
            # i.e. query-time shuffle is DELTA-sized, never index-sized
            assert "Bucketed: true" in p.text
            # 1 when the delta window's hash partitioning is reused by
            # the join (shuffle partitions == bucket count), 2 otherwise
            assert 1 <= p.n_exchanges <= 2
            assert "SortMergeJoin" in p.text and "LeftAnti" in p.text
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS dedup_index_b")


def test_compact_merges_small_files_range_sorted(spark, tmp_path):
    """Compaction: 20 tiny files -> 1 range-sorted file; key min/max
    per file become tight so scans prune at FILE granularity."""
    import os

    from pyspark.sql import functions as F

    from selium_spark.sources.layout import compact

    src = str(tmp_path / "small")
    for i in range(20):  # one tiny file per "micro-batch"
        spark.range(i * 10, i * 10 + 10).withColumn(
            "k", F.col("id")
        ).coalesce(1).write.mode("append").parquet(src)
    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in == 20

    dst = str(tmp_path / "compacted")
    n_out = compact(spark, src, dst, ["k"], target_file_mb=128)
    assert n_out == 1
    files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(files) == 1
    back = spark.read.parquet(dst)
    assert back.count() == 200
    # sorted within the file: first/last row of the file follow key order
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(dst, files[0]), columns=["k"])
    ks = t.column("k").to_pylist()
    assert ks == sorted(ks)


def test_pq_encode_stateless_matches_grouped(spark):
    # the literal-codebook (streaming-safe) encoder must agree with the
    # broadcast-join + min_by batch encoder on every (vec, subspace)
    from selium_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.pq_codebook(emb, m_subs=8, k_codes=16)
    grouped = sorted(map(tuple, similarity.pq_encode(emb, cb, m_subs=8).collect()))
    stateless = sorted(
        map(tuple, similarity.pq_encode_stateless(emb, cb.collect(), m_subs=8).collect())
    )
    assert grouped == stateless


def test_stream_replay_metrics_machinery(spark, tmp_path):
    """The --streaming stress harness's metric collection works on a
    tiny corpus: rows counted, batches > 1 under maxFilesPerTrigger,
    state rows/memory and trigger percentiles populated — so
    scale_stress.py --streaming cannot rot silently between rounds."""
    sys.path.insert(0, REPO_ROOT)
    from pyspark.sql import functions as F

    from scripts.scale_stress import stream_replay_metrics
    from selium_spark.operators import stateful
    from selium_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 20
    )
    src = str(tmp_path / "ev")
    cut = "2024-01-04"
    ev.where(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    n_rows = spark.read.parquet(src).count()

    m = stream_replay_metrics(
        spark,
        src,
        schema,
        lambda s: stateful.streaming_scd2(
            s, "user_id", "event_type", "ts", "event_id", state_buckets=4
        ),
        "update",
        state_store="rocksdb",
        shuffle_partitions=2,
        max_files=1,
    )
    # one state row per hashed bucket that holds a key: O(buckets),
    # not O(events)
    n_buckets = (
        spark.read.parquet(src)
        .where(F.col("user_id").isNotNull())
        .select(F.pmod(F.xxhash64("user_id"), F.lit(4)))
        .distinct()
        .count()
    )
    assert m["rows"] == n_rows
    assert m["n_batches"] == 2
    assert m["state_rows"] == n_buckets
    assert m["rows_per_s"] > 0 and m["wall_s"] > 0
    assert m["trigger_p50_ms"] > 0 and m["trigger_p99_ms"] >= m["trigger_p50_ms"]
    assert m["state_mb"] > 0  # rocksdb memory reported


def test_stream_replay_metrics_raises_when_not_drained(spark, tmp_path):
    """A stress replay that outlives ``timeout_s`` is stopped and
    raises TimeoutError; it never reports rows/wall_s/state_rows as if
    the replay had drained."""
    import os
    import sys

    import pytest

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.scale_stress import stream_replay_metrics

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        stream_replay_metrics(
            spark, src, schema, lambda s: s, "append", None, max_files=1, timeout_s=0.01
        )
    assert {q.id for q in spark.streams.active} == before


def test_stream_ops_streaming_session_runs(spark, tmp_path):
    """The native-session_window entry in the --streaming stress set
    replays end-to-end (append mode, rocksdb): sessions merge in JVM
    state and the replay's state_rows stay bounded by open sessions,
    not events."""
    sys.path.insert(0, REPO_ROOT)
    from pyspark.sql import functions as F

    from scripts.scale_stress import _stream_ops, stream_replay_metrics
    from selium_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 20
    )
    src = str(tmp_path / "ev")
    cut = "2024-01-04"
    ev.where(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    n_rows = spark.read.parquet(src).count()

    from selium_spark.sources.tables import norm_stream_ts

    mode, factory = _stream_ops()["streaming_session"]
    assert mode == "append"
    m = stream_replay_metrics(
        spark,
        src,
        schema,
        lambda s: factory(norm_stream_ts(s)),
        mode,
        state_store="rocksdb",
        shuffle_partitions=2,
        max_files=1,
    )
    assert m["rows"] == n_rows and m["n_batches"] == 2
    # append emits only sessions finalized below the watermark; with
    # the 0s watermark the last batch's sessions stay open in state
    assert m["out_rows"] > 0
    assert m["state_rows"] > 0 and m["state_mb"] > 0


def test_stream_ops_interval_join_runs(spark, tmp_path):
    """The two-sided stream-stream join entry in the --streaming
    stress set replays end-to-end: pairs emit and click state is
    evicted under the watermark (state stays O(unexpired clicks),
    not O(events))."""
    sys.path.insert(0, REPO_ROOT)
    from pyspark.sql import functions as F

    from scripts.scale_stress import _stream_ops, stream_replay_metrics
    from selium_spark.sources.tables import load_table, norm_stream_ts

    ev = load_table(spark, "/root/testdata/sf0.001", "events").where(
        F.col("user_id") < 40
    )
    src = str(tmp_path / "ev")
    cut = "2024-01-04"
    ev.where(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    ev.where(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    mode, factory = _stream_ops()["streaming_interval_join"]
    assert mode == "append"
    m = stream_replay_metrics(
        spark,
        src,
        schema,
        lambda s: factory(norm_stream_ts(s)),
        mode,
        state_store="rocksdb",
        shuffle_partitions=2,
        max_files=1,
    )
    # both sides of the self-join consume the stream
    assert m["rows"] == 2 * spark.read.parquet(src).count()
    assert m["n_batches"] == 2
    n_events = spark.read.parquet(src).count()
    assert 0 < m["state_rows"] < n_events  # evicted, not accumulated


def test_minmax_normalize_bounds_and_constant_dims(spark):
    """Every normalized value lands in [0,1]; the per-dim min maps to
    0 and max to 1; a constant dimension maps to 0.0 (not NaN/inf)."""
    from pyspark.sql import functions as F

    from selium_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1.0, 5.0, 7.0]), (1, [3.0, 5.0, 3.0]), (2, [2.0, 5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: list(r.normalized) for r in similarity.minmax_normalize(df).collect()}
    assert out[0] == [0.0, 0.0, 1.0]   # dim0 min; dim1 constant; dim2 max
    assert out[1] == [1.0, 0.0, 0.0]
    assert out[2] == [0.5, 0.0, 0.5]
    assert all(0.0 <= v <= 1.0 for vals in out.values() for v in vals)


def test_minmax_normalize_rejects_ragged_input(spark):
    """A row shorter than the corpus dimensionality raises an explicit
    error instead of silently null-padding through zip_with (round-6
    ADVICE #3: the uniform-dims input contract is enforced, not
    assumed)."""
    import pytest
    from pyspark.sql.utils import PythonException

    from selium_spark.operators import similarity

    ragged = spark.createDataFrame(
        [(0, [1.0, 5.0, 7.0]), (1, [3.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="ragged input"):
        similarity.minmax_normalize(ragged).collect()


def test_ivfpq_index_partition_pruning(spark, tmp_path):
    """The materialized IVFADC index (r11): ivfpq_adc_topk over the
    partitionBy(cluster_id) read prunes to the probed lists at
    planning time, and its results equal the on-the-fly composite."""
    from selium_spark.operators import similarity
    from selium_spark.plans import summarize
    from selium_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.make_centroids(emb, n=8)
    query_vec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    resid16 = similarity.ivfpq_residuals(
        emb.orderBy(F.col("vec_id").asc()).limit(16), cents
    )
    cb = similarity.ivfpq_codebook(resid16, m_subs=8, k_codes=16)

    idx = str(tmp_path / "ivfpq_index")
    similarity.ivfpq_index_write(emb, cents, cb, idx)

    topk_idx = similarity.ivfpq_adc_topk(
        spark.read.parquet(idx), cents, cb, query_vec, k=10, n_probe=2
    )
    fly = similarity.ivfpq_encode(similarity.ivfpq_residuals(emb, cents), cb)
    topk_fly = similarity.ivfpq_adc_topk(fly, cents, cb, query_vec, k=10, n_probe=2)
    assert [tuple(r) for r in topk_idx.collect()] == [
        tuple(r) for r in topk_fly.collect()
    ]

    # the probed-list isin filter must prune partitions at planning
    # time, not scan-and-filter
    p = summarize(topk_idx)
    assert "PartitionFilters" in p.text
    assert "cluster_id" in p.text.split("PartitionFilters", 1)[1][:300]


def test_ivfpq_codebook_kmeans_trains_and_beats_toy(spark):
    """train='kmeans' (r12, r11 verdict task #6): on a corpus whose
    subvectors actually cluster (4 patterns + small deterministic
    jitter), the per-subspace Lloyd's codebook must (a) keep the
    (m, code_id, subvec) contract, (b) be deterministic across runs
    (exact-DECIMAL means), and (c) cut the quantization error vs the
    first-k toy slices."""
    import numpy as np

    from selium_spark.operators import similarity

    rng = np.random.default_rng(12)
    patterns = rng.normal(0, 1, (4, 16))
    rows = []
    for i in range(200):
        v = patterns[i % 4] + rng.normal(0, 0.05, 16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.make_centroids(emb, n=2)
    resid = similarity.ivfpq_residuals(emb, cents)

    def mse(cb):
        subs = resid.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("m"),
            "residual",
        ).select(
            "vec_id",
            "m",
            F.slice("residual", (F.col("m") * 4 + 1).cast("int"), 4).alias("esub"),
        )
        return (
            subs.join(F.broadcast(cb), "m")
            .withColumn("d", similarity.l2sq(F.col("esub"), F.col("subvec")))
            .groupBy("vec_id", "m")
            .agg(F.min("d").alias("qd"))
            .agg(F.avg("qd"))
            .first()[0]
        )

    toy = similarity.ivfpq_codebook(resid, m_subs=4, k_codes=8)
    trained = similarity.ivfpq_codebook(
        resid, m_subs=4, k_codes=8, train="kmeans", iterations=3
    )
    assert trained.count() == 4 * 8
    assert [f.name for f in trained.schema.fields] == ["m", "code_id", "subvec"]
    # deterministic: a second training run lands on identical floats
    again = similarity.ivfpq_codebook(
        resid, m_subs=4, k_codes=8, train="kmeans", iterations=3
    )
    snap = lambda df: sorted(
        (r["m"], r["code_id"], tuple(r["subvec"])) for r in df.collect()
    )
    assert snap(trained) == snap(again)
    assert mse(trained) < mse(toy) * 0.8, "k-means did not cut quantization error"


def test_ivfpq_codebook_rejects_bad_train(spark):
    import pytest

    from selium_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    cents = similarity.make_centroids(emb, n=1)
    resid = similarity.ivfpq_residuals(emb, cents)
    with pytest.raises(ValueError, match="train must be"):
        similarity.ivfpq_codebook(resid, train="mlp")


def test_index_write_one_file_per_cluster(spark, tmp_path):
    """r12 file-layout contract (guide §6): the index writers
    hash-distribute by cluster before partitionBy, so a MULTI-task
    input writes one file per cluster dir (x salt_files), not one per
    (task x cluster) — the small-files explosion a bare partitionBy
    produces at scale."""
    import glob

    from selium_spark.operators import similarity
    from selium_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").repartition(8)
    cents = similarity.make_centroids(emb, n=4)

    idx = str(tmp_path / "ivf_idx")
    similarity.ivf_index_write(emb, cents, idx)
    per_dir = [
        len(glob.glob(d + "/*.parquet"))
        for d in glob.glob(idx + "/cluster_id=*")
    ]
    assert per_dir and max(per_dir) == 1

    idx2 = str(tmp_path / "ivf_idx_salted")
    similarity.ivf_index_write(emb, cents, idx2, salt_files=2)
    per_dir2 = [
        len(glob.glob(d + "/*.parquet"))
        for d in glob.glob(idx2 + "/cluster_id=*")
    ]
    # hot clusters may split across up to salt_files writers
    assert per_dir2 and 1 <= max(per_dir2) <= 2

    # read-back equivalence: layout only, rows unchanged
    a = sorted(tuple(r) for r in spark.read.parquet(idx).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(idx2).collect())
    assert a == b


def test_index_write_auto_salt_splits_hot_cluster(spark, tmp_path):
    """r13 size-aware salting contract (r12 verdict defect #5 + ADVICE
    #3: the old salted-path assertion passed even if salting was a
    no-op). A skewed corpus — one cluster holding ~97% of rows — must
    split the HOT cluster's partition dir into exactly
    ceil(rows/target) files while small clusters keep one file each,
    and the read-back must be row-identical to the unsalted layout."""
    import glob

    from pyspark.sql import functions as F

    from selium_spark.operators import similarity

    # 4 orthogonal centroid directions; ids 0..3 are the exact centroid
    # vectors (make_centroids picks first-4-by-id), then 997 more rows
    # on centroid 0's axis and 3 on each of the others => cluster 0 is
    # hot by construction.
    axes = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    rows = [(i, axes[i]) for i in range(4)]
    rows += [(10 + i, [2.0, 0.0, 0.0, 0.0]) for i in range(997)]
    rows += [(2000 + a * 10 + i, [v * 3.0 for v in axes[a]])
             for a in (1, 2, 3) for i in range(3)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(8)
    cents = similarity.make_centroids(emb, n=4)

    target = 300  # hot cluster: 998 rows -> ceil(998/300) = 4 salts
    plain = str(tmp_path / "idx_plain")
    similarity.ivf_index_write(emb, cents, plain, salt_files=1)
    auto = str(tmp_path / "idx_auto")
    assigned = similarity.ivf_assign(emb, cents)
    (
        similarity._distribute_for_index_write(
            assigned.select("vec_id", "embedding", "cluster_id"),
            "vec_id",
            "auto",
            target_rows_per_file=target,
        )
        .write.mode("overwrite")
        .option("maxRecordsPerFile", str(target))
        .partitionBy("cluster_id")
        .parquet(auto)
    )

    by_cluster = {
        r["cluster_id"]: r["n"]
        for r in spark.read.parquet(auto)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hot = max(by_cluster, key=by_cluster.get)
    assert by_cluster[hot] == 998
    for d in glob.glob(auto + "/cluster_id=*"):
        cid = int(d.rsplit("=", 1)[1])
        files = glob.glob(d + "/*.parquet")
        if cid == hot:
            # the hot cluster ACTUALLY split (salting is not a no-op:
            # 4 salt groups, possibly merged by writer-task collisions
            # but never below 2 distinct writers for 4 salts over 8
            # partitions with this fixed hash layout)...
            assert len(files) >= 2, (cid, len(files))
        else:
            assert len(files) == 1, (cid, len(files))
        # ...and every file respects the size band (maxRecordsPerFile
        # backstop): no file carries more than `target` rows
        for fp in files:
            n = spark.read.parquet(fp).count()
            assert n <= target, (fp, n)

    a = sorted(tuple(r) for r in spark.read.parquet(plain).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(auto).collect())
    assert a == b


@pytest.mark.parametrize(
    "name, prefix",
    [("ann_ivf_index_topk", "selium_ivf_idx_"), ("ann_ivfpq_index_topk", "selium_ivfpq_idx_")],
)
def test_ann_index_queries_leave_no_index_dir(spark, name, prefix):
    """The index a serving query writes is removed before it returns:
    the top-k is materialized, so no ``selium_ivf*_idx_*`` dir is left
    behind per call."""
    import glob
    import tempfile

    from conftest import SF_DIR

    from selium_spark.suite import QUERIES

    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    out = QUERIES[name](spark, SF_DIR)
    assert out.count() > 0
    assert set(glob.glob(pattern)) <= before
