"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, no gratuitous shuffles) are
asserted here — via plans.summarize — so a refactor can't silently
lose them."""

from __future__ import annotations

from selium_spark.plans import summarize
from selium_spark.suite import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str):
    return summarize(QUERIES[name](spark, SF))


def test_q6_filters_push_to_parquet(spark):
    p = plan_of(spark, "q6_revenue_forecast")
    assert any("GreaterThanOrEqual(l_shipdate" in f for f in p.pushed_filters)
    # column pruning: only the 4 referenced columns are read
    assert "l_orderkey" not in p.scan_columns()
    assert "l_extendedprice" in p.scan_columns()


def test_q5_dims_broadcast(spark):
    p = plan_of(spark, "q5_local_supplier_volume")
    assert p.n_broadcast_joins >= 2  # nation/region never shuffle the fact side
    assert not p.has_cartesian


def test_t1_map_is_shuffle_free(spark):
    p = plan_of(spark, "t1_map_chain")
    assert p.n_exchanges == 0  # narrow transform: no shuffle at any scale
    assert p.codegen_stages >= 1


def test_w1_single_shuffle_with_partial_agg(spark):
    p = plan_of(spark, "w1_tumbling_daily")
    assert p.n_hash_aggregates >= 2  # partial (map-side) + final


def test_ann_bruteforce_is_take_ordered(spark):
    p = plan_of(spark, "ann_bruteforce_topk")
    assert p.has_take_ordered  # per-partition top-k, no global sort


def test_ann_ivfpq_broadcasts_all_small_sides(spark):
    """IVFADC (r11): centroids, codebook, and the ADC distance table
    are all K-bounded and must broadcast — the corpus side never
    shuffles against another corpus-sized table, and the final top-k
    is a TakeOrderedAndProject, not a global sort. The only
    cross-products are the probe/codebook smalls."""
    p = plan_of(spark, "ann_ivfpq_topk")
    assert p.n_broadcast_joins >= 3
    # keyless smalls (centroid assign, probe x codebook) may plan as
    # BroadcastNestedLoopJoin — always BuildRight on the broadcast
    # side; a true CartesianProduct (both sides shuffled) never
    assert "CartesianProduct" not in p.text
    assert "BuildLeft" not in p.text  # the corpus is never the broadcast side
    assert p.has_take_ordered


def test_asof_join_single_sort_no_range_explosion(spark):
    p = plan_of(spark, "w3_latest_enrich")
    assert not p.has_cartesian
    assert "Window" in p.text  # the union+window formulation


def test_q1_scan_prunes_to_agg_columns(spark):
    p = plan_of(spark, "q1_pricing_summary")
    cols = p.scan_columns()
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


def test_q2_broadcasts_dims_no_cartesian(spark):
    # part + supplier/nation/region broadcast; the only shuffles are the
    # ps-distinct and the per-part min aggregate
    p = plan_of(spark, "q2_min_cost_supplier")
    assert p.n_broadcast_joins >= 3
    assert not p.has_cartesian


def test_q9_filter_prunes_before_join(spark):
    p = plan_of(spark, "q9_product_type_profit")
    # p_name LIKE filter pushes into the part scan (dim pruned before
    # broadcast), and part/supplier/nation all broadcast
    assert any("p_name" in f for f in p.pushed_filters)
    assert p.n_broadcast_joins >= 3


def test_q12_year_filter_pushes_to_scan(spark):
    p = plan_of(spark, "q12_ship_quarter_priority")
    assert any("l_shipdate" in f for f in p.pushed_filters)
    assert p.n_hash_aggregates >= 2  # partial + final conditional counts


def test_q11_scalar_broadcast_not_cartesian_explosion(spark):
    # the one-row mean joins as a BROADCAST nested loop (fine: 1 row),
    # never a shuffled CartesianProduct of the full value table
    p = plan_of(spark, "q11_important_stock")
    assert "CartesianProduct" not in p.text
    assert "BroadcastNestedLoopJoin" in p.text


def test_kmv_is_take_ordered_no_global_shuffle(spark):
    p = plan_of(spark, "sketch_kmv_distinct")
    assert p.has_take_ordered  # k smallest hashes: per-partition top-k


def test_hll_partial_agg_constant_shuffle(spark):
    p = plan_of(spark, "sketch_hll_distinct")
    assert p.n_hash_aggregates >= 2  # register max is map-side combined


def test_bloom_prune_broadcasts_both_probes(spark):
    p = plan_of(spark, "sketch_bloom_prune")
    assert p.n_broadcast_joins >= 2  # fact side never shuffles


def test_histogram_bins_partial_agg(spark):
    p = plan_of(spark, "sketch_histogram_quantiles")
    assert p.n_hash_aggregates >= 2  # constant-key-space partial agg


def test_chunk_documents_is_shuffle_free(spark):
    # map-side posexplode only: chunking must stay narrow at any scale
    from selium_spark.operators import packing

    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id LONG, text STRING")
    p = summarize(packing.chunk_documents(df, 4, overlap=2))
    assert p.n_exchanges == 0


def test_shard_assign_single_shuffle_on_shard_key(spark):
    from selium_spark.operators import packing

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id LONG")
    p = summarize(packing.shard_assign(df, 8))
    assert p.n_exchanges == 1  # one hash exchange on shard_id, then local sort
    assert "Window" in p.text


def test_domain_cap_two_phase_salted_shuffles(spark):
    from selium_spark.operators import urls

    df = spark.createDataFrame(
        [(1, "https://a.example.com/x"), (2, "https://b.other.org/y")],
        "doc_id LONG, url STRING",
    )
    p = summarize(urls.domain_cap(df, "url", "doc_id", cap=5))
    # exactly the two-phase salted top-k: phase 1 hashes on
    # (domain, salt) — no single hot-domain task — phase 2 re-ranks the
    # <= salt*cap survivors on the domain key. More than 2 would mean a
    # gratuitous extra shuffle crept in.
    assert p.n_exchanges == 2
    assert "Window" in p.text


def test_dedup_incremental_is_anti_join_no_rescan(spark):
    # the delta joins the index once (left anti); no cartesian, and the
    # in-batch dedup is a single window shuffle over the delta only
    p = plan_of(spark, "dedup_incremental")
    assert not p.has_cartesian
    assert "LeftAnti" in p.text or "left_anti" in p.text.lower()


# Queries where a BroadcastNestedLoopJoin/cartesian is INTENTIONAL:
# either a 1-row scalar aggregate cross-joined into the plan (thresholds,
# corpus totals, n_total) or a documented brute-force baseline whose
# scale path is the LSH/IVF variant.
_INTENTIONAL_CARTESIAN = {
    "dedup_semantic",            # within-cluster pairs after IVF partitioning
    "ann_bruteforce_topk",       # the exact baseline by definition
    "ann_ivf_topk",              # centroid table cross (K rows)
    "ann_recall_ivf",            # compares against the brute-force baseline
    "text_bm25",                 # corpus-stats scalar (avgdl, N) cross-join
    "text_logppl_filter",        # vocab-total scalar cross-join
    "text_bigram_ppl",           # bigram-total scalar cross-join
    "sketch_kmv_distinct",       # 1-row sketch result cross exact count
    "sketch_hll_distinct",       # same
    "sketch_bloom_prune",        # 1-row bloom bitmap broadcast
    "sketch_histogram_quantiles",# n_total scalar cross the 256-bin table
    "sketch_kmv_setops",         # 1-row sketch algebra
    "q22_global_sales_opportunity",  # scalar AVG subquery (TPC-H shape)
    "q11_important_stock",           # scalar total-value subquery
    "q20_excess_inventory",          # scalar threshold subquery
    "text_dsir_select",              # two 1-row n_total scalars crossed
                                     # into the 1024-bucket tables
    "drift_psi_value",               # 1-row per-population totals crossed
                                     # into the n_bins cell table
    "graph_copurchase_triangles",    # three 1-row census scalars
                                     # (n_edges/n_nodes/n_wedges) crossed
                                     # into the 1-row triangle count
    "text_pmi_collocations",         # 1-row bigram-total scalar crossed
                                     # into the pair table
    "ann_ivfpq_topk",                # centroid assign + probe x codebook
    "ann_ivfpq_index_topk",          # same smalls over the written index (r12)
                                     # smalls (r11; all broadcast,
                                     # BuildLeft pinned off by its own
                                     # plan test)
    "ann_ivfpq_recall",              # same + the brute-force baseline
    "emb_kmeans_assign",             # per-iteration centroid cross (K rows)
    "emb_hard_negatives",            # anchor-batch cross (|anchors| rows)
    "emb_minmax_normalized",         # 1-row per-dim min/max stat arrays
    "dedup_lsh_recall",              # two 1-row eval counters crossed
                                     # into the (n_true, n_caught) row
                                     # crossed into the embeddings scan
    "emb_int8_quantized",            # same minmax stats cross (builds on
                                     # minmax_normalize)
}


def test_no_accidental_cartesian_in_any_suite_query(spark):
    """Sweep guard: no suite query may plan a cartesian/nested-loop
    join unless it is on the audited intentional list (scalar
    cross-joins and brute-force baselines). A new operator that
    accidentally drops its join keys fails here, not at 100 TB."""
    bad = []
    for name, fn in QUERIES.items():
        if name.startswith("stream_"):
            continue  # streaming plans need a running query
        p = summarize(fn(spark, SF))
        if p.has_cartesian and name not in _INTENTIONAL_CARTESIAN:
            bad.append(name)
    assert not bad, f"unexpected cartesian plans: {bad}"


def test_dsir_feature_subtree_scans_once_via_cache(spark):
    """dsir_importance pins the per-(doc,bucket) aggregate with
    persist() and feeds BOTH consumers (the denominator distribution
    and the scoring join) from the cache — round-5 verdict #2: without
    the pin, AQE staging kept ReuseExchange from collapsing the two
    consumers and the raw corpus's tokenize+hash subtree executed
    twice. Formatted explain prints each node twice (tree + details),
    so >= 4 occurrences means >= 2 InMemoryTableScan nodes."""
    p = plan_of(spark, "text_dsir_select")
    assert p.text.count("InMemoryTableScan") >= 4
    spark.catalog.clearCache()


def test_mm_header_decode_is_narrow(spark):
    """Fixture synth + header parse are chained mapInPandas stages —
    payload bytes must never shuffle (the multimodal contract)."""
    p = plan_of(spark, "mm_header_decode")
    assert p.n_exchanges == 0
    assert not p.has_cartesian


def test_pack_nextfit_single_shuffle_on_shard_key(spark):
    """Next-fit packing: token counting map-side, ONE hash shuffle on
    the md5 shard key, per-shard scans independent."""
    p = plan_of(spark, "pack_nextfit_manifest")
    assert p.n_exchanges == 1
    assert not p.has_cartesian


def test_bigram_ppl_total_is_scalar_broadcast(spark):
    """The bigram-LM total joins back as a 1-row broadcast (never a
    corpus-side cartesian); occurrence->probability join stays a hash
    join on (w1, w2)."""
    p = plan_of(spark, "text_bigram_ppl")
    assert "BroadcastNestedLoopJoin" not in p.text or "Exchange" in p.text
    # the only nested-loop join allowed is the 1-row scalar total
    import re

    assert p.text.count("CartesianProduct") == 0


def _rank_window_specs(text: str) -> list[str]:
    """PARTITION-BY prefixes of every row_number window in a plan.

    Captures only column refs up to the first orderBy/frame token
    rather than [^)]* — the old pattern truncated at the first nested
    closing paren and only worked because partition columns happen to
    precede the frame spec in plan text (r11 ADVICE)."""
    import re

    return re.findall(
        r"row_number\(\) windowspecdefinition\((\w+#\d+[^,]*(?:, \w+#\d+[^,]*)*)",
        text,
    )


def test_mad_spread_windows_are_bucket_partitioned(spark):
    """robust_zscore_outliers(spread=N): BOTH rank windows must be
    partitioned by (group, range bucket), never by the group alone —
    the per-group two-phase device that lifts the |groups|-task
    parallelism bound. A refactor that drops the spread routing would
    silently reinstate the 5-task sort ceiling. Asserted on the
    operator with the size gate off (spread_min_rows=None forces the
    device); the suite query's gate is covered by the test below."""
    from selium_spark.operators import windows
    from selium_spark.plans import summarize

    df = spark.range(0, 2000).selectExpr(
        "CAST(id % 5 AS STRING) AS g", "CAST(id % 97 AS DOUBLE) AS v"
    )
    p = summarize(windows.robust_zscore_outliers(df, "g", "v", spread=8))
    specs = _rank_window_specs(p.text)
    assert specs, "no rank window found in the plan"
    for spec in specs:
        assert "_bkt" in spec, f"rank window lost its bucket partitioning: {spec}"


def test_mad_spread_min_rows_gate_routes_both_ways(spark):
    """spread_min_rows (r11, carried TODO #4): sub-threshold inputs
    take the PLAIN per-group path (no bucket column anywhere — the
    device's fixed overhead is pure loss on a grain that sorts
    sub-second on |groups| tasks); above-threshold inputs engage the
    spread. The suite's mad_daily_outliers passes spread_min_rows=1M,
    so at the test SF (~tiny grain) its plan must show the gated
    plain shape — the x100 scale table is where the spread engages."""
    from selium_spark.operators import windows
    from selium_spark.plans import summarize

    df = spark.range(0, 2000).selectExpr(
        "CAST(id % 5 AS STRING) AS g", "CAST(id % 97 AS DOUBLE) AS v"
    )
    gated = summarize(
        windows.robust_zscore_outliers(
            df, "g", "v", spread=8, spread_min_rows=1_000_000
        )
    )
    assert "_bkt" not in gated.text, "gate failed: spread engaged below threshold"
    assert _rank_window_specs(gated.text), "plain path lost its rank windows"
    engaged = summarize(
        windows.robust_zscore_outliers(df, "g", "v", spread=8, spread_min_rows=100)
    )
    specs = _rank_window_specs(engaged.text)
    assert specs and all("_bkt" in s for s in specs), (
        "gate failed: spread did not engage above threshold"
    )
    # the suite query (spread=32, spread_min_rows=1M, pin=True) gates
    # to plain at this SF; pin truncates lineage so only the second
    # rank pass is visible — it must be group-partitioned, unbucketed
    p = plan_of(spark, "mad_daily_outliers")
    assert "_bkt" not in p.text
    assert _rank_window_specs(p.text)


def test_global_rank_window_is_bucket_partitioned(spark):
    """rank_global_curriculum must NOT plan the naive unpartitioned
    ranking window (all rows to one task): the corpus row_number
    windowspec is partitioned by the range bucket, and the per-bucket
    counts branch scans a doc_id-pruned projection (the full columns
    move only through the window exchange)."""
    import re

    p = plan_of(spark, "rank_global_curriculum")
    assert re.search(r"row_number\(\) windowspecdefinition\(_bkt", p.text), (
        "ranking window lost its bucket partitioning"
    )
    pruned = [rs for rs in p.read_schemas if "n_chars" in rs and "doc_id" not in rs]
    assert pruned, f"counts branch scan not column-pruned: {p.read_schemas}"


def test_budget_head_running_sum_stays_bucket_partitioned(spark):
    """text_budget_head's corpus-wide cumulative sum must NOT plan the
    naive unpartitioned running window: the sum windowspec is
    partitioned by the range bucket, so the only single-partition
    window runs over the ~n_range_buckets-row offsets table."""
    import re

    p = plan_of(spark, "text_budget_head")
    assert re.search(
        r"sum\(_v#\d+L?\) windowspecdefinition\(_bkt#\d+,", p.text
    ), "running-sum window lost its bucket partitioning"


def test_remove_dup_spans_three_pruned_scans_no_pin(spark):
    """remove_dup_spans (r13 doc-level fold): NO persisted pin —
    exactly three column-pruned corpus scans (the non-positional hot
    pass reads text only; the covered-interval pass and the doc-level
    fold read doc_id+text), no InMemoryTableScan left pinning executor
    storage for the session, and no cartesian product."""
    p = plan_of(spark, "text_remove_dup_spans")
    scans = [rs for rs in p.read_schemas if "text" in rs]
    assert len(scans) == 3, f"expected 3 corpus scans, saw {len(scans)}: {p.read_schemas}"
    assert "InMemoryTableScan" not in p.text
    assert not p.has_cartesian


def test_hamming_star_single_scan_no_join(spark):
    """band_bucket_pairs is a grouped-scan core, not a self-join: the
    star-mode hamming query reads the corpus exactly ONCE (signatures
    computed once — a self-join's two sides canonicalize as separate
    subtrees and re-run the signature pipeline) and plans ZERO joins;
    candidates come from per-bucket array combinatorics."""
    p = plan_of(spark, "dedup_simhash_hamming_star")
    assert len(p.read_schemas) == 1, p.read_schemas
    assert not p.has_cartesian
    assert p.n_sortmerge_joins == 0 and p.n_broadcast_joins == 0


def test_dq_expectations_single_scan(spark):
    """All six expectation rules fold into ONE pass: exactly one
    parquet scan of lineitem, no cartesian, no join."""
    p = plan_of(spark, "dq_expectations")
    assert len(p.read_schemas) == 1, p.read_schemas
    assert not p.has_cartesian
    assert p.n_sortmerge_joins == 0 and p.n_broadcast_joins == 0


def test_ann_ivfpq_index_topk_partition_pruned(spark, tmp_path):
    """The GRADED index-read query (r12): the suite's exact
    construction — ivfpq_index_write then ivfpq_adc_topk over the
    partitionBy(cluster_id) read — must compile its probed-list isin
    filter to PartitionFilters (the n_probe/K file-pruned 100 TB
    probe), not a post-scan filter. The query itself returns the
    materialized top-k, so the plan is read off its lazy probe."""
    from selium_spark.suite import _ivfpq_index_probe

    p = summarize(_ivfpq_index_probe(spark, SF, str(tmp_path / "idx")))
    assert "PartitionFilters" in p.text
    assert "cluster_id" in p.text.split("PartitionFilters", 1)[1][:300]


def test_ann_ivf_index_topk_partition_pruned(spark, tmp_path):
    """The plain-IVF graded index read (r12): the suite construction's
    probed-list isin filter must compile to PartitionFilters on the
    partitionBy(cluster_id) layout (read off the query's lazy probe,
    as above)."""
    from selium_spark.suite import _ivf_index_probe

    p = summarize(_ivf_index_probe(spark, SF, str(tmp_path / "idx")))
    assert "PartitionFilters" in p.text
    assert "cluster_id" in p.text.split("PartitionFilters", 1)[1][:300]


def test_bpe_tokenize_apply_is_narrow(spark):
    """The BPE apply expression (the whole streaming twin's plan) must
    stay a single-scan zero-exchange narrow map — trained rules are
    literal JVM replace expressions, never a UDF or a join. Training's
    word-table jobs run at build time (argmax collects). The batch
    text_bpe_tokenize query switched to the distinct-word counting
    device in r13 (see its own test below); this pins the per-row
    apply the streaming twin still plans."""
    from pyspark.sql import functions as F

    from selium_spark.operators import text
    from selium_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    rules = [("t", "h"), ("th", "e"), ("a", "n")]  # literal stand-ins
    p = summarize(
        docs.select(
            "doc_id",
            F.size(text.bpe_apply("text", rules)).cast("long").alias("n_bpe"),
        )
    )
    assert p.n_exchanges == 0, p.text
    assert len(p.read_schemas) == 1, p.read_schemas
    assert "Python" not in p.text  # no BatchEvalPython / ArrowEval
    assert not p.has_cartesian


def test_bpe_tokenize_counts_via_broadcast_vocab(spark):
    """Batch text_bpe_tokenize (r13): the merge stack runs once per
    DISTINCT word and, at this scale, the planner broadcasts the
    per-word counts back onto the exploded tokens — never a shuffle of
    the corpus keyed on word for the re-attach, no Python nodes, no
    cartesian."""
    p = plan_of(spark, "text_bpe_tokenize")
    assert p.n_broadcast_joins >= 1, p.text
    assert "Python" not in p.text
    assert not p.has_cartesian


def test_bpe_token_counts_join_not_forced_broadcast(spark):
    """The per-word count table is corpus-sublinear, not constant, so
    bpe_token_counts leaves the re-attach join to the planner: with
    broadcasting disabled it must plan no BroadcastHashJoin at all (a
    forced ``F.broadcast`` hint would still plan one)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(spark, "text_bpe_tokenize")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert p.n_broadcast_joins == 0, p.text
    assert p.n_sortmerge_joins >= 1, p.text
