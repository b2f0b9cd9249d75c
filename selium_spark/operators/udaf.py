"""Custom aggregates (UDAF surface, SURVEY §2.6).

The reference's guests can implement arbitrary aggregation logic; the
Spark-native rendering for "an aggregate the engine lacks" is
``groupBy().applyInPandas`` with a one-row-per-group output — Arrow
batches in, vectorized numpy inside, no row-at-a-time Python.

Scale note: applyInPandas shuffles whole groups to single tasks, so
it's for aggregates that genuinely need the group in memory (here:
a distribution over a low-cardinality category column). Anything
decomposable into partials belongs in built-in aggregates instead —
and the decomposable PART of a custom aggregate should still ride
them: grouped_entropy pre-counts (key, category) JVM-side and ships
only the count table to Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stateful import check_buckets


def grouped_entropy(
    df: DataFrame,
    key: str,
    cat_col: str,
    out_col: str = "entropy",
    round_to: int = 6,
    buckets: int | str = "auto",
) -> DataFrame:
    """Shannon entropy (bits) of the per-key category distribution.

    Terms are accumulated in sorted-category order so the double sum is
    deterministic and matches a SQL oracle summing the same ordered
    terms (differences live at 1e-16, far below the 1e-9 gate; rounding
    makes it airtight).

    Plan (r8 rewrite, two layers of the streaming-fold lessons applied
    to the batch UDAF surface):

    - the DECOMPOSABLE part — per-(key, category) counts — runs as a
      built-in map-side-combinable aggregate, so Python receives the
      tiny count table (keys x categories rows), not the raw events;
    - ``buckets`` hashes keys into N applyInPandas groups with a pandas
      groupby inside (the `_bucketed_fold` layout): ONE Python call per
      bucket instead of one per key — the per-group invocation overhead
      was ~75-90% of this operator's wall (3.0 s with one group per key
      -> 0.8 s at sf0.1's 1.5k keys, BASELINE.md r8). ``"auto"`` uses 2x the
      session's default parallelism: BATCH bucketing only needs enough
      groups to keep the cores busy, unlike the streaming heuristic
      (32x) whose bucket count also amortizes per-trigger state
      commits — the sweep at 1.5k keys read 0.77/0.91/1.18 s at
      64/128/256 buckets (fewer calls wins until a bucket's pandas
      frame stops fitting comfortably; raise buckets with corpus
      size). An int pins the count; anything else raises
      ``ValueError`` when the function is called.
    """
    check_buckets(buckets, "buckets")
    # NULL keys ride a separate boolean flag, and _k itself is made
    # non-nullable (coalesce to 0) BEFORE the frame ships to pandas
    # (r10, ADVICE): Arrow converts an int64 column containing nulls to
    # float64 for the whole pandas frame, so any non-null key above
    # 2^53 sharing a bucket with a NULL key would silently round —
    # emitting a WRONG integer key. With the flag the column stays
    # int64 end-to-end and the null-key row is reconstructed from _kn.
    counts = (
        df.groupBy(F.col(key).alias("_k"), F.col(cat_col).alias("_c"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_kn", F.col("_k").isNull())
        .withColumn("_k", F.coalesce(F.col("_k"), F.lit(0).cast("long")))
    )

    if buckets == "auto":
        sc = df.sparkSession.sparkContext
        buckets = max(16, 2 * sc.defaultParallelism)

    out_schema = f"{key} long, n_events long, {out_col} double"

    def entropy_of(g: pd.DataFrame) -> tuple[int, float]:
        g = g.sort_values("_c")
        n = int(g["_n"].sum())
        p = g["_n"].to_numpy(dtype=np.float64) / float(n)
        return n, round(float(-(p * np.log2(p)).sum()), round_to)

    def keys_out(ks: list, nulls: list) -> pd.array:
        # exact int64 values; pd.NA for the null-key group.
        return pd.array(
            [pd.NA if kn else int(k) for k, kn in zip(ks, nulls)],
            dtype="Int64",
        )

    def bucket_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # The (coalesced) key column is NaN-free, but grouping includes
        # _kn so a real key 0 never merges with the NULL-key group.
        ks, kns, ns, es = [], [], [], []
        for (k, kn), g in pdf.groupby(["_k", "_kn"], sort=False):
            n, e = entropy_of(g)
            ks.append(k)
            kns.append(bool(kn))
            ns.append(n)
            es.append(e)
        return pd.DataFrame(
            {
                key: keys_out(ks, kns),
                "n_events": ns,
                out_col: es,
            }
        )

    return (
        counts.withColumn(
            "_b", F.pmod(F.xxhash64("_k", "_kn"), F.lit(buckets))
        )
        .groupBy("_b")
        .applyInPandas(bucket_fn, schema=out_schema)
    )
