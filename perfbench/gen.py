"""Seeded input generators for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
with the same parquet schema (one row group per file) as the
repository's TPC-H-ish test tables (TESTDATA.md), so ``suite.QUERIES[name](spark, dir)`` and the
DuckDB oracles in ``suite.ORACLES`` run unchanged on the result. The
same seed gives byte-identical inputs.

Two generators:

- :func:`write_star` — the ten star-schema tables at a scale factor.
- :func:`event_batch` — one file's worth of events for the open-loop
  stream generator (``stream_open``): Zipf ``user_id``, the star
  ``event_type`` mix, and a share of rows written out of order inside
  the file's own event-time slice.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_SOURCES = 20
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
# 1995-01-01 / 2024-01-01 as microseconds since the epoch
_EPOCH_1995_US = 788_918_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000

STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _write(path: str, table: pa.Table) -> None:
    # one row group per file, like the test tables: scan parallelism
    # is part of what the benchmark measures
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    return pa.array(start_us + rng.integers(0, n_days, n) * _US_PER_DAY, pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[at : at + k]))
        at += k
    return out


def _embeddings(rng: np.random.Generator, n: int) -> pa.Array:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32()),
        pa.array(v.ravel(), pa.float32()),
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, n)
    # near duplicates: 5% of docs repeat an earlier doc's text plus one
    # marker word, so every cluster is a pair (exact replicas would make
    # N-way clusters whose LSH candidate pairs grow with N^2)
    near = rng.random(n) < 0.05
    base = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.flatnonzero(near[1:]) + 1:
        texts[i] = texts[base[i]] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _vectors(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": _embeddings(rng, n),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_star(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten star-schema tables at scale ``sf``; returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    n_users = int(15_000 * sf)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": _pick(rng, [f"{a} {b}" for a in P_ADJ for b in P_NOUN], n_part),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(rng, P_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, _EPOCH_1995_US, 2404, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["N", "R", "A"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, _EPOCH_1995_US + _US_PER_DAY, 2499, n_line),
            }
        ),
        "events": _events_table(
            np.arange(n_ev),
            np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _US_PER_DAY, n_ev)),
            rng.integers(0, n_users, n_ev),
            rng,
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _vectors(rng, n_vecs),
    }
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
    return {name: t.num_rows for name, t in tables.items()}


def _events_table(
    event_id: np.ndarray, ts_us: np.ndarray, user_id: np.ndarray, rng: np.random.Generator
) -> pa.Table:
    n = len(event_id)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        },
        schema=EVENTS_SCHEMA,
    )


def event_batch(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    t0_us: int,
    span_us: int,
    n_users: int,
    zipf_a: float,
    late_share: float,
) -> pa.Table:
    """One stream file: ``n`` events whose event time lies in
    ``[t0_us, t0_us + span_us)``. Rows are time-ordered except a
    ``late_share`` of them, which are moved to the end of the file —
    they arrive after newer events but stay inside this file's slice,
    so no event is later than the watermark of any micro-batch split."""
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    users = (rng.zipf(zipf_a, n) - 1) % n_users
    table = _events_table(np.arange(first_id, first_id + n), ts, users, rng)
    late = rng.random(n) < late_share
    order = np.concatenate([np.flatnonzero(~late), np.flatnonzero(late)])
    return table.take(pa.array(order))


def write_events(path: str, table: pa.Table) -> None:
    _write(path, table)
