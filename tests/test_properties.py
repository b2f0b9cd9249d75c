"""Property-based tests (hypothesis) for operator semantics that have
clean reference models: as-of join vs a brute-force per-row scan,
wrap-around arithmetic vs Python ints, jaccard bounds, LSH soundness
(identical docs always collide)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from selium_spark.sources.generator import LCG_A, LCG_C, lcg_values


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**31), max_value=2**31 - 1), st.integers(1, 20))
def test_lcg_wrap_matches_python_model(seed, n):
    vals = lcg_values(n, seed)
    state = seed
    for i in range(n):
        state = ((state * LCG_A + LCG_C + 2**31) % 2**32) - 2**31
        assert vals[i] == state
        assert -(2**31) <= vals[i] < 2**31


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=8),  # work ts
    st.lists(st.tuples(st.integers(0, 100), st.integers(0, 999)), min_size=0, max_size=6),
)
def test_asof_join_matches_bruteforce(spark_h, work_ts, configs):
    """asof_join == per-row 'latest config with ts <= work.ts'."""
    from pyspark.sql import functions as F

    from selium_spark.operators.relational import asof_join

    spark = spark_h
    # dedupe config timestamps: equal-ts configs have no defined winner
    seen = set()
    configs = [c for c in configs if not (c[0] in seen or seen.add(c[0]))]

    work = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate(work_ts)], "id LONG, ts DOUBLE"
    )
    if configs:
        config = spark.createDataFrame(
            [(float(t), v) for t, v in configs], "ts DOUBLE, val LONG"
        )
    else:
        config = spark.createDataFrame([], "ts DOUBLE, val LONG")

    got = {
        r.id: r.val_asof
        for r in asof_join(work, config, ts="ts", right_cols=["val"]).collect()
    }

    def expected(t):
        eligible = [(ct, v) for ct, v in configs if ct <= t]
        return max(eligible)[1] if eligible else None

    for i, t in enumerate(work_ts):
        assert got[i] == expected(t), (work_ts, configs)
    _ = F


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.text(alphabet="abc ", min_size=1, max_size=30), min_size=2, max_size=2)
)
def test_jaccard_bounds_and_identity(spark_h, texts):
    from pyspark.sql import functions as F

    from selium_spark.operators.dedup import jaccard, ngram_set

    spark = spark_h
    df = spark.createDataFrame([(texts[0], texts[1])], "a STRING, b STRING")
    row = df.select(
        jaccard(ngram_set(F.col("a"), 2), ngram_set(F.col("b"), 2)).alias("j_ab"),
        jaccard(ngram_set(F.col("a"), 2), ngram_set(F.col("a"), 2)).alias("j_aa"),
    ).first()
    assert 0.0 <= row.j_ab <= 1.0
    if texts[0].strip():
        assert row.j_aa == 1.0  # identity for non-empty shingle sets
    else:
        assert row.j_aa == 0.0  # convention: empty vs empty = 0 (greatest(|union|,1))


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet="abcdef ", min_size=5, max_size=60))
def test_lsh_identical_docs_always_candidates(spark_h, text_val):
    from selium_spark.operators.dedup import lsh_candidate_pairs

    spark = spark_h
    df = spark.createDataFrame(
        [(1, text_val), (2, text_val)], "doc_id LONG, text STRING"
    )
    pairs = lsh_candidate_pairs(df, k=8, bands=4).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


# ---------------------------------------------------------------------------
# wasm binary codec + interpreter (no Spark needed)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_uleb_roundtrip(n):
    from selium_spark.functions.wasm_interp import _Reader
    from selium_spark.functions.wasm_modules import _uleb

    assert _Reader(_uleb(n)).uleb() == n


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_sleb_roundtrip(n):
    from selium_spark.functions.wasm_interp import _Reader
    from selium_spark.functions.wasm_modules import _sleb

    assert _Reader(_sleb(n)).sleb() == n


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_wasm_lcg2_wraps_like_model(x):
    from selium_spark.functions.wasm_interp import ScalarWasmFunction
    from selium_spark.functions.wasm_modules import LCG_A, LCG_C, SCALAR_MODULE

    def wrap(v):
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= 1 << 63 else v

    lcg2 = ScalarWasmFunction.from_module(SCALAR_MODULE, "lcg2")
    assert lcg2(x) == wrap(LCG_A * wrap(LCG_A * x + LCG_C) + LCG_C)
    assert -(2**63) <= lcg2(x) <= 2**63 - 1


@given(
    st.lists(st.sampled_from("abc"), min_size=1, max_size=40),
    st.integers(2, 8),
    st.integers(0, 4),
)
@settings(max_examples=15, deadline=None)
def test_chunking_covers_all_tokens_with_exact_overlap(spark, toks, chunk, overlap):
    """Every token appears in some chunk; consecutive chunks share
    exactly the overlap (or less at the tail); stripping the overlap
    reconstructs the document."""
    from selium_spark.operators.packing import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    rows = sorted(
        chunk_documents(df, chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    chunks = [r["chunk_text"].split(" ") for r in rows]
    stride = chunk - overlap
    rebuilt = chunks[0] + [t for c in chunks[1:] for t in c[overlap:]]
    assert rebuilt == toks
    for i, c in enumerate(chunks):
        assert c == toks[i * stride : i * stride + chunk]


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from("xyz")),
        min_size=1,
        max_size=12,
        unique_by=lambda r: r[0],  # unique ts -> total order without tiebreak
    )
)
def test_scd2_matches_bruteforce_runs(spark_h, obs):
    """scd2_history == run-length encoding of the ts-ordered state
    sequence, with each interval closed by the next run's start."""
    import datetime as dt

    from selium_spark.operators.relational import scd2_history

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(hours=t), i, s)
        for i, (t, s) in enumerate(obs)
    ]
    df = spark_h.createDataFrame(rows, "uid LONG, ts TIMESTAMP, eid LONG, state STRING")
    got = sorted(
        (r["valid_from"], r["state"], r["valid_to"])
        for r in scd2_history(df, ["uid"], "ts", "state", "eid").collect()
    )
    ordered = sorted(rows, key=lambda r: r[1])
    runs = []
    for _, ts, _, s in ordered:
        if not runs or runs[-1][1] != s:
            runs.append([ts, s])
    expect = [
        (start, s, runs[j + 1][0] if j + 1 < len(runs) else None)
        for j, (start, s) in enumerate(runs)
    ]
    assert got == sorted(expect)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10 * 86400), st.integers(0, 9999)),
        min_size=1,
        max_size=10,
        unique_by=lambda r: r[0],
    ),
    st.integers(1, 3),
)
def test_rolling_features_match_bruteforce_frames(spark_h, obs, days):
    """rolling_time_features == per-row brute-force scan of the
    trailing [t - days*86400 + 1, t] frame (exact 2-decimal sums)."""
    import datetime as dt

    from selium_spark.operators.windows import rolling_time_features

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec), cents / 100.0)
        for sec, cents in obs
    ]
    df = spark_h.createDataFrame(rows, "uid LONG, ts TIMESTAMP, value DOUBLE")
    out = rolling_time_features(df, "ts", ["uid"], "value", days=days)
    got = {r["ts"]: (r[f"n_{days}d"], r[f"sum_{days}d"]) for r in out.collect()}
    lo = days * 86400 - 1
    for _, ts, _v in rows:
        frame = [c for s2, c in obs if 0 <= (ts - (dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s2))).total_seconds() <= lo]
        assert got[ts][0] == len(frame)
        assert got[ts][1] == sum(frame) / 100.0


@given(
    w=st.integers(min_value=1, max_value=65535),
    h=st.integers(min_value=1, max_value=65535),
    rgb=st.tuples(*[st.integers(0, 255)] * 3),
    orientation=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=60, deadline=None)
def test_image_header_roundtrip_property(w, h, rgb, orientation):
    """synth -> parse round-trips arbitrary dims exactly for both
    container formats. The JPEG fixture is header-only, so its dims
    range over the full 2-byte SOF0 space; the PNG encoder
    materializes w*h pixels, so its dims are capped at 512 (the
    4-byte IHDR field itself is still exercised across the full range
    via a hand-built header below)."""
    import struct
    import zlib

    from selium_spark.operators.multimodal import (
        PNG_SIG,
        jpeg_header,
        png_header,
        synth_jpeg,
        synth_png,
    )

    pw, ph = min(w, 512), min(h, 512)
    assert png_header(synth_png(pw, ph, rgb)) == {
        "kind": "png", "width": pw, "height": ph, "channels": 3, "orientation": 1,
    }
    # full-range IHDR without materializing pixels
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    assert png_header(PNG_SIG + chunk)["width"] == w
    assert jpeg_header(synth_jpeg(w, h, orientation)) == {
        "kind": "jpeg", "width": w, "height": h, "channels": 3,
        "orientation": orientation,
    }


@given(junk=st.binary(max_size=64))
@settings(max_examples=120, deadline=None)
def test_image_header_never_crashes_on_junk(junk):
    """parse_media_header is total over arbitrary byte strings: either
    a well-formed header dict or None, never an exception (a 100 TB
    crawl feeds it adversarial bytes)."""
    from selium_spark.operators.multimodal import parse_media_header

    out = parse_media_header(junk)
    assert out is None or {"kind", "width", "height"} <= set(out)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 3),  # key
                st.integers(0, 5),  # ts inside the batch (ties allowed)
                st.sampled_from(["x", "y", None]),  # state
            ),
            max_size=12,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_scd2_fold_matches_lag_rule_across_batches(batches):
    """streaming_scd2's vectorized fold, fed event-time-ordered batches,
    collapses to the brute-force ``lag`` edge rule of scd2_history
    (null states included), with each run closed by the next one."""
    import pandas as pd

    from selium_spark.operators.stateful import _scd2_fold

    cols = ["_key", "ts_us", "tiebreak", "state"]
    rows, stored, emitted = [], ([], [], [], []), []
    for b, batch in enumerate(batches):
        new = [(k, b * 10 + t, len(rows) + i, s) for i, (k, t, s) in enumerate(batch)]
        rows += new
        pdf = pd.DataFrame(new, columns=cols).astype(
            {"_key": "int64", "ts_us": "int64", "tiebreak": "int64", "state": object}
        )
        out, stored, n_dropped = _scd2_fold(pdf, stored)
        assert n_dropped == 0
        if out is not None:
            emitted += [
                (k, s, vf, None if pd.isna(vt) else vt)
                for k, s, vf, vt in out.itertuples(index=False)
            ]

    want = []
    for key in {r[0] for r in rows}:
        ordered = sorted((r for r in rows if r[0] == key), key=lambda r: r[1:3])
        edges = [
            r for i, r in enumerate(ordered)
            if i == 0 or ordered[i - 1][3] is None
            or (r[3] is not None and r[3] != ordered[i - 1][3])
        ]
        want += [
            (key, e[3], e[1], edges[j + 1][1] if j + 1 < len(edges) else None)
            for j, e in enumerate(edges)
        ]

    def collapse(runs):
        """The readers' collapse: per (key, state, valid_from), the
        smallest valid_to, an open (None) one counting as largest."""
        out = {}
        for k, s, vf, vt in runs:
            vt = float("inf") if vt is None else vt
            out[k, s, vf] = min(out.get((k, s, vf), vt), vt)
        return out

    assert collapse(emitted) == collapse(want)
