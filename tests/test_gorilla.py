"""Gorilla codec round-trip: property tests (numpy level) + Spark
plumbing round-trip + determinism across parallelism."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spartan2_spark.functions import gorilla_codec as C


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=300),
)
@settings(max_examples=60, deadline=None)
def test_ts_roundtrip(deltas):
    ts = np.cumsum(np.array([1_700_000_000] + deltas, dtype=np.int64))
    out = C.decode_ts(C.encode_ts(ts), len(ts))
    np.testing.assert_array_equal(out, ts)


@given(
    st.lists(
        st.floats(allow_nan=False, width=64, allow_infinity=True),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=60, deadline=None)
def test_vals_roundtrip(vals):
    v = np.array(vals, dtype=np.float64)
    out = C.decode_vals(C.encode_vals(v), len(v))
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


def test_regular_series_compresses_well():
    # minute-regular series with slowly-varying values: the Gorilla
    # sweet spot; expect far under 16 bytes/point
    n = 4096
    ts = 1_700_000_000 + 60 * np.arange(n, dtype=np.int64)
    vals = np.round(50 + 10 * np.sin(np.arange(n) / 50), 0)
    tb, vb = C.encode_ts(ts), C.encode_vals(vals)
    bytes_per_point = (len(tb) + len(vb)) / n
    assert bytes_per_point < 4.0
    np.testing.assert_array_equal(C.decode_ts(tb, n), ts)
    np.testing.assert_array_equal(C.decode_vals(vb, n), vals)


def test_spark_roundtrip_and_determinism(spark):
    from spartan2_spark.datagen import synth_pages
    from spartan2_spark.operators import gorilla as GO
    from spartan2_spark.operators import rollup as R

    pages = synth_pages(spark, 4000, n_urls=30, days=2)
    view = R.tier_view(R.rollup_from_points(R.raw_points(pages), "1h"))

    crcs = []
    for nparts in (2, 13):
        blocks = GO.encode_tier_blocks(view.repartition(nparts), "1h")
        pdf = blocks.toPandas().sort_values(["url", "start_ts"], ignore_index=True)
        crcs.append(pdf[["url", "n_points", "crc32"]])
    pd.testing.assert_frame_equal(crcs[0], crcs[1])

    blocks = GO.encode_tier_blocks(view, "1h")
    decoded = GO.decode_blocks(blocks).toPandas()
    orig = view.select(
        "url",
        (view.bucket_ts.cast("long")).alias("ts"),
        view.vmean.alias("value"),
    ).toPandas()
    a = decoded[["url", "ts", "value"]].sort_values(["url", "ts"], ignore_index=True)
    b = orig.sort_values(["url", "ts"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_crc_detects_corruption(spark):
    import pyspark

    from spartan2_spark.operators import gorilla as GO

    pdf = pd.DataFrame(
        {
            "url": ["u"],
            "tier": ["1h"],
            "start_ts": [0],
            "end_ts": [60],
            "n_points": [2],
            "ts_block": [C.encode_ts(np.array([0, 60]))],
            "val_block": [C.encode_vals(np.array([1.0, 2.0]))],
            "crc32": [12345],  # wrong on purpose
        }
    )
    from spartan2_spark.schemas import GORILLA_BLOCKS

    blocks = spark.createDataFrame(pdf, GORILLA_BLOCKS)
    with pytest.raises(Exception, match="CRC mismatch|PythonException"):
        GO.decode_blocks(blocks).collect()


def test_vals_roundtrip_pathological_bit_patterns():
    """nan (several payloads), +-inf, +-0, denormals — the codec is
    pure bit-XOR so every float64 bit pattern must survive exactly."""
    pats = np.array(
        [
            0x7FF8000000000001,  # nan with payload
            0xFFF8000000000000,  # -nan
            0x7FF0000000000000,  # +inf
            0xFFF0000000000000,  # -inf
            0x0000000000000000,  # +0
            0x8000000000000000,  # -0
            0x0000000000000001,  # smallest denormal
            0x000FFFFFFFFFFFFF,  # largest denormal
            0x7FEFFFFFFFFFFFFF,  # largest finite
        ],
        dtype=np.uint64,
    ).view(np.float64)
    out = C.decode_vals(C.encode_vals(pats), len(pats))
    np.testing.assert_array_equal(out.view(np.uint64), pats.view(np.uint64))


def test_read_points_prunes_blocks_and_trims_exactly(spark):
    from spartan2_spark.datagen import synth_pages
    from spartan2_spark.operators import gorilla as GO
    from spartan2_spark.operators import rollup as R
    from pyspark.sql import functions as F

    pages = synth_pages(spark, 4000, n_urls=30, days=4)
    view = R.tier_view(R.rollup_from_points(R.raw_points(pages), "1h"))
    # small blocks so the time range splits across several per url
    blocks = GO.encode_tier_blocks(view, "1h", max_points=8)

    lo = view.agg(F.min(F.col("bucket_ts").cast("long"))).first()[0]
    hi = view.agg(F.max(F.col("bucket_ts").cast("long"))).first()[0]
    t0, t1 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3

    got = GO.read_points(blocks, t0=t0, t1=t1).toPandas()
    want = (
        view.select(
            "url",
            F.col("bucket_ts").cast("long").alias("ts"),
            F.col("vmean").alias("value"),
        )
        .filter((F.col("ts") >= t0) & (F.col("ts") <= t1))
        .toPandas()
    )
    a = got[["url", "ts", "value"]].sort_values(["url", "ts"], ignore_index=True)
    b = want.sort_values(["url", "ts"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)

    # pruning must actually drop non-overlapping blocks before decode
    total = blocks.count()
    survived = blocks.filter(
        (F.col("end_ts") >= t0) & (F.col("start_ts") <= t1)
    ).count()
    assert 0 < survived < total

    # url filter: list form and semi-join form agree
    urls = [r.url for r in blocks.select("url").distinct().limit(3).collect()]
    by_list = GO.read_points(blocks, t0=t0, t1=t1, urls=urls)
    url_df = spark.createDataFrame([(u,) for u in urls], "url string")
    by_join = GO.read_points(blocks, t0=t0, t1=t1, urls=url_df)
    assert sorted(map(tuple, by_list.collect())) == sorted(
        map(tuple, by_join.collect())
    )
    assert by_list.select("url").distinct().count() == len(urls)


@given(
    st.lists(
        st.integers(min_value=1, max_value=40), min_size=1, max_size=40
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_multi_encoder_matches_per_slice(sizes, rnd):
    """encode_*_multi over concatenated series == per-slice single-series
    encoding, byte for byte — the whole-batch block-encode contract.
    Mixes size-1 series, dod==0 runs, every dod class (incl. the 64-bit
    c4 escape) and zero/nonzero XOR values across segment boundaries."""
    delta_pool = [0, 1, 60, 64, 65, 256, 257, 2048, 2049, 10**7]
    val_pool = [1.5, 1.5, 0.0, 2.25, -3.7, 1e300, float(np.pi)]
    segs_ts, segs_v = [], []
    for n in sizes:
        base = rnd.randrange(0, 2**40)
        ds = [rnd.choice(delta_pool) for _ in range(n - 1)]
        segs_ts.append(
            np.cumsum(np.array([base] + ds, dtype=np.int64))
        )
        segs_v.append(
            np.array([rnd.choice(val_pool) for _ in range(n)], dtype=np.float64)
        )
    cat_ts = np.concatenate(segs_ts)
    cat_v = np.concatenate(segs_v)
    starts = np.cumsum([0] + [len(s) for s in segs_ts[:-1]])
    multi_t = C.encode_ts_multi(cat_ts, starts)
    multi_v = C.encode_vals_multi(cat_v, starts)
    for i, (t, v) in enumerate(zip(segs_ts, segs_v)):
        assert multi_t[i] == C.encode_ts(t)
        assert multi_v[i] == C.encode_vals(v)
        assert np.array_equal(C.decode_ts(multi_t[i], len(t)), t)
        assert np.array_equal(
            C.decode_vals(multi_v[i], len(v)).view(np.uint64),
            v.view(np.uint64),
        )


def test_multi_encoder_empty_and_single():
    assert C.encode_ts_multi(np.empty(0, np.int64), np.empty(0, np.int64)) == []
    assert C.encode_ts(np.empty(0, np.int64)) == b""
    assert C.encode_vals(np.empty(0, np.float64)) == b""
    one = C.encode_ts_multi(np.array([7], dtype=np.int64), np.array([0]))
    assert one == [np.array([7], dtype=np.int64).astype(">i8").tobytes()]


def test_vectorized_decoder_matches_sequential():
    """decode_*_multi (lane-parallel) == the sequential bit readers on
    mixed-size blocks covering every dod class and XOR shape."""
    rnd = np.random.default_rng(11)
    bufs_t, bufs_v, ns, ref_t, ref_v = [], [], [], [], []
    for _ in range(120):
        n = int(rnd.choice([1, 2, 3, 24, 257]))
        base = int(rnd.integers(0, 2**40))
        ds = rnd.choice(
            [0, 1, 60, 64, 65, 256, 257, 2048, 2049, 10**7], size=max(n - 1, 0)
        )
        ts = np.cumsum(np.concatenate(([base], ds))).astype(np.int64)[:n]
        v = rnd.choice([1.5, 1.5, 0.0, 2.25, -3.7, 1e300, np.pi], size=n)
        bufs_t.append(C.encode_ts(ts))
        bufs_v.append(C.encode_vals(v))
        ns.append(n)
        ref_t.append(ts)
        ref_v.append(v.astype(np.float64))
    ns = np.array(ns)
    dt = C.decode_ts_multi(bufs_t, ns)
    dv = C.decode_vals_multi(bufs_v, ns)
    o = 0
    for i, n in enumerate(ns):
        assert np.array_equal(dt[o : o + n], ref_t[i])
        assert np.array_equal(
            dv[o : o + n].view(np.uint64), ref_v[i].view(np.uint64)
        )
        assert np.array_equal(C._decode_ts_seq(bufs_t[i], n), ref_t[i])
        assert np.array_equal(
            C._decode_vals_seq(bufs_v[i], n).view(np.uint64),
            ref_v[i].view(np.uint64),
        )
        o += n


@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=0, max_size=60),
    st.integers(min_value=1, max_value=500),
)
@settings(max_examples=200, deadline=None)
def test_pass_cuts_cover_every_block_once_within_cap(sizes, cap):
    """Decode passes partition the blocks in order, and no pass exceeds
    the byte cap unless it is one block that alone does."""
    from spartan2_spark.operators.gorilla import _pass_cuts

    cuts = _pass_cuts(sizes, cap)
    assert cuts[0] == 0 and cuts[-1] == len(sizes)
    passes = list(zip(cuts[:-1], cuts[1:]))
    covered = [i for a, b in passes for i in range(a, b)]
    assert covered == list(range(len(sizes)))
    for a, b in passes:
        assert b > a or not sizes
        assert sum(sizes[a:b]) <= cap or b - a == 1


def test_dod_bitwidth_stats_regular_grid_is_one_bit(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.gorilla import dod_bitwidth_stats

    # perfectly regular 1m grid -> every dod = 0 -> 1 bit/point
    t0 = datetime(2024, 1, 1)
    rows = [("u", t0 + timedelta(minutes=i)) for i in range(20)]
    df = spark.createDataFrame(rows, "url string, bucket_ts timestamp")
    r = dod_bitwidth_stats(df).collect()[0]
    assert r.n_dod == 18 and r.c_zero == 18
    assert r.bits_total == 18 and r.bits_per_point == 1.0


def test_dod_bitwidth_stats_class_boundaries(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.gorilla import dod_bitwidth_stats

    # deltas 60, 124, 60: dods are +64 (7-bit class edge) and -64
    # (also 7-bit: range is [-63,64]? no — -64 < -63 -> 9-bit class)
    t0 = datetime(2024, 1, 1)
    secs = [0, 60, 184, 244]
    rows = [("u", t0 + timedelta(seconds=s)) for s in secs]
    df = spark.createDataFrame(rows, "url string, bucket_ts timestamp")
    r = dod_bitwidth_stats(df).collect()[0]
    assert r.n_dod == 2
    assert r.c_7b == 1 and r.c_9b == 1
    assert r.bits_total == 9 + 12


def test_xor_bitwidth_stats_constant_series_is_one_bit(spark):
    """A constant value stream XORs to all-zero: every point is the
    1-bit '0' fast path, bits/point == 1."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.gorilla import xor_bitwidth_stats

    t0 = datetime(2024, 1, 1)
    rows = [("u", t0 + timedelta(minutes=i), 777) for i in range(10)]
    df = spark.createDataFrame(rows, "url string, bucket_ts timestamp, value long")
    r = xor_bitwidth_stats(df).collect()[0]
    assert r.n_xor == 9
    assert r.c_zero == 9
    assert r.mbits_total == 0
    assert r.bits_total == 9
    assert r.bits_per_point == 1.0


def test_xor_bitwidth_stats_known_windows(spark):
    """Hand-computed XOR windows: 0b1000 -> 0b1010 XORs to 0b0010
    (62 leading + 1 trailing zero -> 1 meaningful bit), and a sign flip
    makes the XOR negative (two's complement, lead=0)."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.gorilla import xor_bitwidth_stats

    t0 = datetime(2024, 1, 1)
    vals = [8, 10, -10]
    rows = [("u", t0 + timedelta(minutes=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "url string, bucket_ts timestamp, value long")
    r = xor_bitwidth_stats(df).collect()[0]
    # 8^10 = 2: bin '10', lead 62, trail 1 -> mbits 1, bits 13+1
    # 10^-10 = -4 (two's complement ...11100): lead 0, trail 2 -> mbits 62
    assert r.n_xor == 2
    assert r.c_zero == 0
    assert r.max_mbits == 62
    assert r.mbits_total == 63
    assert r.bits_total == (13 + 1) + (13 + 62)


_DAY = 86_400


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_read_points_date_pruning_matches_unpruned(spark, block_store):
    """Reads over a dt-partitioned block table return exactly what the
    same table without ``dt`` (the unpruned plan) returns, at the day
    edges of the date bound."""
    from pyspark.sql import functions as F

    from spartan2_spark.operators import gorilla as GO

    blocks = spark.read.parquet(block_store)
    ref = blocks.drop("dt")
    lo, hi = blocks.agg(F.min("start_ts"), F.max("end_ts")).first()
    day1 = (lo // _DAY + 1) * _DAY  # the second stored day's midnight
    some_ts = GO.read_points(blocks).agg(F.max("ts")).first()[0]
    cases = [
        (day1, None),  # t0 exactly at a UTC midnight
        (None, day1 - 1),  # t1 one second before a midnight
        (day1 - 3600, day1),  # t1 exactly at a midnight
        (day1, day1),  # t0 == t1 at a midnight
        (day1, day1 + _DAY - 1),  # exactly one day
        (some_ts, some_ts),  # t0 == t1 on a stored point
        (day1 - 5 * 3600, day1 + 5 * 3600),  # spans two days
        (day1 + 3600, None),
        (None, day1 + 3600),
    ]
    for t0, t1 in cases:
        got = _sorted_rows(GO.read_points(blocks, t0=t0, t1=t1))
        want = _sorted_rows(GO.read_points(ref, t0=t0, t1=t1))
        assert got == want and got, (t0, t1)
    urls = [r.url for r in blocks.select("url").distinct().limit(2).collect()]
    assert _sorted_rows(
        GO.read_points(blocks, t0=day1, t1=day1 + _DAY - 1, urls=urls)
    ) == _sorted_rows(GO.read_points(ref, t0=day1, t1=day1 + _DAY - 1, urls=urls))
    # a range outside the stored days returns nothing on either side
    for t0, t1 in [(hi + 10 * _DAY, hi + 11 * _DAY), (lo - 3 * _DAY, lo - 1)]:
        assert GO.read_points(blocks, t0=t0, t1=t1).count() == 0
        assert GO.read_points(ref, t0=t0, t1=t1).count() == 0


def test_read_points_date_prune_ignores_session_timezone(spark, block_store):
    """Day bounds are epoch-second floor divisions: a session outside
    UTC prunes to the same single date and returns the same points."""
    from spartan2_spark.operators import gorilla as GO

    blocks = spark.read.parquet(block_store)
    lo = blocks.agg({"start_ts": "min"}).first()[0]
    t0 = (lo // _DAY + 1) * _DAY
    want = _sorted_rows(GO.read_points(blocks, t0=t0, t1=t0 + _DAY - 1))
    tz = spark.conf.get("spark.sql.session.timeZone")
    for zone in ("America/Los_Angeles", "Asia/Kolkata"):
        spark.conf.set("spark.sql.session.timeZone", zone)
        try:
            out = GO.read_points(blocks, t0=t0, t1=t0 + _DAY - 1)
            assert out.rdd.getNumPartitions() == 1, zone
            assert _sorted_rows(out) == want, zone
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz)


def test_read_points_guard_fails_on_the_action(spark, block_store):
    """A block table whose dt is not the day of its blocks raises when
    the read runs; building the read starts no job."""
    from pyspark.sql import functions as F

    from spartan2_spark.operators import gorilla as GO

    blocks = spark.read.parquet(block_store)
    lo, hi = blocks.agg(F.min("start_ts"), F.max("end_ts")).first()
    shifted = blocks.withColumn("dt", F.date_add("dt", 1))
    sc = spark.sparkContext
    sc.setJobGroup("read-points-guard", "construct only")
    try:
        bad = GO.read_points(shifted, t0=lo, t1=hi)
        assert sc.statusTracker().getJobIdsForGroup("read-points-guard") == []
    finally:
        sc.setJobGroup("", "")
    with pytest.raises(Exception, match="is not inside its dt"):
        bad.collect()


def test_pipeline_blocks_lie_inside_their_dt_day(spark, block_store):
    """The rule date pruning relies on holds for a pipeline-built store:
    every blocks_1h row starts and ends on its dt's UTC day."""
    from pyspark.sql import functions as F

    blocks = spark.read.parquet(block_store)
    day = F.unix_date("dt")
    outside = blocks.filter(
        (F.floor(F.col("start_ts") / _DAY) != day)
        | (F.floor(F.col("end_ts") / _DAY) != day)
    )
    assert blocks.select("dt").distinct().count() == 3
    assert outside.count() == 0
