from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spartan2_spark.functions.resample import fourier_resample
from spartan2_spark.operators import timeseries as TS


# ---------------- Fourier resample kernel (numpy level)


def test_resample_identity():
    x = np.sin(np.arange(100) / 7.0)
    np.testing.assert_allclose(fourier_resample(x, 100), x, atol=1e-12)


def test_resample_sinusoid_exact():
    # a bandlimited signal resampled up then back must be preserved
    n, k = 64, 3
    t = np.arange(n) / n
    x = np.sin(2 * np.pi * k * t)
    up = fourier_resample(x, 4 * n)
    t_up = np.arange(4 * n) / (4 * n)
    np.testing.assert_allclose(up, np.sin(2 * np.pi * k * t_up), atol=1e-9)
    back = fourier_resample(up, n)
    np.testing.assert_allclose(back, x, atol=1e-9)


def test_resample_preserves_mean():
    rng = np.random.default_rng(7)
    x = rng.standard_normal(101)
    for num in (50, 37, 202):
        y = fourier_resample(x, num)
        assert abs(y.mean() - x.mean()) < 1e-9


def test_resample_even_downsample_real():
    rng = np.random.default_rng(3)
    x = rng.standard_normal(64)
    y = fourier_resample(x, 16)
    assert y.dtype == np.float64 and len(y) == 16


# ---------------- Spark-level ops


@pytest.fixture(scope="module")
def series_df(spark):
    n = 360
    t = np.arange(n) / 10.0
    pdf = pd.DataFrame(
        {
            "key": ["a"] * n + ["b"] * n,
            "ts": np.concatenate([t, t]),
            "value": np.concatenate(
                [np.sin(2 * np.pi * t / 4.0), 2 + np.cos(2 * np.pi * t / 6.0)]
            ),
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_spark_resample(spark, series_df):
    df, pdf = series_df
    out = TS.resample(df, new_freq=5.0, old_freq=10.0).toPandas()
    assert set(out["key"]) == {"a", "b"}
    a = out[out.key == "a"].sort_values("ts")
    assert len(a) == 180
    want = fourier_resample(
        pdf[pdf.key == "a"].sort_values("ts")["value"].to_numpy(), 180
    )
    np.testing.assert_allclose(a["value"].to_numpy(), want, atol=1e-12)
    # re-synthesized axis: start + k/freq
    np.testing.assert_allclose(a["ts"].to_numpy(), np.arange(180) / 5.0, atol=1e-12)


def test_normalize_cut_extract(spark, series_df):
    df, _ = series_df
    norm = TS.normalize_minmax(df).toPandas()
    g = norm.groupby("key")["value"]
    np.testing.assert_allclose(g.max().to_numpy(), [1.0, 1.0], atol=1e-12)
    np.testing.assert_allclose(g.min().to_numpy(), [-1.0, -1.0], atol=1e-12)

    cut_t = TS.cut(df, start=1.0, end=2.0).toPandas()
    assert ((cut_t.ts >= 1.0) & (cut_t.ts < 2.0)).all()
    cut_p = TS.cut(df, start=0, end=10, form="point").toPandas()
    assert len(cut_p) == 20  # 10 points per key

    ext = TS.extract(df, ["value"])
    assert ext.columns == ["key", "ts", "value"]


def test_concat_combine(spark, series_df):
    df, _ = series_df
    c = TS.concat_series(df, df)
    assert c.count() == df.count() * 2
    with pytest.raises(ValueError):
        TS.concat_series(df, df.withColumnRenamed("value", "other"))
    comb = TS.combine_series(df, df)
    assert set(comb.columns) == {"key", "ts", "value_1", "value_2"}


def test_infer_freq_and_aggts(spark, series_df):
    df, _ = series_df
    f = {r["key"]: r["freq"] for r in TS.infer_freq(df).collect()}
    np.testing.assert_allclose(f["a"], 360 / 35.9, rtol=1e-9)
    agg = TS.to_aggts(df).toPandas()
    assert all(len(x) == 360 for x in agg["aggts"])
    assert all(list(x) == sorted(x) for x in agg["aggts"])


def test_iat(spark):
    pdf = pd.DataFrame(
        {"key": ["u"] * 4 + ["v"] * 3, "ts": [0.0, 1.0, 3.0, 6.0, 10.0, 11.0, 13.0]}
    )
    df = spark.createDataFrame(pdf)
    d = TS.iat_diffs(df).toPandas().sort_values(["key", "ts"])
    assert d["iat"].tolist() == [1.0, 2.0, 3.0, 1.0, 2.0]
    cnt = {r["iat"]: (r["cnt"], r["prob"]) for r in TS.iat_count(df).collect()}
    assert cnt[1.0] == (2, 0.4) and cnt[2.0] == (2, 0.4) and cnt[3.0] == (1, 0.2)
    pairs = {
        (r["iat"], r["iat_next"]): r["cnt"] for r in TS.iat_pair_count(df).collect()
    }
    assert pairs == {(1.0, 2.0): 2, (2.0, 3.0): 1}


def test_paa_sax_planted(spark):
    # 8 points, 4 segments of 2: means 1.5, 3.5, 10.5, 0.5
    rows = [(1, float(t), float(v)) for t, v in enumerate([1, 2, 3, 4, 10, 11, 0, 1])]
    df = spark.createDataFrame(rows, "key long, ts double, value double")
    from spartan2_spark.operators.timeseries import paa, sax_symbols, autocorr_lag

    p = paa(df, 4).toPandas().sort_values("segment")
    assert p["paa_mean"].tolist() == [1.5, 3.5, 10.5, 0.5]
    assert p["n_points"].tolist() == [2, 2, 2, 2]
    w = sax_symbols(paa(df, 4), breakpoints=(1.0, 4.0, 10.0)).collect()[0]
    # 1.5 -> b, 3.5 -> b, 10.5 -> d, 0.5 -> a
    assert w.sax_word == "bbda" and w.n_segments == 4

    ac = autocorr_lag(df, lag=1).collect()[0]
    xs = [1, 2, 3, 4, 10, 11, 0, 1]
    want = sum(a * b for a, b in zip(xs, xs[1:]))
    assert ac.n_pairs == 7 and ac.sum_xy == want * 10000
    assert abs(ac.lag_moment - want / 7) < 1e-9


def test_asof_join_semantics(spark):
    from spartan2_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 5.0, 100), (1, 10.0, 101), (1, 10.5, 102), (2, 3.0, 103)],
        "key long, ts double, event_id long",
    )
    right = spark.createDataFrame(
        [(1, 4.0, 40.0), (1, 10.0, 99.0), (2, 7.0, 7.0)],
        "key long, ts double, quote double",
    )
    out = {r.event_id: r for r in asof_join(left, right, value_cols=("quote",)).collect()}
    assert out[100].quote_asof == 40.0 and out[100].ts_asof == 4.0
    # inclusive on ties: ts=10 matches the quote AT 10
    assert out[101].quote_asof == 99.0 and out[101].ts_asof == 10.0
    assert out[102].quote_asof == 99.0
    # key 2: left ts=3 precedes the only quote (7) -> nulls
    assert out[103].quote_asof is None and out[103].ts_asof is None
    # row count preserved, all left columns intact
    assert len(out) == 4


def test_lttb_parallel_keeps_spike_and_endpoints(spark):
    from spartan2_spark.operators.timeseries import lttb_parallel
    import datetime as dt

    # 40 flat samples with one spike at p=22 (bucket 2 of 4); LTTB must
    # keep the spike, and the first/last buckets keep their endpoints
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(seconds=10 * i), 100.0 if i == 22 else 5.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp, value double")
    out = {r.bucket: r for r in lttb_parallel(df, 4).collect()}
    assert len(out) == 4
    assert out[0].p == 0          # first bucket -> first sample
    assert out[3].p == 39         # last bucket -> last sample
    assert out[2].p == 22 and out[2].y == 10000  # spike wins its bucket
    # deterministic at any parallelism (bit-exact integer/IEEE path)
    out2 = {r.bucket: r for r in lttb_parallel(df.repartition(7), 4).collect()}
    assert {b: (r.p, r.y, r.area) for b, r in out.items()} == {
        b: (r.p, r.y, r.area) for b, r in out2.items()
    }


def test_interval_join_containment(spark):
    import datetime as dt

    from spartan2_spark.operators.timeseries import interval_join

    t0 = dt.datetime(2026, 1, 1)
    pts = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=s), s) for s in (0, 100, 599, 600, 601, 5000)],
        "key long, ts timestamp, pid long",
    )
    iv = spark.createDataFrame(
        [
            (1, t0, t0 + dt.timedelta(seconds=600), 10),
            (1, t0 + dt.timedelta(seconds=4000), t0 + dt.timedelta(seconds=6000), 11),
            (2, t0, t0 + dt.timedelta(seconds=9999), 12),  # other key
        ],
        "key long, start timestamp, end timestamp, iid long",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(pts, iv, grain_seconds=600).collect()
    )
    # end-inclusive: 600 in; 601 out; key isolation: iid 12 matches nothing
    assert got == [(0, 10), (100, 10), (599, 10), (600, 10), (5000, 11)]
    # grain much smaller than the interval still finds the same matches
    got2 = sorted(
        (r.pid, r.iid)
        for r in interval_join(pts, iv, grain_seconds=7).collect()
    )
    assert got2 == got


def test_rolling_and_ewma_planted(spark):
    from spartan2_spark.operators.timeseries import ewma_dyadic, rolling_stats

    rows = [(1, float(t), float(v)) for t, v in enumerate([1, 2, 3, 4, 5])]
    df = spark.createDataFrame(rows, "key long, ts double, value double")
    rs = {r.ts: r for r in rolling_stats(df, 3).collect()}
    assert rs[0.0].w_n == 1 and rs[0.0].w_sum == 100
    assert rs[2.0].w_n == 3 and rs[2.0].w_sum == 600 and rs[2.0].w_mean == 2.0
    assert rs[4.0].w_sum == 1200 and rs[4.0].w_min == 300 and rs[4.0].w_max == 500
    # population variance of {3,4,5} = 2/3 (exact integer numerator)
    assert abs(rs[4.0].w_var - 2 / 3) < 1e-12
    ew = {r.ts: r.ewma_centi for r in ewma_dyadic(df, 4).collect()}
    # t=3: 400 + 300>>1 + 200>>2 + 100>>3 = 400+150+50+12 = 612
    assert ew[3.0] == 612
    assert ew[0.0] == 100


def test_cusum_matches_sequential_recurrence(spark):
    from spartan2_spark.operators.timeseries import cusum_drift

    rows = [(1, float(t), 5.0 if t < 5 else 8.0) for t in range(10)]
    df = spark.createDataFrame(rows, "key long, ts double, value double")
    got = {r.ts: (r.cusum, r.alarm)
           for r in cusum_drift(df, target=5.5, threshold=4.0).collect()}
    s = 0.0
    for t in range(10):
        x = 5.0 if t < 5 else 8.0
        s = max(0.0, s + (x - 5.5))
        assert abs(got[float(t)][0] - s) < 1e-9
        assert got[float(t)][1] == (1 if s > 4.0 else 0)


def test_haar_coeffs_reconstruct(spark):
    from spartan2_spark.operators.timeseries import haar_coeffs

    # 8 points -> 4 leaves of 2: leaf sums [3, 7, 11, 15] (centi x100)
    rows = [(1, float(t), float(v)) for t, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8])]
    df = spark.createDataFrame(rows, "key long, ts double, value double")
    got = {(r.level, r.idx): r.coeff for r in haar_coeffs(df, 4).collect()}
    assert got[(0, 0)] == 3600                    # total sum
    assert got[(1, 0)] == (300 + 700) - (1100 + 1500)
    assert got[(2, 0)] == 300 - 700 and got[(2, 1)] == 1100 - 1500
    # perfect reconstruction of leaf sums from the coefficients
    leaf0 = (got[(0, 0)] + got[(1, 0)]) // 2      # left half sum
    assert (leaf0 + got[(2, 0)]) // 2 == 300


def test_seasonal_profile_exact(spark):
    import datetime as dt

    from spartan2_spark.operators.timeseries import seasonal_profile

    rows = [
        ("a", dt.datetime(2024, 1, 1, 9, 0), 1.0),
        ("a", dt.datetime(2024, 1, 2, 9, 30), 2.0),
        ("a", dt.datetime(2024, 1, 1, 10, 0), 5.0),
        ("b", dt.datetime(2024, 1, 1, 9, 15), 7.5),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    out = {(r["key"], r["hod"]): (r["n"], r["mean_value"])
           for r in seasonal_profile(df).collect()}
    assert out[("a", 9)] == (2, 1.5)
    assert out[("a", 10)] == (1, 5.0)
    assert out[("b", 9)] == (1, 7.5)


def test_m4_downsample_extremes_and_edges(spark):
    import datetime as dt

    from spartan2_spark.operators.timeseries import m4_downsample

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(seconds=i), float(v), i)
            for i, v in enumerate([5, 1, 9, 3, 2, 8, 4, 7])]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double, event_id long")
    out = {r["bucket"]: r for r in m4_downsample(df, width=2).collect()}
    b0, b1 = out[0], out[1]
    assert (b0["min_v"], b0["max_v"], b0["first_v"], b0["last_v"]) == (1.0, 9.0, 5.0, 3.0)
    assert (b1["min_v"], b1["max_v"], b1["first_v"], b1["last_v"]) == (2.0, 8.0, 2.0, 7.0)
    assert b0["n"] == 4 and b1["n"] == 4


def test_stl_seasonal_constant_series_zero(spark):
    import datetime as dt

    from spartan2_spark.operators.timeseries import stl_seasonal

    # pure linear trend -> interior residuals are exactly 0
    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=i), 10.0 + i, i) for i in range(12)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double, event_id long")
    out = stl_seasonal(df, trend_window=5).collect()
    assert all(r["seasonal"] == 0.0 for r in out)
    # seasonal bump at one hour survives detrending with nonzero sign
    rows2 = [("b", t0 + dt.timedelta(hours=i),
              100.0 if i % 24 == 6 else 10.0, i) for i in range(48)]
    df2 = spark.createDataFrame(rows2, "key string, ts timestamp, value double, event_id long")
    out2 = {r["hod"]: r["seasonal"] for r in stl_seasonal(df2, trend_window=5).collect()}
    assert out2[6] > 50


def test_linear_trend_recovers_planted_slope(spark):
    from spartan2_spark.operators.timeseries import linear_trend

    # key 1: y = 2.5x + 7 exactly; key 2: constant; key 3: single point
    rows = [(1, float(t), 7.0 + 2.5 * t) for t in range(10)]
    rows += [(2, float(t), 4.0) for t in range(5)]
    rows += [(3, 0.0, 9.0)]
    df = spark.createDataFrame(rows, "key long, ts double, value double")
    got = {r.key: r for r in linear_trend(df).collect()}
    assert abs(got[1].slope - 2.5) < 1e-12
    assert abs(got[1].intercept - 7.0) < 1e-12
    assert got[2].slope == 0.0 and abs(got[2].intercept - 4.0) < 1e-12
    # degenerate denominator -> NULL, not a crash or a wrong 0
    assert got[3].slope is None and got[3].intercept is None


def test_mad_outliers_planted(spark):
    from spartan2_spark.operators.anomaly import mad_outliers

    # 9 inliers around 10.0 (MAD ~ 0.2) + one gross outlier at 100
    vals = [9.8, 9.9, 9.9, 10.0, 10.0, 10.1, 10.1, 10.2, 10.3, 100.0]
    df = spark.createDataFrame(
        [(1, float(i), v) for i, v in enumerate(vals)],
        "key long, ts double, value double",
    )
    r = mad_outliers(df).collect()[0]
    assert r.n == 10
    assert abs(r.median - 10.05) < 1e-12  # midpoint of 10.0, 10.1
    assert r.n_outliers == 1
    # constant series: MAD 0 -> nothing beats a zero threshold strictly
    dfc = spark.createDataFrame(
        [(2, float(i), 5.0) for i in range(6)],
        "key long, ts double, value double",
    )
    rc = mad_outliers(dfc).collect()[0]
    assert rc.mad == 0.0 and rc.n_outliers == 0


def test_cross_correlogram_planted_lag(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import cross_correlogram

    # b-events fire exactly 2 minutes after every a-event: the lag-2
    # moments must show the perfect alignment, lag-0 must not
    t0 = datetime(2024, 1, 1)
    rows = []
    for i in [0, 3, 5, 9, 14]:
        rows.append((t0 + timedelta(minutes=i), "a"))
        rows.append((t0 + timedelta(minutes=i + 2), "b"))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {
        r.lag: r
        for r in cross_correlogram(df, "a", "b", max_lag=3).collect()
    }
    assert out[2].sum_xy == 5 and out[2].pearson_r == 1.0
    assert out[0].sum_xy < 5
    # dense axis: n shrinks by exactly lag per step
    assert out[0].n - out[3].n == 3


def test_cross_correlogram_span_guard(spark):
    from datetime import datetime

    from spartan2_spark.operators.timeseries import cross_correlogram

    # 1-bucket span: every lag > 0 exceeds the span and must drop out
    # (not explode a descending sequence)
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1), "a"), (datetime(2024, 1, 1), "b")],
        "ts timestamp, event_type string",
    )
    out = cross_correlogram(df, "a", "b", max_lag=4).collect()
    assert [r.lag for r in out] == [0]


def test_theilsen_robust_vs_ols(spark):
    from spartan2_spark.operators.timeseries import (
        linear_trend,
        theilsen_trend,
    )

    # clean slope 1.0 with one gross outlier: OLS bends, Theil-Sen holds
    vals = [float(i) for i in range(21)]
    vals[20] = 500.0
    df = spark.createDataFrame(
        [(1, float(i), v) for i, v in enumerate(vals)],
        "key long, ts double, value double",
    )
    ts_row = theilsen_trend(df).collect()[0]
    ols_row = linear_trend(df).collect()[0]
    assert abs(ts_row.slope - 1.0) < 1e-9
    assert abs(ts_row.intercept - 0.0) < 1e-9
    assert ols_row.slope > 3.0  # dragged by the outlier
    assert ts_row.n_pairs == 21 * 20 // 2


def test_theilsen_thinning_cap(spark):
    from spartan2_spark.operators.timeseries import theilsen_trend

    # 100 points, cap 10 -> stride 10 keeps ceil(100/10)=10 points ->
    # 45 pairs; slope estimate on the thinned exact line is still exact
    df = spark.createDataFrame(
        [(1, float(i), 2.0 * i + 3.0) for i in range(100)],
        "key long, ts double, value double",
    )
    r = theilsen_trend(df, max_points=10).collect()[0]
    assert r.n == 10 and r.n_pairs == 45
    # slopes use the ORIGINAL indices, so thinning preserves the scale
    assert abs(r.slope - 2.0) < 1e-9
    assert abs(r.intercept - 3.0) < 1e-9


def test_changepoint_binary_planted_shift(spark):
    from spartan2_spark.operators.timeseries import changepoint_binary

    # level 10.0 for 12 points then 20.0 for 8: best split is t=12
    vals = [10.0] * 12 + [20.0] * 8
    df = spark.createDataFrame(
        [(7, float(i), v) for i, v in enumerate(vals)],
        "key long, ts double, value double",
    )
    r = changepoint_binary(df).collect()[0]
    assert r.change_t == 12 and r.n == 20
    # gain = n_l*n_r/n * (mu_l - mu_r)^2 = 12*8/20 * 100 = 480
    assert abs(r.gain - 480.0) < 1e-6
    # constant series: zero gain, argmax tie-break picks t=1
    dfc = spark.createDataFrame(
        [(8, float(i), 5.0) for i in range(6)],
        "key long, ts double, value double",
    )
    rc = changepoint_binary(dfc).collect()[0]
    assert rc.change_t == 1 and abs(rc.gain) < 1e-12


def test_counter_rate_promql_increase(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import counter_rate

    # monotone counter 10->25->40, reset, 5->30: PromQL increase =
    # (25-10)+(40-25) + 5 (post-reset absolute) + (30-5) = 60, 1 reset
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(minutes=i), v)
        for i, v in enumerate([10, 25, 40, 5, 30])
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp, value long")
    r = counter_rate(df).collect()[0]
    assert r.increase == 60
    assert r.n_resets == 1
    assert r.n_samples == 5
    assert r.dur_us == 4 * 60 * 1_000_000


def test_counter_rate_no_reset_is_span_delta(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import counter_rate

    # strictly monotone counter: increase telescopes to last - first
    t0 = datetime(2024, 1, 1)
    vals = [3, 7, 7, 19, 100]
    rows = [
        (9, t0 + timedelta(seconds=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp, value long")
    r = counter_rate(df).collect()[0]
    assert r.increase == vals[-1] - vals[0]
    assert r.n_resets == 0


def test_time_weighted_avg_locf(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import time_weighted_avg

    # v=100 holds 1s, v=200 holds 3s, v=0 closes the span (no weight):
    # TWA = (100*1 + 200*3) / 4 = 175 — the arithmetic mean (100) of
    # the same samples would misreport the level
    t0 = datetime(2024, 1, 1)
    rows = [
        ("u", t0, 100),
        ("u", t0 + timedelta(seconds=1), 200),
        ("u", t0 + timedelta(seconds=4), 0),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value long")
    r = time_weighted_avg(df).collect()[0]
    assert r.n_samples == 3
    assert r.dur_us == 4_000_000
    assert r.wsum == 100 * 1_000_000 + 200 * 3_000_000
    assert r.twa_centi == 175.0


def test_time_weighted_avg_single_sample_null(spark):
    from datetime import datetime

    from spartan2_spark.operators.timeseries import time_weighted_avg

    df = spark.createDataFrame(
        [("s", datetime(2024, 1, 1), 42)],
        "key string, ts timestamp, value long",
    )
    r = time_weighted_avg(df).collect()[0]
    assert r.dur_us == 0 and r.twa_centi is None and r.wsum == 0.0


def test_uptime_sla_planted_outage(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import uptime_sla

    # heartbeats every minute for 10 min, then a 2h hole, then 10 more
    t0 = datetime(2024, 1, 1)
    rows = [("svc", t0 + timedelta(minutes=i)) for i in range(10)]
    rows += [
        ("svc", t0 + timedelta(minutes=9) + timedelta(hours=2, minutes=i))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    r = uptime_sla(df, gap_threshold_us=3_600_000_000).collect()[0]
    assert r.n_outages == 1
    assert r.downtime_us == 2 * 3600 * 1_000_000
    assert r.longest_gap_us == r.downtime_us
    span = (9 + 120 + 9) * 60 * 1_000_000
    assert r.span_us == span
    assert r.uptime_ratio == 1.0 - r.downtime_us / span


def test_uptime_sla_single_sample_null(spark):
    from datetime import datetime

    from spartan2_spark.operators.timeseries import uptime_sla

    df = spark.createDataFrame(
        [("s", datetime(2024, 1, 1))], "key string, ts timestamp"
    )
    r = uptime_sla(df).collect()[0]
    assert r.uptime_ratio is None and r.longest_gap_us is None


def test_gauge_delta_promql_family(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import gauge_delta

    # gauge 10 -> 25 -> 25 -> 40 -> 30: delta = 30-10 = 20,
    # idelta = 30-40 = -10, changes = 3 (the 25->25 pair is not a change)
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(minutes=i), v)
        for i, v in enumerate([10, 25, 25, 40, 30])
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp, value long")
    r = gauge_delta(df).collect()[0]
    assert r.n_samples == 5
    assert r.delta == 20
    assert r.idelta == -10
    assert r.n_changes == 3
    assert r.span_us == 4 * 60 * 1_000_000


def test_gauge_delta_single_sample(spark):
    from datetime import datetime

    from spartan2_spark.operators.timeseries import gauge_delta

    df = spark.createDataFrame(
        [(7, datetime(2024, 1, 1), 42)], "key long, ts timestamp, value long"
    )
    r = gauge_delta(df).collect()[0]
    assert r.delta == 0
    assert r.idelta is None
    assert r.n_changes == 0
    assert r.span_us == 0


def test_predict_linear_exact_line(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.timeseries import predict_linear

    # v = 100 + 3 * t_seconds: slope recovers exactly (integer sums),
    # prediction extrapolates the same line
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(seconds=10 * i), 100 + 3 * 10 * i)
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp, value long")
    r = predict_linear(df, horizon_s=60).collect()[0]
    assert r.n_samples == 8
    assert abs(r.slope_per_s - 3.0) < 1e-12
    # last sample at tc=70, v=310; prediction at tc=130 -> 100+3*130=490
    assert abs(r.predicted - 490.0) < 1e-9


def test_predict_linear_degenerate_null(spark):
    from datetime import datetime

    from spartan2_spark.operators.timeseries import predict_linear

    # single sample and coincident timestamps both have den == 0
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, 5), (2, t0, 10), (2, t0, 20)],
        "key long, ts timestamp, value long",
    )
    out = {r.key: r for r in predict_linear(df).collect()}
    assert out[1].slope_per_s is None and out[1].predicted is None
    assert out[2].slope_per_s is None and out[2].predicted is None


def test_stomp_profile_matches_brute_force():
    """Kernel-level: STOMP recurrence equals the O(n^2 m) brute-force
    z-normalized profile to float tolerance, indices identical."""
    import numpy as np

    from spartan2_spark.functions.matrix_profile import stomp_profile

    rng = np.random.RandomState(7)
    x = np.sin(np.arange(240) * 0.21) + 0.05 * rng.randn(240)
    m = 16
    prof, idx = stomp_profile(x, m)
    l = len(x) - m + 1
    excl = m // 2

    def zn(a):
        s = a.std()
        return (a - a.mean()) / s if s > 1e-12 else np.zeros_like(a)

    for i in range(0, l, 7):
        best, bj = np.inf, -1
        zi = zn(x[i : i + m])
        for j in range(l):
            if abs(i - j) < excl:
                continue
            d = float(np.linalg.norm(zi - zn(x[j : j + m])))
            if d < best:
                best, bj = d, j
        assert abs(best - prof[i]) < 1e-9
        assert bj == idx[i]


def test_matrix_profile_discords_finds_plant(spark):
    """A clean sinusoid with one injected level-shift window: the top
    discord's start index lands inside the planted window (+- one
    exclusion zone)."""
    from datetime import datetime, timedelta

    import numpy as np

    from spartan2_spark.operators.timeseries import matrix_profile_discords

    t0 = datetime(2024, 1, 1)
    y = np.sin(np.arange(400) * 2 * np.pi / 40)
    y[180:195] += 3.0
    rows = [
        ("s", t0 + timedelta(hours=i), float(v)) for i, v in enumerate(y)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    out = matrix_profile_discords(df, m=20, k=1).collect()
    assert len(out) == 1
    assert abs(out[0].idx - 180) <= 20
    assert out[0].dist > 3.0


def test_matrix_profile_motifs_finds_planted_pair(spark):
    """Two identical pattern injections into a random walk: the top
    motif pair is exactly the two planted windows at distance ~0."""
    from datetime import datetime, timedelta

    import numpy as np

    from spartan2_spark.operators.timeseries import matrix_profile_motifs

    rng = np.random.RandomState(3)
    x = rng.randn(400).cumsum()
    pat = np.sin(np.arange(25) * 0.7) * 4
    x[50:75] = pat
    x[300:325] = pat
    t0 = datetime(2024, 1, 1)
    rows = [
        ("s", t0 + timedelta(hours=i), float(v)) for i, v in enumerate(x)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    out = matrix_profile_motifs(df, m=25, k=1).collect()
    assert len(out) == 1
    assert sorted([out[0].idx, out[0].nn_idx]) == [50, 300]
    assert out[0].dist < 1e-9


def test_counter_rate_buckets_reaggregates_to_whole_series(spark):
    """Bucket increases must sum exactly to counter_rate's whole-series
    increase (cross-bucket deltas attributed to the later bucket), with
    resets landing in the bucket of the post-reset sample."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import (
        counter_rate,
        counter_rate_buckets,
    )

    rows = [
        ("k1", pd.Timestamp(f"2024-01-01 {h:02d}:{mi:02d}:00"), v)
        for (h, mi, v) in [(0, 0, 10), (0, 30, 25), (1, 0, 40), (1, 30, 5), (2, 0, 20)]
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "ts", "value"])
    )
    b = (
        counter_rate_buckets(df, "hour")
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert list(b["increase"]) == [15, 20, 15]
    assert list(b["n_resets"]) == [0, 1, 0]
    tot = counter_rate(df).collect()[0]
    assert b["increase"].sum() == tot.increase == 50
    assert b["n_resets"].sum() == tot.n_resets == 1


def test_peak_window_count_straddles_bucket_boundary(spark):
    """A burst straddling a minute boundary must be seen by the sliding
    window (a tumbling count would split it)."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import peak_window_count

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    secs = [30, 50, 55, 58, 62, 65, 70, 200]
    df = spark.createDataFrame(
        pd.DataFrame(
            [("d", t0 + pd.Timedelta(seconds=s)) for s in secs],
            columns=["key", "ts"],
        )
    )
    out = peak_window_count(df, window_us=60_000_000, limit=5).collect()[0]
    # window (10s, 70s] holds 30,50,55,58,62,65,70 -> 7; straddles :00/:01
    # (a tumbling minute count sees at most 4: {30,50,55,58} | {62,65,70})
    assert out.peak_count == 7
    assert out.n_events == 8
    assert out.over_limit == 1


def test_burn_rate_alerts_short_fires_long_suppresses(spark):
    """A one-hour error burst trips the short window but is suppressed
    by the 6h window; a sustained burn trips both -> alert."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import burn_rate_alerts

    rows = []
    # key "blip": 30% errors in hour 0 only, clean for hours 1..5
    for i in range(360):
        rows.append(
            (
                "blip",
                pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                1 if (i < 60 and i % 3 == 0) else 0,
            )
        )
    # key "burn": 30% errors every hour
    for i in range(360):
        rows.append(
            (
                "burn",
                pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                1 if i % 3 == 0 else 0,
            )
        )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "ts", "is_error"])
    )
    out = (
        burn_rate_alerts(
            df,
            budget_ppm=20_000,
            short_bucket="hour",
            long_factor=6,
            burn_threshold=6,
        )
        .toPandas()
        .set_index(["key", "bucket"])
        .sort_index()
    )
    blip = out.loc["blip"]
    assert blip["alert"].sum() == 0  # long window suppresses the blip
    assert (blip["err_s"] * 1_000_000 > 120_000 * blip["tot_s"]).sum() == 1
    burn = out.loc["burn"]
    assert (burn["alert"] == 1).all()  # sustained burn fires everywhere


def test_url_frontcode_plan_exact_lcp_bytes(spark):
    """Hand-computed longest-common-prefix byte savings on a sorted
    url run, duplicates collapsed first."""
    import pandas as pd

    from spartan2_spark.operators.compaction import url_frontcode_plan

    urls = [
        ("a.com", "a.com/x/1"),
        ("a.com", "a.com/x/10"),
        ("a.com", "a.com/x/2"),
        ("a.com", "a.com/y"),
        ("a.com", "a.com/x/1"),  # duplicate -> dropped by distinct
        ("b.com", "b.com/solo"),
    ]
    df = spark.createDataFrame(pd.DataFrame(urls, columns=["domain", "url"]))
    out = (
        url_frontcode_plan(df)
        .toPandas()
        .set_index("domain")
        .sort_index()
    )
    # sorted: /x/1 (lcp 0), /x/10 (lcp 9), /x/2 (lcp 8), /y (lcp 6)
    assert out.loc["a.com", "n_urls"] == 4
    assert out.loc["a.com", "saved_bytes"] == 23
    assert out.loc["a.com", "raw_bytes"] == 35
    assert out.loc["a.com", "coded_bytes"] == 12
    assert out.loc["b.com", "saved_bytes"] == 0


def test_counter_rate_buckets_reaggregation_property(spark):
    """Randomized (seeded) property check at width: for 60 keys of
    random counter series with resets, per-key bucket sums must equal
    counter_rate's whole-series outputs exactly — increase, resets,
    and sample counts."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from spartan2_spark.operators.timeseries import (
        counter_rate,
        counter_rate_buckets,
    )

    rng = np.random.RandomState(11)
    rows = []
    t0 = pd.Timestamp("2024-03-01")
    for k in range(60):
        v = 0
        t = t0
        for _ in range(rng.randint(2, 40)):
            t = t + pd.Timedelta(minutes=int(rng.randint(1, 300)))
            v = int(rng.randint(0, 50)) if rng.rand() < 0.1 else v + int(
                rng.randint(0, 1000)
            )
            rows.append((f"k{k}", t, v))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "ts", "value"])
    )
    whole = counter_rate(df).toPandas().set_index("key").sort_index()
    bucketed = (
        counter_rate_buckets(df, "hour")
        .groupBy("key")
        .agg(
            F.sum("increase").alias("increase"),
            F.sum("n_resets").alias("n_resets"),
            F.sum("n_samples").alias("n_samples"),
        )
        .toPandas()
        .set_index("key")
        .sort_index()
    )
    for col in ("increase", "n_resets", "n_samples"):
        assert (whole[col] == bucketed[col]).all(), col


def test_rle_plan_hand_computed_runs(spark):
    """Planted status series: values 1,1,1,2,2,1 -> 3 runs, longest 3;
    a single-sample key reports one run of length one."""
    import pandas as pd

    from spartan2_spark.operators.gorilla import rle_plan

    from pyspark.sql import functions as F

    rows = [("a", t, v) for t, v in enumerate([1, 1, 1, 2, 2, 1])]
    rows.append(("b", 0, 7))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "t", "value"])
    ).select(
        "url",
        F.to_timestamp(F.col("t") + 1_700_000_000).alias("bucket_ts"),
        "value",
    )
    out = (
        rle_plan(df, quantize=1).toPandas().set_index("key").sort_index()
    )
    assert out.loc["a", "n_points"] == 6
    assert out.loc["a", "n_runs"] == 3
    assert out.loc["a", "longest_run"] == 3
    assert out.loc["b", "n_runs"] == 1
    assert out.loc["b", "runs_per_point"] == 1.0


def test_roaring_container_plan_layout_branches(spark):
    """Each Roaring layout branch on planted id sets with exact byte
    formulas: a contiguous run (2+4*1 bytes beats 2n), a scattered
    small set (array, 2n), and a >4096 scattered set (bitmap, 8192)."""
    import pandas as pd

    from spartan2_spark.operators.compaction import roaring_container_plan

    ids = (
        [("t_run", i) for i in range(100)]  # one run: 2+4 = 6 bytes
        + [("t_arr", i * 7) for i in range(100)]  # scattered: 200 bytes
        + [("t_bmp", i * 3) for i in range(5000)]  # n>4096 scattered
    )
    df = spark.createDataFrame(
        pd.DataFrame(ids, columns=["table_name", "pos"])
    )
    out = (
        roaring_container_plan(df)
        .toPandas()
        .set_index("grp")
        .sort_index()
    )
    assert out.loc["t_run", "n_run"] == 1
    assert out.loc["t_run", "bytes_best"] == 6
    assert out.loc["t_arr", "n_array"] == 1
    assert out.loc["t_arr", "bytes_best"] == 200
    # 5000 ids * 3 spans 15000 positions: container 0 with 5000 values
    assert out.loc["t_bmp", "n_bitmap"] == 1
    assert out.loc["t_bmp", "bytes_best"] == 8192


def test_snapshot_expiry_plan_policy_branches(spark):
    """keep_last keeps the newest K even when ancient; the horizon
    keeps old-rank snapshots that are recent enough; ties on
    committed_us break by snap_id DESC so the rank cut is total."""
    import pandas as pd

    from spartan2_spark.operators.retention import snapshot_expiry_plan

    snaps = [
        # table A: 5 snapshots, horizon keeps id>=40's commit times
        ("A", 10, 100, 1, 10),
        ("A", 20, 200, 1, 10),
        ("A", 30, 300, 2, 20),
        ("A", 40, 400, 2, 20),
        ("A", 50, 500, 3, 30),
        # table B: same committed_us everywhere (below the horizon)
        # -> snap_id alone breaks the rank ties
        ("B", 1, 99, 1, 1),
        ("B", 2, 99, 1, 1),
        ("B", 3, 99, 1, 1),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            snaps,
            columns=[
                "table_name", "snap_id", "committed_us", "n_files", "n_rows",
            ],
        )
    )
    out = (
        snapshot_expiry_plan(df, keep_last=2, horizon_us=300)
        .toPandas()
        .set_index(["table_name", "snap_id"])
        .sort_index()
    )
    a = out.loc["A"]
    # ranks 1,2 (ids 50,40) kept by keep_last; id 30 kept by horizon
    assert a.loc[50, "action"] == "keep" and a.loc[40, "action"] == "keep"
    assert a.loc[30, "action"] == "keep"  # committed_us == horizon
    assert a.loc[20, "action"] == "expire" and a.loc[10, "action"] == "expire"
    assert a.loc[10, "tbl_expired"] == 2
    assert a.loc[10, "tbl_rows_reclaimed"] == 20
    b = out.loc["B"]
    # equal committed_us: snap_id DESC ranks 3,2 first -> 1 expires
    assert b.loc[3, "action"] == "keep" and b.loc[2, "action"] == "keep"
    assert b.loc[1, "action"] == "expire"


def test_bucket_coverage_planted_gap(spark):
    """A url with minutes {0,1,3,4} spans 5 expected buckets with 1
    missing; a gapless url reports coverage 1.0; a single-bucket url
    expects exactly itself."""
    import pandas as pd

    from pyspark.sql import functions as F

    from spartan2_spark.operators.rollup import bucket_coverage

    rows = (
        [("gap", 60 * m, 1.0) for m in (0, 1, 3, 4)]
        + [("full", 60 * m, 1.0) for m in (0, 1, 2)]
        + [("solo", 0, 1.0)]
    )
    state = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "t", "value"])
    ).select(
        "url",
        F.to_timestamp(F.col("t") + 1_700_000_040).alias("bucket_ts"),
        "value",
    )
    out = (
        bucket_coverage(state, 60).toPandas().set_index("url").sort_index()
    )
    assert out.loc["gap", "expected"] == 5
    assert out.loc["gap", "missing"] == 1
    assert out.loc["full", "coverage"] == 1.0
    assert out.loc["solo", "expected"] == 1


def test_hysteresis_intervals_flap_suppressed(spark):
    """Oscillation inside the (lo, hi) dead band must NOT retrigger:
    one clean interval per genuine hi-crossing run, half-open bounds,
    NULL close on a still-firing key, leading below-hi history silent."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import hysteresis_intervals

    t0 = 1_700_000_000
    # key "a": off(20) on(80) band-flaps(60,40,70) off(10) on(90) -> two
    # intervals, second closed by nothing (still firing at end? no: the
    # last sample is 90 and never falls to lo -> open interval).
    a = [(0, 20), (10, 80), (20, 60), (30, 40), (40, 70), (50, 10),
         (60, 90)]
    # key "b": never reaches hi -> no rows (leading OFFs dropped).
    b = [(0, 10), (10, 60), (20, 5)]
    rows = [("a", t0 + s, v) for s, v in a] + [
        ("b", t0 + s, v) for s, v in b
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "t", "v"])
    )
    from pyspark.sql import functions as F

    df = df.select("key", F.to_timestamp("t").alias("ts"), "v")
    out = (
        hysteresis_intervals(df, hi=75, lo=15, value_col="v")
        .orderBy("key", "fired_from_us")
        .collect()
    )
    assert [r.key for r in out] == ["a", "a"]
    assert out[0].fired_from_us == (t0 + 10) * 1_000_000
    assert out[0].fired_to_us == (t0 + 50) * 1_000_000
    assert out[1].fired_from_us == (t0 + 60) * 1_000_000
    assert out[1].fired_to_us is None


def test_ks_drift_exact_fraction_and_verdict(spark):
    """Hand-computed D on a planted shift; identical samples give
    d_num 0; a gross shift at n=100 trips the cross-multiplied
    verdict while the tiny-n case stays quiet."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import ks_drift

    rows = (
        # key "shift": ref {1,2,3,4}, cur {3,4,5,6} -> D = 2/4
        [("shift", v, 0) for v in (1, 2, 3, 4)]
        + [("shift", v, 1) for v in (3, 4, 5, 6)]
        # key "same": identical multisets -> D = 0
        + [("same", v, s) for v in (7, 7, 9) for s in (0, 1)]
        # key "gross": ref 1..100, cur 201..300 -> D = 1, drift fires
        + [("gross", v, 0) for v in range(1, 101)]
        + [("gross", v, 1) for v in range(201, 301)]
    )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "v", "sample"])
    )
    out = {r.key: r for r in ks_drift(df).collect()}
    assert out["shift"].d_num == 8 and out["shift"].d_den == 16
    assert out["shift"].ks == 0.5 and out["shift"].drift == 0
    assert out["same"].d_num == 0 and out["same"].drift == 0
    assert out["gross"].d_num == 100 * 100
    assert out["gross"].ks == 1.0 and out["gross"].drift == 1


def test_apdex_score_classes_and_ratio(spark):
    from spartan2_spark.operators.timeseries import apdex_score

    # T=100: satisfied <=100, tolerating (100,400], frustrated >400
    rows = [("a", v) for v in (50, 100, 101, 400, 401, 1000)] + [
        ("b", 10),
        ("b", 10),
    ]
    df = spark.createDataFrame(rows, "key string, value long")
    out = {
        r["key"]: r
        for r in apdex_score(df, threshold=100).collect()
    }
    a = out["a"]
    assert (a["n_satisfied"], a["n_tolerating"], a["n_frustrated"]) == (
        2,
        2,
        2,
    )
    # (2*2 + 2) / (2*6) = 0.5
    assert a["apdex"] == 0.5
    assert out["b"]["apdex"] == 1.0


def test_rolling_median_lower_median_exact(spark):
    """Window of 3: medians are exact input values (lower median on
    even frame sizes at the series head)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from spartan2_spark.operators.timeseries import rolling_median

    t0 = 1_700_000_000
    vals = [5, 1, 9, 3, 7]
    rows = [("a", t0 + i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t", "v"]))
    df = df.select("key", F.to_timestamp("t").alias("ts"), F.col("v").alias("value"))
    out = rolling_median(df, 3).orderBy("ts").collect()
    # frames: [5] [5,1] [5,1,9] [1,9,3] [9,3,7]
    # lower medians: 5, 1 (sorted [1,5] pos 1), 5, 3, 7
    assert [r.w_median for r in out] == [5, 1, 5, 3, 7]
    assert [r.w_n for r in out] == [1, 2, 3, 3, 3]


def test_counter_changes_resets_and_endpoints(spark):
    """Planted counter: one flat repeat (no change), two moves up,
    one reset (drop) — counts and lexicographic endpoints exact."""
    import pandas as pd

    from pyspark.sql import functions as F

    from spartan2_spark.operators.timeseries import counter_changes

    t0 = 1_700_000_000
    vals = [10, 10, 15, 3, 20]  # changes: 15,3,20 -> 3; resets: 3 -> 1
    rows = [("c", t0 + i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t", "v"]))
    df = df.select("key", F.to_timestamp("t").alias("ts"), F.col("v").alias("value"))
    r = counter_changes(df).collect()[0]
    assert r.n_changes == 3
    assert r.n_resets == 1
    assert r.n_samples == 5
    assert r.first_value == 10
    assert r.last_value == 20


def test_interval_concurrency_sweep(spark):
    """Hand case: overlap peaks at 2; an interval ending exactly when
    another starts does NOT overlap it (half-open)."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import interval_concurrency

    rows = [
        ("k", 0, 10),
        ("k", 5, 15),    # overlaps the first -> concurrency 2 at t=5
        ("k", 15, 20),   # starts exactly when the second ends -> no overlap
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "start_us", "end_us"])
    )
    out = {r.t_us: r for r in interval_concurrency(df).collect()}
    assert out[0].concurrent == 1
    assert out[5].concurrent == 2
    assert out[10].concurrent == 1
    assert out[15].starts == 1 and out[15].ends == 1
    assert out[15].concurrent == 1  # end processed with start at same t
    assert out[20].concurrent == 0
    assert max(r.concurrent for r in out.values()) == 2


def test_weighted_percentiles_lower_rule(spark):
    """Weighted median: values 1,2,3 with weights 1,1,8 -> p50 is 3
    (cumw reaches 5 of 10 only at v=3); unweighted it would be 2."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import weighted_percentiles

    rows = [("a", 1, 1), ("a", 2, 1), ("a", 3, 8)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "value", "weight"])
    )
    r = weighted_percentiles(df, percents=(20, 50, 95)).collect()[0]
    assert r.total_w == 10
    assert r.p20 == 2   # cumw 1 < 2 at v=1; cumw 2 >= 2 at v=2
    assert r.p50 == 3
    assert r.p95 == 3


def test_rolling_corr_matches_numpy(spark):
    """Trailing-3 window over a planted (x, y) pair per key equals
    numpy's corrcoef at every full window; short windows follow the
    same exact-moment formula; constant-track windows emit NULL."""
    import numpy as np
    import pandas as pd

    from spartan2_spark.operators.timeseries import rolling_corr

    x = [3, 1, 4, 1, 5, 9, 2, 6]
    y = [2, 7, 1, 8, 2, 8, 1, 8]
    rows = [("k", t, x[t], y[t]) for t in range(8)]
    # a second key with a constant x track -> dx == 0 -> NULL corr
    rows += [("c", t, 5, t + 1) for t in range(4)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "t_s", "x", "y"])
    )
    out = {
        (r.key, r.t_s): r
        for r in rolling_corr(df, window=3, step_s=1).collect()
    }
    for t in range(2, 8):
        want = np.corrcoef(x[t - 2 : t + 1], y[t - 2 : t + 1])[0, 1]
        got = out[("k", t)].corr
        assert got is not None and abs(got - want) < 1e-12, (t, got, want)
    assert out[("k", 0)].corr is None  # n == 1
    for t in range(4):
        assert out[("c", t)].corr is None  # constant x -> dx == 0
    # moment columns are exact integers
    r = out[("k", 4)]
    assert (r.n, r.sx, r.sy) == (3, 10, 11)
    # gap-correctness: with a hole at t=5 the RANGE frame at t=6
    # covers only {4, 6} (n == 2), never stretching back to t=3 the
    # way a ROWS frame would
    gap = df.filter("not (key = 'k' and t_s = 5)")
    g = {(r.key, r.t_s): r for r in rolling_corr(gap, window=3, step_s=1).collect()}
    assert g[("k", 6)].n == 2
    assert g[("k", 6)].sx == x[4] + x[6]


def test_mann_kendall_planted_trends(spark):
    """Strictly increasing -> S = n(n-1)/2, tau = 1; strictly
    decreasing -> tau = -1; a tie contributes 0 to S."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import mann_kendall

    rows = (
        [("up", t, 10 + t) for t in range(5)]
        + [("dn", t, 50 - 3 * t) for t in range(4)]
        + [("tie", 0, 7), ("tie", 1, 7), ("tie", 2, 9)]
    )
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t_s", "v"]))
    out = {r.key: r for r in mann_kendall(df).collect()}
    assert out["up"].s_stat == 10 and out["up"].n_pairs == 10
    assert out["up"].tau == 1.0
    assert out["dn"].tau == -1.0
    # pairs (0,1) ties -> 0; (0,2) and (1,2) rise -> +2 of 3 pairs
    assert out["tie"].s_stat == 2 and out["tie"].n_pairs == 3


def test_forecast_backtest_gap_correct(spark):
    """Seasonal-naive scoring joins on exact epoch shifts: a missing
    bucket never becomes a wrong-lag forecast, and eval rows require
    actual + both references. Planted: season 10, step 1."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import forecast_backtest

    # series at t = 0,1,10,11,21: t=10 has both t-10=0 and... t-1=9 missing
    # -> only t=11 (refs t=1 and t=10 both present) is scored.
    rows = [("k", 0, 100), ("k", 1, 110), ("k", 10, 130),
            ("k", 11, 150), ("k", 21, 170)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t_s", "v"]))
    r = forecast_backtest(df, season_s=10, step_s=1).collect()
    assert len(r) == 1 and r[0].n_eval == 1
    # at t=11: actual 150, seasonal ref v(1)=110 -> |err| 40; naive v(10)=130 -> 20
    assert r[0].sae_seasonal == 40 and r[0].sae_naive == 20
    assert r[0].sum_abs_actual == 150
    assert abs(r[0].mae - 40.0) < 1e-12
    assert abs(r[0].wmape - 40.0 / 150.0) < 1e-12
    assert abs(r[0].skill - (1.0 - 2.0)) < 1e-12  # seasonal 2x worse -> skill -1


def test_acf_multi_planted_period(spark):
    """A period-2 alternating series has ACF -1 at lag 1 and +1 at
    lag 2 (exact sign flip); gaps drop pairs instead of shifting
    them."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import acf_multi

    rows = [("k", t, 10 if t % 2 == 0 else 20) for t in range(8)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t_s", "v"]))
    out = {r.lag_s: r for r in acf_multi(df, lags_s=(1, 2)).collect()}
    assert abs(out[1].acf - (-1.0)) < 1e-12 and out[1].n == 7
    assert abs(out[2].acf - 1.0) < 1e-12 and out[2].n == 6
    # remove t=4: lag-1 pairs using t=4 vanish (t=4 and t=5 anchors)
    df2 = df.filter("t_s <> 4")
    out2 = {r.lag_s: r for r in acf_multi(df2, lags_s=(1,)).collect()}
    assert out2[1].n == 5


def test_watermark_lag_audit_exact_counts(spark):
    """Late counts at 1x/2x the watermark, floor ppm, exact mean."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import watermark_lag_audit

    # lags in seconds: 0, 100, 700, 1300 (wm=600 -> 2 late, 1 beyond 2x)
    rows = [("k", 0, 0), ("k", 0, 100_000_000),
            ("k", 0, 700_000_000), ("k", 0, 1_300_000_000)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "event_us", "arrival_us"])
    )
    r = watermark_lag_audit(df, watermark_s=600).collect()[0]
    assert r.n == 4 and r.n_late == 2 and r.n_late_2x == 1
    assert r.max_lag_s == 1300
    assert r.late_ppm == 2 * 1_000_000 // 4
    assert abs(r.mean_lag_s - (0 + 100 + 700 + 1300) / 4.0) < 1e-12


def test_asof_join_nearest_directions(spark):
    """Planted alignment: backward pick, forward pick, exact tie
    (dir 0), tie-breaks-backward at equal gaps, and no-match NULLs."""
    import pandas as pd

    t = lambda s: pd.Timestamp(s)  # noqa: E731
    from spartan2_spark.operators.timeseries import asof_join_nearest

    left = spark.createDataFrame(pd.DataFrame({
        "key": ["k"] * 4 + ["lonely"],
        "ts": [t("2024-01-01 00:10"),   # nearest snap 00:00 (back)
               t("2024-01-01 00:50"),   # nearest snap 01:00 (fwd)
               t("2024-01-01 01:00"),   # exact -> dir 0
               t("2024-01-01 00:30"),   # equidistant -> backward wins
               t("2024-01-01 09:00")],  # no right rows for this key
        "row": [1, 2, 3, 4, 5],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "key": ["k", "k"],
        "ts": [t("2024-01-01 00:00"), t("2024-01-01 01:00")],
        "v": [10, 20],
    }))
    out = {r.row: r for r in
           asof_join_nearest(left, right, value_cols=("v",)).collect()}
    assert out[1].v_asof == 10 and out[1].dir_asof == -1
    assert out[2].v_asof == 20 and out[2].dir_asof == 1
    assert out[3].v_asof == 20 and out[3].dir_asof == 0
    assert out[4].v_asof == 10 and out[4].dir_asof == -1  # tie -> back
    assert out[5].v_asof is None and out[5].dir_asof is None


def test_ooo_rate_planted_inversions(spark):
    """Arrival order 1,2,3,4 with event times 10,30,20,20: one strict
    inversion (30 -> 20), the tie (20 -> 20) is NOT an inversion,
    regression depth exact."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import ooo_rate

    rows = [("k", 10, 1), ("k", 30, 2), ("k", 20, 3), ("k", 20, 4)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "event_us", "arrival_seq"])
    )
    r = ooo_rate(df).collect()[0]
    assert r.n == 4 and r.n_inversions == 1
    assert r.inversion_ppm == 1_000_000 // 4
    assert r.max_regression_us == 10
    # fully ordered key -> zero inversions, zero regression
    df2 = spark.createDataFrame(
        pd.DataFrame([("o", i * 10, i) for i in range(4)],
                     columns=["key", "event_us", "arrival_seq"])
    )
    r2 = ooo_rate(df2).collect()[0]
    assert r2.n_inversions == 0 and r2.max_regression_us == 0


def test_week_over_week_calendar_shift(spark):
    """A missing middle week yields NULL priors for the week after it
    (exact calendar shift, not lag-by-rows); ratios exact."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import week_over_week

    w1 = pd.Timestamp("2024-01-01")   # Monday
    w2 = pd.Timestamp("2024-01-08")
    w4 = pd.Timestamp("2024-01-22")   # week 3 missing
    rows = [
        ("u", w1, 0, 10, 100), ("u", w2, 0, 30, 300), ("u", w4, 0, 7, 70),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "bucket_ts", "bin", "cnt", "vsum"])
    )
    out = {r.week_s: r for r in week_over_week(df).collect()}
    t = lambda ts: int(ts.timestamp())  # noqa: E731
    assert out[t(w2)].prev_cnt == 10
    assert abs(out[t(w2)].cnt_ratio - 3.0) < 1e-15
    assert out[t(w2)].cnt_delta == 20
    assert out[t(w4)].prev_cnt is None and out[t(w4)].cnt_ratio is None
    assert out[t(w4)].cnt_delta == 7  # vs coalesced 0
    assert out[t(w1)].prev_cnt is None


def test_pacf3_ar1_cutoff(spark):
    """An AR(1)-like geometric-ACF series: pacf1 == r1, and pacf2/3
    reproduce the closed-form Durbin-Levinson values computed by hand
    from the same r's; a near-zero pacf2 on a true AR(1) shape."""
    import pandas as pd

    from spartan2_spark.operators.timeseries import acf_multi, pacf3

    # deterministic AR(1)-ish integer series: x_t = round(0.6*x_{t-1}) + step pulse
    vals = [1000]
    for t in range(1, 60):
        vals.append(int(0.6 * vals[-1]) + (500 if t % 7 == 0 else 0))
    rows = [("k", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t_s", "v"]))
    r = {x.lag_s: x.acf for x in acf_multi(df, lags_s=(1, 2, 3)).collect()}
    out = pacf3(df, step_s=1).collect()[0]
    assert abs(out.pacf1 - r[1]) < 1e-15
    phi22 = (r[2] - r[1] ** 2) / (1 - r[1] ** 2)
    assert abs(out.pacf2 - phi22) < 1e-12
    phi21 = r[1] - phi22 * r[1]
    phi33 = (r[3] - phi21 * r[2] - phi22 * r[1]) / (
        1 - phi21 * r[1] - phi22 * r[2]
    )
    assert abs(out.pacf3 - phi33) < 1e-12


def test_quadratic_caps_fail_loudly(spark):
    """r4 verdict item 5: the O(n^2)-per-key operators must refuse an
    oversized series instead of silently running quadratically."""
    import pytest
    from pyspark.sql import functions as F

    from spartan2_spark.operators.timeseries import (
        mann_kendall,
        matrix_profile_discords,
    )

    big = spark.range(0, 200).select(
        F.lit("k").alias("key"),
        F.col("id").alias("t_s"),
        (F.col("id") % 7).alias("v"),
    )
    # under the cap: fine
    assert mann_kendall(big, max_series_points=500).count() == 1
    capped = mann_kendall(big, max_series_points=100)  # lazy: no job yet
    with pytest.raises(Exception, match="max_series_points"):
        capped.count()

    mp_in = big.select("key", F.col("t_s").cast("double").alias("ts"),
                       F.col("v").cast("double").alias("value"))
    assert matrix_profile_discords(mp_in, m=8, k=1).count() >= 1
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="max_series_len"):
        matrix_profile_discords(mp_in, m=8, k=1, max_series_len=50).count()
