"""Tier-chain correctness vs an independent pandas/numpy oracle.

The oracle re-implements the reference rollup semantics
(/root/reference/spartan/tensor/tensor.py:72-123: time binning +
group aggregation) directly in pandas, independently of the engine.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from spartan2_spark.datagen import synth_pages
from spartan2_spark.operators import rollup as R


@pytest.fixture(scope="module")
def pages_pdf(spark):
    pages = synth_pages(spark, 5000, n_urls=40, days=3)
    return pages.select("url", "warc_ts", "text").toPandas()


@pytest.fixture(scope="module")
def tier_views(spark, pages_pdf):
    pages = spark.createDataFrame(pages_pdf)
    pts = R.raw_points(pages)
    t1m = R.rollup_from_points(pts, "1m")
    t1h = R.rollup_tier_up(t1m, "1h")
    t1d = R.rollup_tier_up(t1h, "1d")
    return {
        name: R.tier_view(df).toPandas()
        for name, df in [("1m", t1m), ("1h", t1h), ("1d", t1d)]
    }


def _oracle(pdf: pd.DataFrame, freq: str) -> pd.DataFrame:
    df = pdf.copy()
    df["value"] = df["text"].str.len().astype(float)
    df["bucket_ts"] = df["warc_ts"].dt.floor(freq)

    def p95_nearest_rank(s):
        v = np.sort(s.to_numpy())
        return v[math.ceil(0.95 * len(v)) - 1]

    g = df.groupby(["url", "bucket_ts"])["value"]
    out = g.agg(
        cnt="count", vmin="min", vmax="max", vmean="mean", p95=p95_nearest_rank
    ).reset_index()
    return out.sort_values(["url", "bucket_ts"], ignore_index=True)


@pytest.mark.parametrize("tier,freq", [("1m", "min"), ("1h", "h"), ("1d", "D")])
def test_tier_matches_pandas_oracle(tier_views, pages_pdf, tier, freq):
    got = tier_views[tier].sort_values(["url", "bucket_ts"], ignore_index=True)
    want = _oracle(pages_pdf, freq)
    assert len(got) == len(want)
    assert (got["url"] == want["url"]).all()
    assert (got["bucket_ts"] == want["bucket_ts"]).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()
    np.testing.assert_array_equal(got["vmin"].to_numpy(), want["vmin"].to_numpy())
    np.testing.assert_array_equal(got["vmax"].to_numpy(), want["vmax"].to_numpy())
    # integer metric: sums exact -> mean matches to float ulp
    np.testing.assert_allclose(got["vmean"], want["vmean"], rtol=1e-12)
    # int bin mode: p95 is EXACT nearest-rank
    np.testing.assert_array_equal(got["p95"].to_numpy(), want["p95"].to_numpy())


def test_tier_up_equals_direct(spark, pages_pdf):
    """1h computed from 1m state == 1h computed straight from raw."""
    pages = spark.createDataFrame(pages_pdf)
    pts = R.raw_points(pages)
    via_state = R.tier_view(R.rollup_tier_up(R.rollup_from_points(pts, "1m"), "1h"))
    direct = R.tier_view(R.rollup_from_points(pts, "1h"))
    a = via_state.toPandas().sort_values(["url", "bucket_ts"], ignore_index=True)
    b = direct.toPandas().sort_values(["url", "bucket_ts"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_parallelism_invariance(spark, pages_pdf):
    """Tier values identical when computed at different partitioning —
    the sandbox stand-in for the N vs 4N executor equality check."""
    pages = spark.createDataFrame(pages_pdf)
    outs = []
    for nparts in (2, 16):
        pts = R.raw_points(pages.repartition(nparts))
        v = R.tier_view(R.rollup_tier_up(R.rollup_from_points(pts, "1m"), "1h"))
        outs.append(v.toPandas().sort_values(["url", "bucket_ts"], ignore_index=True))
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_canonical_text_latest_wins(spark):
    rows = [
        ("u1", pd.Timestamp("2024-01-01 00:00:00"), "old"),
        ("u1", pd.Timestamp("2024-01-02 00:00:00"), "new"),
        ("u2", pd.Timestamp("2024-01-01 00:00:00"), "only"),
    ]
    pages = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "warc_ts", "text"]))
    got = {
        r["url"]: r["canonical_text"]
        for r in R.canonical_text(pages).collect()
    }
    assert got == {"u1": "new", "u2": "only"}


def test_rollup_null_metric_rows_do_not_poison_state(spark):
    """A crawl row with NULL text (null metric value) must not inflate
    cnt / deflate vmean / enter the p95 histogram."""
    import pandas as pd

    from spartan2_spark.operators import rollup as R

    pdf = pd.DataFrame(
        {
            "url": ["u"] * 3,
            "ts": pd.to_datetime(["2024-01-01 00:00:01"] * 3),
            "value": [10.0, 20.0, None],
        }
    )
    pts = spark.createDataFrame(pdf)
    state = R.rollup_from_points(pts, "1m").collect()
    assert sum(r["cnt"] for r in state) == 2
    assert all(r["bin"] is not None for r in state)
    view = R.tier_view(R.rollup_from_points(pts, "1m")).collect()[0]
    assert view["cnt"] == 2 and view["vmean"] == 15.0 and view["p95"] == 20.0


def test_tdigest_quantile_column_names_round_correctly(spark):
    from spartan2_spark.functions.sketches import tdigest_quantiles

    df = spark.range(100).selectExpr("'k' as k", "cast(id as double) as v")
    out = tdigest_quantiles(df, ["k"], "v", qs=(0.56, 0.57))
    assert set(out.columns) == {"k", "q56", "q57"}


def test_late_repair_plan_planted(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import late_repair_plan

    t_new = datetime(2024, 3, 1)  # max ts -> watermark = Feb 23
    t_old = datetime(2024, 1, 5, 10, 30)  # well before the watermark
    rows = [
        # early-seq old row: sealed on time, NOT late
        ("a", t_old, 1),
        # pad the seq range so the seal cut (0.8 * max_seq) is meaningful
        ("a", t_new, 50),
        ("b", t_new - timedelta(days=1), 79),
        # tail-seq rows: one truly late (old ts), one recent (not late)
        ("a", t_old, 95),
        ("b", t_new - timedelta(days=2), 100),
    ]
    df = spark.createDataFrame(rows, "url string, ts timestamp, seq long")
    out = late_repair_plan(df, seq_col="seq").collect()
    # only the (a, t_old, seq=95) row is late -> exactly one dirty
    # bucket per tier
    assert sorted(r.tier for r in out) == ["1d", "1h", "1m"]
    for r in out:
        assert r.url == "a" and r.n_late == 1
        assert r.first_seq == 95 and r.last_seq == 95
    by_tier = {r.tier: r.bucket_s for r in out}
    assert by_tier["1d"] == int(datetime(2024, 1, 5).timestamp())
    assert by_tier["1h"] == int(datetime(2024, 1, 5, 10).timestamp())
    assert by_tier["1m"] == int(t_old.timestamp())


def test_late_repair_plan_empty_when_ordered(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import late_repair_plan

    # ingest order == event order: the seq tail is also the newest
    # event times, so nothing is late
    t0 = datetime(2024, 1, 1)
    rows = [("u", t0 + timedelta(days=i), i) for i in range(30)]
    df = spark.createDataFrame(rows, "url string, ts timestamp, seq long")
    assert late_repair_plan(df, seq_col="seq").count() == 0


def test_url_churn_versions(spark):
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import url_churn

    t0 = datetime(2024, 1, 1)
    rows = [
        # 5 fetches, 3 distinct texts -> churn (3-1)/(5-1) = 0.5
        *[("u1", t0 + timedelta(hours=i), txt)
          for i, txt in enumerate(["x", "x", "y", "z", "y"])],
        # stable page: 3 fetches, 1 version -> churn 0
        *[("u2", t0 + timedelta(days=i), "same") for i in range(3)],
        # single fetch -> NULL churn
        ("u3", t0, "once"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    out = {r.url: r for r in url_churn(df).collect()}
    assert out["u1"].n_snapshots == 5 and out["u1"].n_versions == 3
    assert out["u1"].churn == 0.5
    assert out["u2"].churn == 0.0
    assert out["u3"].churn is None and out["u3"].first_us == out["u3"].last_us
    assert out["u1"].last_us - out["u1"].first_us == 4 * 3600 * 1_000_000


# ----------------------------------------------------- purge / audit


def test_purge_plan_points_invariant_across_tiers(spark):
    from pyspark.sql import functions as F

    pages = synth_pages(spark, 4000, n_urls=30, days=3)
    pts = R.raw_points(pages)
    forget = F.substring(F.md5(F.col("url")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    plan = R.purge_plan(pts, forget).toPandas()
    assert set(plan["tier"]) == {"1m", "1h", "1d"}
    # every tier of a url represents the same raw points
    per_url = plan.groupby("url")["n_points"].nunique()
    assert (per_url == 1).all()
    # coarser tiers never have more state rows or buckets than finer
    wide = plan.pivot(index="url", columns="tier", values="n_state_rows")
    assert (wide["1h"] <= wide["1m"]).all()
    assert (wide["1d"] <= wide["1h"]).all()
    # the plan covers exactly the victim urls
    victims = (
        pts.filter(forget).select("url").distinct().toPandas()["url"]
    )
    assert set(plan["url"]) == set(victims)
    # and total points == non-null victim rows (NULL-text crawl rows
    # are dropped by the rollup's null guard)
    one_tier = plan[plan["tier"] == "1m"]
    n_victims = pts.filter(forget).filter("value IS NOT NULL").count()
    assert one_tier["n_points"].sum() == n_victims


def test_purge_plan_empty_forget_set(spark):
    from pyspark.sql import functions as F

    pages = synth_pages(spark, 500, n_urls=5, days=1)
    plan = R.purge_plan(R.raw_points(pages), F.lit(False))
    assert plan.count() == 0


def test_consistency_audit_healthy_chain_is_clean(spark):
    pages = synth_pages(spark, 4000, n_urls=30, days=3)
    pts = R.raw_points(pages)
    audit = R.consistency_audit(pts, "1m", "1h").toPandas()
    assert (audit["n_mismatch"] == 0).all()
    # NULL-text crawl rows are dropped by the rollup's null guard on
    # both paths, so the audit covers exactly the non-null points
    assert audit["n_points"].sum() == pts.filter("value IS NOT NULL").count()


def test_consistency_audit_detects_injected_drift(spark):
    """The audit is only worth shipping if it FLAGS a broken tier-up.
    Corrupt one stored 1m state row (the resume-seam failure mode: a
    partially rewritten partition) and assert exactly the touched
    url/buckets go red while every other url stays green."""
    from pyspark.sql import functions as F

    pages = synth_pages(spark, 4000, n_urls=30, days=3)
    pts = R.raw_points(pages)
    direct = R.rollup_from_points(pts, "1h")
    t1m = R.rollup_from_points(pts, "1m")
    victim = t1m.orderBy("url", "bucket_ts", "bin").limit(1).collect()[0]
    corrupted = t1m.withColumn(
        "cnt",
        F.when(
            (F.col("url") == victim.url)
            & (F.col("bucket_ts") == victim.bucket_ts)
            & (F.col("bin") == victim.bin),
            F.col("cnt") + 1,
        ).otherwise(F.col("cnt")),
    )
    tiered = R.rollup_tier_up(corrupted, "1h")
    d, t = direct.alias("d"), tiered.alias("t")
    j = d.join(t, on=["url", "bucket_ts", "bin"], how="full_outer")
    agree = (
        F.col("d.cnt").eqNullSafe(F.col("t.cnt"))
        & F.col("d.vsum").eqNullSafe(F.col("t.vsum"))
        & F.col("d.vmin").eqNullSafe(F.col("t.vmin"))
        & F.col("d.vmax").eqNullSafe(F.col("t.vmax"))
    )
    audit = (
        j.select(
            "url",
            F.when(~agree, F.lit(1)).otherwise(F.lit(0)).alias("mm"),
        )
        .groupBy("url")
        .agg(F.sum("mm").alias("n_mismatch"))
        .toPandas()
        .set_index("url")["n_mismatch"]
    )
    assert audit[victim.url] == 1
    assert audit.drop(victim.url).sum() == 0


def test_tier_freshness_planted_lags(spark):
    """One url with points every minute from 00:00 to 02:00 (frontier
    02:00), watermark lag 30 min -> wm 01:30. 1m tier: last sealed
    minute bucket is 01:29 (ends 01:30), lag = 30 min. 1h tier: hour
    bucket 00:00 ends 01:00 <= wm, bucket 01:00 ends 02:00 > wm ->
    materialized through 01:00, lag = 60 min. 1d tier: nothing sealed."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import tier_freshness

    t0 = datetime(2024, 1, 1)
    rows = [
        ("u", t0 + timedelta(minutes=i), 1.0) for i in range(121)
    ]
    df = spark.createDataFrame(rows, "url string, ts timestamp, value double")
    out = {r.tier: r for r in tier_freshness(df, watermark_lag_s=1800).collect()}
    assert out["1m"].n_urls == 1
    assert out["1m"].n_sealed_buckets == 90  # minutes 00:00 .. 01:29
    assert out["1m"].max_lag_us == 30 * 60 * 1_000_000
    assert out["1h"].n_sealed_buckets == 1
    assert out["1h"].max_lag_us == 60 * 60 * 1_000_000
    assert out["1d"].n_sealed_buckets == 0
    assert out["1d"].n_unmaterialized == 1
    assert out["1d"].max_lag_us is None


def test_tier_freshness_caught_up_clamps_to_zero(spark):
    """Watermark lag 0: the frontier minute's own bucket never seals
    (its end is past the frontier), but a point exactly ON a bucket
    boundary makes the PREVIOUS bucket's lag 0 — clamped, never
    negative."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import tier_freshness

    t0 = datetime(2024, 1, 1)
    rows = [("u", t0 + timedelta(minutes=i), 1.0) for i in range(3)]
    df = spark.createDataFrame(rows, "url string, ts timestamp, value double")
    out = {r.tier: r for r in tier_freshness(df, watermark_lag_s=0).collect()}
    # frontier 00:02 == end of minute bucket 00:01 -> sealed, lag 0
    assert out["1m"].n_sealed_buckets == 2
    assert out["1m"].max_lag_us == 0


def test_tier_serving_plan_monotone_and_picks_coarsest(spark):
    """Planted spreads: url A constant (all spreads 0 -> 1d), url B
    varies within each hour but not each minute-pair... construct: B
    emits v=0 at :00 and v=10 at :30 of each hour -> minute spread 0,
    hour spread 10, day spread 10: eps=5 picks 1m."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import tier_serving_plan

    t0 = datetime(2024, 1, 1)
    rows = [("A", t0 + timedelta(hours=i), 7.0) for i in range(48)]
    for i in range(48):
        rows.append(("B", t0 + timedelta(hours=i), 0.0))
        rows.append(("B", t0 + timedelta(hours=i, minutes=30), 10.0))
    df = spark.createDataFrame(rows, "url string, ts timestamp, value double")
    out = {r.url: r for r in tier_serving_plan(df, eps=5.0).collect()}
    assert out["A"].serve_tier == "1d"
    assert out["A"].spread_1d == 0.0
    assert out["B"].serve_tier == "1m"
    assert out["B"].spread_1m == 0.0
    assert out["B"].spread_1h == 10.0
    # spreads are monotone in bucket width
    for r in out.values():
        assert r.spread_1m <= r.spread_1h <= r.spread_1d


def test_tier_mode_tie_breaks_to_smallest_bin(spark):
    """Bucket with counts {5:2, 3:2, 9:1}: mode is 3 (tie 2-2 broken
    toward the smaller bin); a second bucket with a clear winner."""
    from datetime import datetime, timedelta

    from spartan2_spark.operators.rollup import rollup_from_points, tier_mode

    t0 = datetime(2024, 1, 1)
    vals0 = [5.0, 5.0, 3.0, 3.0, 9.0]
    vals1 = [7.0, 7.0, 7.0, 2.0]
    rows = [("u", t0 + timedelta(seconds=i), v) for i, v in enumerate(vals0)]
    rows += [
        ("u", t0 + timedelta(minutes=5, seconds=i), v)
        for i, v in enumerate(vals1)
    ]
    df = spark.createDataFrame(rows, "url string, ts timestamp, value double")
    s1m = rollup_from_points(df, "1m")
    out = sorted(tier_mode(s1m).collect(), key=lambda r: r.bucket_ts)
    assert out[0].mode_bin == 3 and out[0].mode_cnt == 2
    assert out[0].cnt_total == 5
    assert out[1].mode_bin == 7 and out[1].mode_cnt == 3
    assert out[1].mode_value == 7.0


def test_url_version_intervals_run_semantics(spark):
    from spartan2_spark.operators.rollup import url_version_intervals
    import hashlib

    pages = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "A"),
            ("u1", "2024-01-02 00:00:00", "A"),
            ("u1", "2024-01-03 00:00:00", "B"),
            ("u1", "2024-01-04 00:00:00", "A"),
            ("u2", "2024-01-01 00:00:00", "X"),
        ],
        "url string, warc_ts string, text string",
    )
    out = sorted(
        url_version_intervals(pages).collect(),
        key=lambda r: (r["url"], r["valid_from_us"]),
    )
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    u1 = [r for r in out if r["url"] == "u1"]
    # A->B->A recurrence: three intervals, run semantics
    assert [r["version_md5"] for r in u1] == [md5("A"), md5("B"), md5("A")]
    assert [r["n_snapshots"] for r in u1] == [2, 1, 1]
    # half-open: each valid_to is the NEXT run's valid_from; last is live
    assert u1[0]["valid_to_us"] == u1[1]["valid_from_us"]
    assert u1[1]["valid_to_us"] == u1[2]["valid_from_us"]
    assert u1[2]["valid_to_us"] is None
    u2 = [r for r in out if r["url"] == "u2"]
    assert len(u2) == 1 and u2[0]["valid_to_us"] is None


def test_first_seen_rate_planted_days(spark):
    from spartan2_spark.operators.rollup import first_seen_rate
    import datetime as dt

    d0 = dt.datetime(2024, 1, 1, 12)
    d1 = dt.datetime(2024, 1, 2, 12)
    rows = [
        ("u1", d0),
        ("u2", d0),
        ("u1", d0),  # same-day refetch: counts in fetches, not distinct
        ("u1", d1),  # day-2 refresh of an old url
        ("u3", d1),  # day-2 novel
    ]
    df = spark.createDataFrame(rows, "url string, ts timestamp")
    out = {str(r["day"]): r for r in first_seen_rate(df).collect()}
    a, b = out["2024-01-01"], out["2024-01-02"]
    assert (a["fetches"], a["distinct_urls"], a["novel_urls"]) == (3, 2, 2)
    assert a["novelty_ratio"] == 1.0
    assert (b["fetches"], b["distinct_urls"], b["novel_urls"]) == (2, 2, 1)
    assert b["novelty_ratio"] == 0.5


def test_crawl_budget_apportion_exact_and_invariant(spark):
    from spartan2_spark.operators.rollup import crawl_budget_apportion

    df = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 3)], "domain string, weight long"
    )
    out = {r["key"]: r for r in crawl_budget_apportion(df, 10).collect()}
    # W=11: base a=4 (rem 6), b=2 (rem 8), c=2 (rem 8); leftover 2
    # goes to the two largest remainders (tie b,c broken by key)
    assert (out["a"]["quota"], out["b"]["quota"], out["c"]["quota"]) == (
        4,
        3,
        3,
    )
    assert sum(r["quota"] for r in out.values()) == 10
    # partition-layout invariance: same quotas at a different layout
    out7 = {
        r["key"]: r["quota"]
        for r in crawl_budget_apportion(df.repartition(7), 10).collect()
    }
    assert out7 == {k: r["quota"] for k, r in out.items()}


def test_frontier_interleave_round_robin(spark):
    """Round-robin politeness: position order is every domain's best
    url first, then every second-best; within a round, domains
    alphabetical. Partition-layout invariant."""
    import pandas as pd

    from spartan2_spark.operators.rollup import frontier_interleave

    rows = [
        ("a.com", "a.com/1", 10),
        ("a.com", "a.com/2", 5),
        ("b.com", "b.com/1", 99),
        ("b.com", "b.com/2", 98),
        ("b.com", "b.com/3", 97),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["domain", "url", "priority"])
    )
    out = frontier_interleave(df).orderBy("position").collect()
    assert [r.url for r in out] == [
        "a.com/1", "b.com/1",      # round 1
        "a.com/2", "b.com/2",      # round 2
        "b.com/3",                 # round 3: only b has work left
    ]
    assert [r.position for r in out] == [1, 2, 3, 4, 5]
    # layout invariance: same positions from a different partitioning
    out2 = frontier_interleave(df.repartition(7)).orderBy("position").collect()
    assert [r.url for r in out2] == [r.url for r in out]


def test_ohlc_bars_and_tier_up_parity(spark):
    """OHLC endpoints are lexicographic (ts,v) picks (deterministic
    under ties) and the bar state is re-aggregable: 1h bars merged
    from 1m bar state == 1h bars computed from raw."""
    import pandas as pd

    from pyspark.sql import functions as F

    from spartan2_spark.operators.rollup import ohlc_bars, ohlc_tier_up

    t0 = 1_700_000_000  # on an hour boundary? not necessarily; fine
    rows = [
        ("k", t0 + 0, 50, 2),
        ("k", t0 + 61, 10, 1),    # second minute
        ("k", t0 + 61, 90, 1),    # tied ts: open pick must take v=10
        ("k", t0 + 3700, 70, 3),  # next hour
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "t", "value", "qty"])
    ).select("key", F.to_timestamp("t").alias("ts"), "value", "qty")
    bars = {r.bucket_ts: r for r in ohlc_bars(df, "1h", qty_col="qty").collect()}
    first_hour = min(bars)
    b = bars[first_hour]
    assert b.open == 50 and b.low == 10 and b.high == 90
    assert b.close == 90  # tied last ts -> lexicographic max picks v=90
    assert b.volume == 4 and b.pvsum == 50 * 2 + 10 * 1 + 90 * 1
    assert b.vwap == b.pvsum / b.volume

    m1 = ohlc_bars(df, "1m", qty_col="qty")
    via_tier = ohlc_tier_up(m1, "1h").orderBy("key", "bucket_ts").collect()
    direct = ohlc_bars(df, "1h", qty_col="qty").orderBy("key", "bucket_ts").collect()
    assert [tuple(r) for r in via_tier] == [tuple(r) for r in direct]


def test_url_path_rollup_prefix_sums(spark):
    """Every url contributes one row per ancestor prefix, so a parent's
    fetch count is exactly the number of urls in its subtree."""
    import pandas as pd

    from spartan2_spark.operators.rollup import url_path_rollup

    rows = [("a.com/x/1", 10), ("a.com/x/2", 20), ("a.com/y/1", 5),
            ("b.com", 7)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "nb"]))
    out = {r.prefix: r for r in
           url_path_rollup(df, max_depth=3, bytes_col="nb").collect()}
    assert out["a.com"].fetches == 3 and out["a.com"].bytes == 35
    assert out["a.com/x"].fetches == 2 and out["a.com/x"].bytes == 30
    assert out["a.com/x/1"].fetches == 1
    assert out["b.com"].fetches == 1 and out["b.com"].depth == 1
    assert out["a.com/x/2"].depth == 3


def test_politeness_plan_exact(spark):
    """(fetches-1)*delay serialized wall clock, integer ppm shares
    that floor (never round), and the feasibility flag against the
    window."""
    import pandas as pd

    from spartan2_spark.operators.rollup import politeness_plan

    rows = (["a/p"] * 7) + (["b/p"] * 3) + ["c/q"]
    df = spark.createDataFrame(pd.DataFrame({"url": rows}))
    out = {r.domain: r for r in politeness_plan(df, delay_ms=1000, deadline_s=4).collect()}
    assert out["a"].crawl_ms == 6000 and out["a"].feasible == 0
    assert out["b"].crawl_ms == 2000 and out["b"].feasible == 1
    assert out["c"].crawl_ms == 0 and out["c"].feasible == 1
    total = 8000
    assert out["a"].share_ppm == 6000 * 1_000_000 // total
    assert out["b"].share_ppm == 2000 * 1_000_000 // total
    assert out["c"].share_ppm == 0
    assert out["a"].slack_ms == 4000 - 6000


def test_tier_merge_equals_full_recompute(spark):
    """merge(rollup(early), rollup(late)) is EXACTLY rollup(all) —
    the incremental-refresh invariant — including a 3-way split and
    an empty shard."""
    import pandas as pd

    from spartan2_spark.operators.rollup import rollup_from_points, tier_merge

    rows = []
    for d in range(1, 7):
        for i in range(5):
            rows.append((f"u{i%2}", pd.Timestamp(f"2024-01-0{d} 03:{i:02d}:00"),
                         float(10 * d + i)))
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "ts", "value"]))
    full = rollup_from_points(pts, "1h")
    a = rollup_from_points(pts.filter("day(ts) <= 2"), "1h")
    b = rollup_from_points(pts.filter("day(ts) > 2 and day(ts) <= 4"), "1h")
    c = rollup_from_points(pts.filter("day(ts) > 4"), "1h")
    key = lambda r: (r.url, r.bucket_ts, r.bin)
    want = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax) for r in full.collect()}
    got = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax)
           for r in tier_merge(a, b, c).collect()}
    assert got == want
    empty = rollup_from_points(pts.filter("1=0"), "1h")
    got2 = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax)
            for r in tier_merge(full, empty).collect()}
    assert got2 == want


def test_cache_admission_exact_curve(spark):
    """Planted counts: ranks break ties on url; cumulative hits and
    ppm are exact; the slice stops at capacity."""
    import pandas as pd

    from spartan2_spark.operators.rollup import cache_admission_plan

    rows = ["a"] * 6 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1
    df = spark.createDataFrame(pd.DataFrame({"url": rows}))
    out = sorted(cache_admission_plan(df, capacity=3).collect(),
                 key=lambda r: r.rnk)
    assert [r.url for r in out] == ["a", "b", "c"]  # b before c on tie
    assert [r.cum_hits for r in out] == [6, 9, 12]
    assert out[0].total_fetches == 13
    assert out[2].cum_hit_ppm == 12 * 1_000_000 // 13


def test_week_tier_up_equals_direct(spark):
    """1m -> 1h -> 1d -> 1w from state only equals the direct week
    rollup from raw (the re-aggregability proof one hop further)."""
    import pandas as pd

    from spartan2_spark.operators.rollup import (
        rollup_from_points,
        rollup_tier_up,
    )

    rows = []
    for d in range(1, 15):
        rows.append(("u", pd.Timestamp(f"2024-01-{d:02d} 10:00:00"),
                     float(d * 3)))
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "ts", "value"]))
    chain = rollup_tier_up(
        rollup_tier_up(rollup_tier_up(rollup_from_points(pts, "1m"), "1h"), "1d"),
        "1w",
    )
    direct = rollup_from_points(pts, "1w")
    key = lambda r: (r.url, r.bucket_ts, r.bin)
    got = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax) for r in chain.collect()}
    want = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax) for r in direct.collect()}
    assert got == want and len(got) >= 3  # Jan 2024 spans >= 3 ISO weeks


def test_tier_amplification_exact_ratios(spark):
    """Planted points: known distinct-group counts per tier and exact
    floor ppm ratios; raw level is 1,000,000 ppm of itself."""
    import pandas as pd

    from spartan2_spark.operators.rollup import tier_amplification_audit

    rows = [
        ("u", pd.Timestamp("2024-01-01 10:00:05"), 1.0),
        ("u", pd.Timestamp("2024-01-01 10:00:30"), 1.0),  # same 1m bucket+bin
        ("u", pd.Timestamp("2024-01-01 10:01:00"), 2.0),
        ("u", pd.Timestamp("2024-01-01 11:00:00"), 1.0),
    ]
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "ts", "value"]))
    out = {r.tier: r for r in
           tier_amplification_audit(pts, tiers=("1m", "1h", "1d")).collect()}
    assert out["raw"].state_rows == 4
    assert out["raw"].rows_per_raw_ppm == 1_000_000
    assert out["1m"].state_rows == 3   # the first two rows collapse
    assert out["1h"].state_rows == 3   # 10h has bins {1,2}, 11h has {1}
    assert out["1d"].state_rows == 2   # one day, bins {1,2}
    assert out["1d"].rows_per_raw_ppm == 2 * 1_000_000 // 4


def test_tier_merge_random_splits_property(spark):
    """Property: for RANDOM point sets and RANDOM 3-way shard
    assignments, merge(rollup(shard_i)) == rollup(all) exactly —
    the refresh invariant under adversarial splits, not just the
    planted calendar split."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spartan2_spark.operators.rollup import rollup_from_points, tier_merge

    @given(
        st.lists(
            st.tuples(
                st.integers(0, 2),        # url id
                st.integers(0, 5_000),    # minute offset
                st.integers(-50, 50),     # integer metric value
                st.integers(0, 2),        # shard assignment
            ),
            min_size=1,
            max_size=60,
        )
    )
    @settings(max_examples=5, deadline=None)
    def prop(rows):
        base = pd.Timestamp("2024-01-01")
        pdf = pd.DataFrame(
            {
                "url": [f"u{r[0]}" for r in rows],
                "ts": [base + pd.Timedelta(minutes=r[1]) for r in rows],
                "value": [float(r[2]) for r in rows],
                "shard": [r[3] for r in rows],
            }
        )
        pts = spark.createDataFrame(pdf)
        full = rollup_from_points(pts.drop("shard"), "1h")
        shards = [
            rollup_from_points(pts.filter(f"shard = {i}").drop("shard"), "1h")
            for i in range(3)
        ]
        key = lambda r: (r.url, r.bucket_ts, r.bin)
        want = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax) for r in full.collect()}
        got = {key(r): (r.cnt, r.vsum, r.vmin, r.vmax)
               for r in tier_merge(*shards).collect()}
        assert got == want

    prop()


def test_tier_maps_derive_from_registry(spark):
    """ADVICE r4: a tier name valid in one API must not KeyError in
    another — every tier consumer derives its unit/width/order maps
    from rollup.TIERS, and invalid names raise a clear ValueError."""
    import datetime as dt

    import pytest

    from spartan2_spark.operators.gapfill import densify
    from spartan2_spark.operators.rollup import (
        TIER_WIDTH_S,
        TIERS,
        late_repair_plan,
        tier_freshness,
    )

    assert set(TIER_WIDTH_S) == set(TIERS)

    rows = [
        ("u", dt.datetime(2024, 1, 1 + d, h, 0, 0), 10 + d, d)
        for d in range(3)
        for h in range(4)
    ]
    pts = spark.createDataFrame(rows, "url string, ts timestamp, v long, seq long")

    # "1w" now valid everywhere TIERS advertises it
    fresh = tier_freshness(pts, tiers=("1m", "1w")).collect()
    assert {r.tier for r in fresh} == {"1m", "1w"}
    assert late_repair_plan(pts, seq_col="seq", tiers=("1w",)).count() >= 0

    # invalid names raise ValueError naming the supported set, not KeyError
    with pytest.raises(ValueError, match="1q"):
        tier_freshness(pts, tiers=("1q",))
    with pytest.raises(ValueError, match="bogus"):
        late_repair_plan(pts, seq_col="seq", tiers=("bogus",))
    tier = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), 1)], "url string, bucket_ts timestamp, cnt long"
    )
    with pytest.raises(ValueError, match="5s"):
        densify(tier, tier_name="5s")
