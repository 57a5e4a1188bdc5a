"""densify_fill must reproduce gap_fill(densify(...)) exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from spartan2_spark.operators import gapfill as G
from spartan2_spark.operators import rollup as R


def _tier(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("url"),
        F.col("ts"),
        F.round(F.col("value") * 100).alias("value"),
    )
    t1h = R.rollup_from_points(ev, "1h")
    return R.tier_view(t1h).select("url", "bucket_ts", "cnt", "vmean")


def _canon(df):
    rows = df.select(
        "url",
        F.unix_timestamp("bucket_ts").alias("b"),
        F.col("is_gap").cast("int").alias("g"),
        F.col("vmean").alias("v"),
    ).collect()
    return sorted((r.url, r.b, r.g, r.v) for r in rows)


def test_fused_matches_join_window_interp(spark, sf_dir):
    tier = _tier(spark, sf_dir)
    old = G.gap_fill(G.densify(tier, "1h"), ("vmean",), method="interp")
    new = G.densify_fill(tier, "1h", ("vmean",), method="interp")
    a, b = _canon(old), _canon(new)
    assert len(a) == len(b) > 0
    assert a == b  # bit-identical floats: same expression on same inputs


def test_fused_matches_join_window_ffill(spark, sf_dir):
    tier = _tier(spark, sf_dir)
    old = G.gap_fill(G.densify(tier, "1h"), ("vmean",), method="ffill")
    new = G.densify_fill(tier, "1h", ("vmean",), method="ffill")
    assert _canon(old) == _canon(new)


def test_fused_null_extras_on_gap_rows(spark, sf_dir):
    tier = _tier(spark, sf_dir)
    new = G.densify_fill(tier, "1h", ("vmean",), method="interp")
    gaps = new.filter("is_gap")
    assert gaps.filter(F.col("cnt").isNotNull()).count() == 0
    assert gaps.filter(F.col("vmean").isNull()).count() == 0
