"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship north-rule pipeline (pages -> raw->1m->1h
tier chain) on sf0.001. ``queries()`` / ``oracle_sql()`` — one entry per
implemented operator family from SURVEY.md section 2, cross-checked by
the driver against DuckDB at sf0.01.

Exactness discipline for the oracle comparison: every floating
aggregate is computed over exact fixed-point integers (``round(v*100)``
— the testdata carries 2-decimal doubles) so sums are order-independent
and bit-identical across engines; divisions are performed identically
on both sides. Timestamps are compared as UTC epoch BIGINTs.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spartan2_spark.operators.barrier import barrier as _barrier

from spartan2_spark.operators import rollup as R
from spartan2_spark.operators import gapfill as G
from spartan2_spark.operators import timeseries as TS
from spartan2_spark.operators import windows as WD
from spartan2_spark.operators import graph as GR
from spartan2_spark.operators import compaction as CP


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> (url, ts, value) points in exact centi units."""
    return _events(spark, sf_dir).select(
        F.col("event_type").alias("url"),
        F.col("ts"),
        F.round(F.col("value") * 100).alias("value"),
    )


def _epoch(col: str = "bucket_ts"):
    return F.unix_timestamp(F.col(col)).alias("bucket_s")


def _usec(col: str = "ts"):
    """Exact epoch microseconds. Parquet timestamps load as
    TIMESTAMP_NTZ in Spark 4; cast to LTZ (session tz is pinned UTC)
    so unix_micros resolves and matches DuckDB epoch_us."""
    return F.unix_micros(F.col(col).cast("timestamp"))


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full tier chain raw->1m->1h over sf0.001 events recast
    as the north-rule pages shape (url/warc_ts), returning the 1h view."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _events(spark, sf_dir)
    pages_like = ev.select(
        F.concat(F.lit("https://u"), F.col("user_id"), F.lit(".example.com/"), F.col("event_type")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("props").alias("text"),
    )
    pts = R.raw_points(pages_like, metric=F.length("text").cast("double"))
    t1m = R.rollup_from_points(pts, "1m")
    t1h = R.rollup_tier_up(t1m, "1h")
    return R.tier_view(t1h)


# ---------------------------------------------------------------- queries


def _q_rollup_1m(spark, sf_dir):
    t1m = R.rollup_from_points(_event_points(spark, sf_dir), "1m")
    return R.tier_view(t1m).select(
        F.col("url").alias("series_key"), _epoch(), "cnt", "vmin", "vmax", "vmean", "p95"
    )


def _q_rollup_1h(spark, sf_dir):
    # deliberately via the re-aggregable tier-up path (1m state -> 1h)
    t1m = R.rollup_from_points(_event_points(spark, sf_dir), "1m")
    t1h = R.rollup_tier_up(t1m, "1h")
    return R.tier_view(t1h).select(
        F.col("url").alias("series_key"), _epoch(), "cnt", "vmin", "vmax", "vmean", "p95"
    )


def _q_rollup_1d(spark, sf_dir):
    t1m = R.rollup_from_points(_event_points(spark, sf_dir), "1m")
    t1d = R.rollup_tier_up(R.rollup_tier_up(t1m, "1h"), "1d")
    return R.tier_view(t1d).select(
        F.col("url").alias("series_key"), _epoch(), "cnt", "vmin", "vmax", "vmean", "p95"
    )


def _rollup_oracle(unit: str) -> str:
    return f"""
        SELECT event_type AS series_key,
               CAST(epoch(date_trunc('{unit}', ts)) AS BIGINT) AS bucket_s,
               count(*) AS cnt,
               min(round(value*100)) AS vmin,
               max(round(value*100)) AS vmax,
               sum(round(value*100)) / count(*) AS vmean,
               quantile_disc(round(value*100), 0.95) AS p95
        FROM events GROUP BY 1, 2
    """


def _q_gapfill_ffill(spark, sf_dir):
    t1h = R.rollup_from_points(_event_points(spark, sf_dir), "1h")
    view = R.tier_view(t1h).select("url", "bucket_ts", "cnt")
    filled = G.densify_fill(
        view.withColumn("cntd", F.col("cnt").cast("double")),
        "1h",
        value_cols=("cntd",),
        method="ffill",
    )
    return filled.select(
        F.col("url").alias("series_key"), _epoch(), F.col("cntd").alias("cnt_filled"),
        F.col("is_gap").cast("int").alias("is_gap"),
    )


_GAPFILL_FFILL_SQL = """
    WITH t AS (
      SELECT event_type AS k, date_trunc('hour', ts) AS b, count(*) AS c
      FROM events GROUP BY 1, 2),
    spans AS (SELECT k, min(b) AS mn, max(b) AS mx FROM t GROUP BY 1),
    axis AS (SELECT k, unnest(generate_series(mn, mx, interval 1 hour)) AS b FROM spans),
    d AS (SELECT axis.k, axis.b, t.c FROM axis LEFT JOIN t ON axis.k = t.k AND axis.b = t.b)
    SELECT k AS series_key, CAST(epoch(b) AS BIGINT) AS bucket_s,
           CAST(last_value(c IGNORE NULLS) OVER
             (PARTITION BY k ORDER BY b ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cnt_filled,
           CASE WHEN c IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM d
"""


def _q_gapfill_interp(spark, sf_dir):
    t1h = R.rollup_from_points(_event_points(spark, sf_dir), "1h")
    view = R.tier_view(t1h).select("url", "bucket_ts", "vmean")
    filled = G.densify_fill(view, "1h", value_cols=("vmean",), method="interp")
    return filled.select(
        F.col("url").alias("series_key"),
        _epoch(),
        F.round(F.col("vmean"), 6).alias("vmean_filled"),
    )


_GAPFILL_INTERP_SQL = """
    WITH t AS (
      SELECT event_type AS k, date_trunc('hour', ts) AS b,
             sum(round(value*100)) / count(*) AS v
      FROM events GROUP BY 1, 2),
    spans AS (SELECT k, min(b) AS mn, max(b) AS mx FROM t GROUP BY 1),
    axis AS (SELECT k, unnest(generate_series(mn, mx, interval 1 hour)) AS b FROM spans),
    d AS (SELECT axis.k, axis.b, t.v FROM axis LEFT JOIN t ON axis.k = t.k AND axis.b = t.b),
    f AS (
      SELECT k, b, v,
             CAST(epoch(b) AS DOUBLE) AS tt,
             last_value(v IGNORE NULLS) OVER w_fwd AS prev_v,
             first_value(v IGNORE NULLS) OVER w_bwd AS nxt_v,
             last_value(CASE WHEN v IS NOT NULL THEN CAST(epoch(b) AS DOUBLE) END IGNORE NULLS) OVER w_fwd AS prev_t,
             first_value(CASE WHEN v IS NOT NULL THEN CAST(epoch(b) AS DOUBLE) END IGNORE NULLS) OVER w_bwd AS nxt_t
      FROM d
      WINDOW w_fwd AS (PARTITION BY k ORDER BY b ROWS UNBOUNDED PRECEDING),
             w_bwd AS (PARTITION BY k ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT k AS series_key, CAST(epoch(b) AS BIGINT) AS bucket_s,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN prev_v IS NULL THEN nxt_v
                      WHEN nxt_v IS NULL THEN prev_v
                      ELSE prev_v + (nxt_v - prev_v) * (tt - prev_t) / (nxt_t - prev_t)
                 END, 6) AS vmean_filled
    FROM f
"""


def _q_iat_stats(spark, sf_dir):
    """Inter-arrival stats per user (reference iat.py:23-30 calaggiat)."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    iat = ev.withColumn("iat_us", _usec("ts") - F.lag(_usec("ts")).over(w))
    return iat.filter(F.col("iat_us").isNotNull()).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_iat"),
        (F.sum("iat_us") / F.count(F.lit(1))).alias("mean_iat_us"),
        F.max("iat_us").alias("max_iat_us"),
        F.min("iat_us").alias("min_iat_us"),
    )


_IAT_STATS_SQL = """
    WITH i AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS iat_us
      FROM events)
    SELECT user_id, count(*) AS n_iat, sum(iat_us)/count(*) AS mean_iat_us,
           max(iat_us) AS max_iat_us, min(iat_us) AS min_iat_us
    FROM i WHERE iat_us IS NOT NULL GROUP BY 1
"""


def _q_iat_hist(spark, sf_dir):
    """Global IAT histogram in whole seconds (iat.py:63-71 iatcount/pdf)."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    iat = ev.withColumn("iat_us", _usec("ts") - F.lag(_usec("ts")).over(w))
    hist = (
        iat.filter(F.col("iat_us").isNotNull())
        .groupBy(F.floor(F.col("iat_us") / 1_000_000).alias("iat_s"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = hist.agg(F.sum("cnt").alias("__t"))
    # prob is a SINGLE divide of exact BIGINTs — emitted RAW per the
    # float-oracle discipline (round() would introduce HALF_UP-vs-float
    # boundary divergence, the r4 flow_peel_block bug class)
    return hist.crossJoin(F.broadcast(total)).select(
        "iat_s", "cnt", (F.col("cnt") / F.col("__t")).alias("prob")
    )


_IAT_HIST_SQL = """
    WITH i AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS iat_us
      FROM events),
    h AS (SELECT CAST(floor(iat_us/1000000) AS BIGINT) AS iat_s, count(*) AS cnt
          FROM i WHERE iat_us IS NOT NULL GROUP BY 1)
    SELECT iat_s, cnt,
           CAST(cnt AS DOUBLE) / (SELECT CAST(sum(cnt) AS DOUBLE) FROM h) AS prob
    FROM h
"""


def _q_topk_users(spark, sf_dir):
    """Top-k by activity with deterministic tie-break (iat.py:144-154)."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
    )


_TOPK_USERS_SQL = """
    SELECT user_id, count(*) AS cnt FROM events
    GROUP BY 1 ORDER BY cnt DESC, user_id ASC LIMIT 10
"""


def _q_tpch_q1(spark, sf_dir):
    """Pricing summary (scan->filter->agg), exact fixed-point revenue."""
    li = _lineitem(spark, sf_dir)
    ep_c = F.round(F.col("l_extendedprice") * 100)
    d_c = F.round(F.col("l_discount") * 100)
    t_c = F.round(F.col("l_tax") * 100)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(ep_c) / 100.0).alias("sum_base_price"),
            (F.sum(ep_c * (100 - d_c)) / 10000.0).alias("sum_disc_price"),
            (F.sum(ep_c * (100 - d_c) * (100 + t_c)) / 1000000.0).alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(ep_c) / 100.0 / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(d_c) / 100.0 / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_TPCH_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(round(l_extendedprice*100)) / 100.0 AS sum_base_price,
           sum(round(l_extendedprice*100) * (100 - round(l_discount*100))) / 10000.0 AS sum_disc_price,
           sum(round(l_extendedprice*100) * (100 - round(l_discount*100)) * (100 + round(l_tax*100))) / 1000000.0 AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           sum(round(l_extendedprice*100)) / 100.0 / count(*) AS avg_price,
           sum(round(l_discount*100)) / 100.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def _q_revenue_join(spark, sf_dir):
    """orders x lineitem equi-join + agg; Catalyst picks the strategy
    (broadcast at this scale; sort-merge at 100TB with AQE skew split)."""
    li = _lineitem(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev_c = F.round(F.col("l_extendedprice") * 100) * (100 - F.round(F.col("l_discount") * 100))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            (F.sum(rev_c) / 10000.0).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_REVENUE_JOIN_SQL = """
    SELECT o_orderpriority,
           sum(round(l_extendedprice*100) * (100 - round(l_discount*100))) / 10000.0 AS revenue,
           count(DISTINCT o_orderkey) AS n_orders
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
"""


def _q_anti_join(spark, sf_dir):
    """Customers with no orders, by segment (left_anti ~ NOT EXISTS)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_no_order"))
    )


_ANTI_JOIN_SQL = """
    SELECT c_mktsegment, count(*) AS n_no_order FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
"""


def _q_semi_join(spark, sf_dir):
    """Suppliers that shipped high-quantity lines (left_semi ~ EXISTS)."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    li = _lineitem(spark, sf_dir).filter(F.col("l_quantity") >= 45)
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


_SEMI_JOIN_SQL = """
    SELECT s_nationkey, count(*) AS n_suppliers FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 45)
    GROUP BY 1
"""


def _q_degree_dist(spark, sf_dir):
    """Graph degree aggregation + degree histogram
    (reference graph.py:123-145: row sums + np.bincount)."""
    li = _lineitem(spark, sf_dir)
    deg = li.groupBy("l_suppkey").agg(F.countDistinct("l_partkey").alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_DEGREE_DIST_SQL = """
    WITH deg AS (SELECT l_suppkey, count(DISTINCT l_partkey) AS degree
                 FROM lineitem GROUP BY 1)
    SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1
"""


def _q_adjacency_collapse(spark, sf_dir):
    """Mode-collapse aggregation: sum tensor over complement modes -> 2-D
    adjacency (reference cpu_backend/tensor.py:596-601, graph.py:32)."""
    li = _lineitem(spark, sf_dir)
    return li.groupBy(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    ).agg(F.sum("l_quantity").alias("weight"), F.count(F.lit(1)).alias("multi"))


_ADJ_SQL = """
    SELECT l_partkey AS src, l_suppkey AS dst, sum(l_quantity) AS weight,
           count(*) AS multi
    FROM lineitem GROUP BY 1, 2
"""


def _q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash; canonical = min doc_id."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.groupBy(F.md5(F.col("text")).alias("content_md5")).agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_doc")
    )


_DEDUP_EXACT_SQL = """
    SELECT md5(text) AS content_md5, count(*) AS n_copies,
           min(doc_id) AS canonical_doc
    FROM documents GROUP BY 1
"""


def _q_token_count(spark, sf_dir):
    """Whitespace token counting over documents (text-analysis op)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " +")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
    )


_TOKEN_COUNT_SQL = """
    SELECT doc_id, len(string_split_regex(trim(text), ' +')) AS n_tokens,
           length(text) AS n_chars_obs
    FROM documents
"""


def _q_normalize_minmax(spark, sf_dir):
    """Per-series min-max normalize to [-1,1]
    (reference timeseries.py:458-511: (x-mid)/(max-min)*2)."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("event_type")
    vc = F.round(F.col("value") * 100)
    mn, mx = F.min(vc).over(w), F.max(vc).over(w)
    return ev.select(
        "event_id",
        "event_type",
        F.round((vc - (mx + mn) / 2.0) / (mx - mn) * 2.0, 8).alias("v_norm"),
    )


_NORMALIZE_SQL = """
    SELECT event_id, event_type,
           round((round(value*100) - (max(round(value*100)) OVER w + min(round(value*100)) OVER w) / 2.0)
                 / (max(round(value*100)) OVER w - min(round(value*100)) OVER w) * 2.0, 8) AS v_norm
    FROM events WINDOW w AS (PARTITION BY event_type)
"""


def _q_running_max(spark, sf_dir):
    """Running per-account extremes (MonLAD ZeroOutCore.py:35-44 batch
    replay of maxDict/minDict)."""
    ev = _events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    vc = F.round(F.col("value") * 100)
    return ev.select(
        "event_id",
        "user_id",
        F.max(vc).over(w).alias("run_max"),
        F.min(vc).over(w).alias("run_min"),
        F.sum(vc).over(w).alias("run_sum"),
    )


_RUNNING_MAX_SQL = """
    SELECT event_id, user_id,
           max(round(value*100)) OVER w AS run_max,
           min(round(value*100)) OVER w AS run_min,
           sum(round(value*100)) OVER w AS run_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
"""


def _q_sessionize(spark, sf_dir):
    """Sessionization: new session when gap > 1h; sessions per user."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _usec("ts") - F.lag(_usec("ts")).over(w)
    new_s = F.when(gap.isNull() | (gap > 3600 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


_SESSIONIZE_SQL = """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  IS NULL THEN 1
                  WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 3600000000 THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g)
    SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY 1
"""


def _q_cut_range(spark, sf_dir):
    """Time-range cut (reference timeseries.py:402-456 cut) + agg.
    The predicate prunes partitions at scale (range layout on ts)."""
    ev = _events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.round(F.col("value") * 100)).alias("vsum_c"))
    )


_CUT_RANGE_SQL = """
    SELECT event_type, count(*) AS cnt, sum(round(value*100)) AS vsum_c
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1
"""


def _q_time_bucket_equal_width(spark, sf_dir):
    """Equal-width custom binning with last-bin clamp — the reference
    rollup's exact binning rule (tensor.py:102-123 log_to_time:
    idx = (t - min)//W clamped to the last bin, sum per (bin, group))."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min(_usec("ts")).alias("mn"), F.max(_usec("ts")).alias("mx")
    )
    width_us = 6 * 3600 * 1_000_000
    b = ev.crossJoin(F.broadcast(bounds))
    nbins = F.ceil((F.col("mx") - F.col("mn") + 1) / F.lit(width_us))
    idx = F.least(
        F.floor((_usec("ts") - F.col("mn")) / F.lit(width_us)), nbins - 1
    )
    return (
        b.withColumn("bin_idx", idx)
        .groupBy("bin_idx", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(F.round(F.col("value") * 100)).alias("vsum_c"))
    )


_TIME_BUCKET_SQL = """
    WITH bounds AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events)
    SELECT least(CAST(floor((epoch_us(ts) - mn) / 21600000000) AS BIGINT),
                 CAST(ceil((mx - mn + 1) / 21600000000.0) AS BIGINT) - 1) AS bin_idx,
           event_type, count(*) AS cnt, sum(round(value*100)) AS vsum_c
    FROM events, bounds
    GROUP BY 1, 2
"""


def _q_iat_pairs(spark, sf_dir):
    """Consecutive IAT pair counts (iat.py:73-79)."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"), _usec("ts").alias("ts")
    )
    return TS.iat_pair_count(ev).withColumnRenamed("cnt", "n_pairs")


_IAT_PAIRS_SQL = """
    WITH i AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS iat,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS iat_next
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)))
    SELECT iat, iat_next, count(*) AS n_pairs FROM i
    WHERE iat IS NOT NULL AND iat_next IS NOT NULL
    GROUP BY 1, 2
"""


def _q_infer_freq(spark, sf_dir):
    """freq = n/(t.max()-t.min()) per key (timeseries.py:62-64)."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"), _usec("ts").alias("ts")
    )
    return TS.infer_freq(ev).select("key", F.round((F.col("freq") * 1e6), 9).alias("freq_hz"))


_INFER_FREQ_SQL = """
    SELECT user_id AS key,
           round(count(*) / (CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE)) * 1e6, 9) AS freq_hz
    FROM events GROUP BY 1
"""


def _q_dict_encode(spark, sf_dir):
    """Deterministic dense-id dictionary encoding (StringMapper analogue,
    basicutil.py:150-160; insertion order -> sort order)."""
    li = _lineitem(spark, sf_dir)
    enc, dim = GR.encode_ids(li.select("l_suppkey", "l_partkey"), "l_suppkey")
    return dim.withColumnRenamed("node_key", "suppkey").withColumnRenamed(
        "node_id", "supp_id"
    )


_DICT_ENCODE_SQL = """
    SELECT l_suppkey AS suppkey,
           row_number() OVER (ORDER BY l_suppkey) - 1 AS supp_id
    FROM (SELECT DISTINCT l_suppkey FROM lineitem)
"""


def _q_resample_fourier(spark, sf_dir):
    """Fourier resample per series (timeseries.py:115-145) — whole-series
    FFT kernel, not SQL-expressible -> rows-only check."""
    ev = _events(spark, sf_dir)
    # regularize: per event_type hourly mean series, then resample 2x
    t1h = R.rollup_from_points(_event_points(spark, sf_dir), "1h")
    view = R.tier_view(t1h).select("url", "bucket_ts", "vmean")
    series = G.densify_fill(view, "1h", ("vmean",), method="interp").select(
        F.col("url").alias("key"),
        F.unix_timestamp("bucket_ts").cast("double").alias("ts"),
        F.col("vmean").alias("value"),
    )
    return TS.resample(series, new_freq=2.0 / 3600, old_freq=1.0 / 3600)


def _q_beatlex_summarize(spark, sf_dir):
    """BeatLex vocabulary summarization per series — DTW kernel,
    rows-only check."""
    from spartan2_spark.models.beatlex import summarize

    t1h = R.rollup_from_points(_event_points(spark, sf_dir), "1h")
    view = R.tier_view(t1h).select("url", "bucket_ts", "vmean")
    series = G.densify_fill(view, "1h", ("vmean",), method="interp").select(
        F.col("url").alias("key"),
        F.unix_timestamp("bucket_ts").cast("double").alias("ts"),
        F.col("vmean").alias("value"),
    )
    return summarize(series, smin=20, smax=30, max_vocab=4)


def _q_eigenpulse_density(spark, sf_dir):
    """EigenPulse sliding-window sketch-SVD density — rows-only check."""
    ev = _events(spark, sf_dir)
    return WD.window_spectral_density(
        ev, "2 days", "1 day", row_col="user_id", col_col="event_type"
    )


def _q_monlad_zeroout(spark, sf_dir):
    """MonLAD-family pump/drain cycle replay per account
    (ZeroOutCore.py:19-62 batch replay). Oracle-checked: the sequential
    state machine is equivalent to 'count drained markers whose
    immediately-previous marker is pumped' over the per-key marker
    sequence — pure window SQL (see _MONLAD_SQL); centi-integer amounts
    keep every running sum exact on both engines."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key"),
        _usec("ts").alias("ts"),
        # signed flow: debits for error/purchase events, credits otherwise
        F.when(
            F.col("event_type").isin("error", "purchase"),
            -F.round(F.col("value") * 100),
        )
        .otherwise(F.round(F.col("value") * 100))
        .alias("amount"),
    )
    return WD.zero_out_replay(ev, delta_up=5000.0, epsilon=500.0)


def _q_monlad_cfd(spark, sf_dir):
    """MonLAD CFD-variant replay (ZeroOutCoreCFD.py:3-53): typed
    single-account events — 'purchase' = credit (des_type), 'error' =
    debit (source_type), all other types ignored; up-transitions fire
    only on credits, zero-outs only on debits, and n_credits_in flushes
    the per-cycle pump-credit counter at each zero-out. Marker-sequence
    SQL twin (_MONLAD_CFD_SQL), same centi-integer exactness trick as
    monlad_zeroout."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key"),
        _usec("ts").alias("ts"),
        F.col("event_type").alias("tx_type"),
        F.round(F.col("value") * 100).alias("weight"),
    )
    return WD.zero_out_replay_cfd(
        ev,
        source_type="error",
        des_type="purchase",
        delta_up=2000.0,
        epsilon=200.0,
    )


_MONLAD_CFD_SQL = """
WITH typed AS (
  SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts) AS ts,
         CASE WHEN event_type = 'purchase' THEN ROUND(value*100)
              ELSE -ROUND(value*100) END AS amt,
         (event_type = 'purchase') AS is_credit
  FROM events WHERE event_type IN ('error', 'purchase')),
b1 AS (
  SELECT key, ts, is_credit,
         SUM(amt) OVER (PARTITION BY key ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS bal
  FROM typed),
b2 AS (
  SELECT *, LEAST(0, COALESCE(MIN(bal) OVER (PARTITION BY key ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS run_min
  FROM b1),
mk AS (
  SELECT *, CASE WHEN is_credit AND bal - run_min >= 2000 THEN 'P'
                 WHEN NOT is_credit AND bal - run_min <= 200 THEN 'D' END AS mark
  FROM b2),
seq AS (
  SELECT key, ts, mark,
         LAG(mark) OVER (PARTITION BY key ORDER BY ts) AS prev
  FROM mk WHERE mark IS NOT NULL),
cd AS (SELECT key, ts FROM seq WHERE mark = 'D' AND prev = 'P'),
lastcd AS (SELECT key, MAX(ts) AS last_ts FROM cd GROUP BY key),
zo AS (SELECT key, COUNT(*)::BIGINT AS n_zero_outs FROM cd GROUP BY key),
cin AS (
  SELECT s.key, COUNT(*)::BIGINT AS n_credits_in
  FROM seq s JOIN lastcd l ON s.key = l.key
  WHERE s.mark = 'P' AND s.ts < l.last_ts GROUP BY s.key),
stats AS (
  SELECT key, COUNT(*)::BIGINT AS n_events, MAX(bal) AS max_balance,
         arg_max(bal, ts) AS final_balance
  FROM b1 GROUP BY key)
SELECT st.key, st.n_events, COALESCE(z.n_zero_outs, 0)::BIGINT AS n_zero_outs,
       COALESCE(c.n_credits_in, 0)::BIGINT AS n_credits_in,
       st.max_balance, st.final_balance
FROM stats st LEFT JOIN zo z USING (key) LEFT JOIN cin c USING (key)
"""


_MONLAD_SQL = """
    WITH e AS (
      SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts) AS tsu,
             CASE WHEN event_type IN ('error', 'purchase')
                  THEN -round(value * 100) ELSE round(value * 100) END AS amount
      FROM events),
    b AS (
      SELECT key, tsu,
             sum(amount) OVER (PARTITION BY key ORDER BY tsu) AS bal
      FROM e),
    r AS (
      SELECT key, tsu, bal,
             least(min(bal) OVER (PARTITION BY key ORDER BY tsu), 0) AS run_min
      FROM b),
    m AS (
      SELECT key, tsu, bal,
             CASE WHEN bal - run_min >= 5000 THEN 'P'
                  WHEN bal - run_min <= 500 THEN 'D' END AS mark
      FROM r),
    mk AS (
      SELECT key, mark,
             lag(mark) OVER (PARTITION BY key ORDER BY tsu) AS pmark
      FROM m WHERE mark IS NOT NULL),
    z AS (
      SELECT key,
             sum(CASE WHEN mark = 'D' AND pmark = 'P' THEN 1 ELSE 0 END) AS n_zero_outs
      FROM mk GROUP BY key),
    agg AS (
      SELECT key, count(*) AS n_events, max(bal) AS max_balance,
             arg_max(bal, tsu) AS final_balance
      FROM m GROUP BY key)
    SELECT a.key, a.n_events, CAST(coalesce(z.n_zero_outs, 0) AS BIGINT) AS n_zero_outs,
           a.max_balance, a.final_balance
    FROM agg a LEFT JOIN z USING (key)
"""


def _q_ngram_jaccard(spark, sf_dir):
    """EXACT word-trigram Jaccard similarity join — inverted-index plan
    (explode grams -> equi-join on gram -> count common -> derive
    Jaccard), NOT an all-pairs cross join. Lossless for threshold > 0
    since qualifying pairs share >= 1 gram; the DuckDB twin computes the
    same set via brute-force all-pairs (fine at oracle scale)."""
    from spartan2_spark.operators.dedup import ngram_jaccard_join

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_join(d, "text", "doc_id", n=3, threshold=0.2)


_NGRAM_JACCARD_SQL = """
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split_regex(trim(text), ' +')) - 2, 1)),
               i -> array_to_string(string_split_regex(trim(text), ' +')[i:i+2], ' '))) AS ng
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
             / len(list_distinct(list_concat(a.ng, b.ng))) AS jaccard
    FROM d a, d b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
          / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.2
"""


def _q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking over documents: block key = first
    24 chars of the trimmed text (near-dup reposts share prefixes),
    tie-break doc_id, window 4 — each doc pairs with its next 3
    neighbours in block order. Distributed global ranking + integer
    equi-join; the DuckDB twin is a plain row_number self-join."""
    from spartan2_spark.operators.dedup import sorted_neighborhood_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.substring(F.trim(F.col("text")), 1, 24).alias("bk")
    )
    return sorted_neighborhood_pairs(
        d, [F.col("bk"), F.col("doc_id")], "doc_id", window=4
    )


_SORTED_NEIGHBORHOOD_SQL = """
    WITH r AS (
      SELECT doc_id AS id,
             row_number() OVER (
               ORDER BY substring(trim(text), 1, 24), doc_id) AS rn
      FROM documents)
    SELECT a.id AS id_a, b.id AS id_b, (b.rn - a.rn)::BIGINT AS rank_gap
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
"""


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-2/3- and C4-report style eval-set
    leakage scan): a deterministic 5% of documents plays the held-out
    benchmark (same MINSTD poly-hash bucketing as hash_sample), the
    other 95% is the training corpus; a corpus doc is contaminated when
    >= 5 of its distinct word trigrams appear anywhere in the
    benchmark. Benchmark gram set broadcasts; corpus read once."""
    from spartan2_spark.operators.dedup import decontaminate
    from spartan2_spark.operators.text import _poly_hash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = (_poly_hash(F.col("doc_id").cast("string")) * 48271) % 2147483647 % 100
    d = d.withColumn("__b", b)
    return decontaminate(
        d.filter(F.col("__b") >= 5), d.filter(F.col("__b") < 5),
        "text", "doc_id", n=3, min_overlap=5,
    )


_DECONTAMINATE_SQL = """
    WITH h AS (
      SELECT doc_id, text,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(doc_id::VARCHAR, ''),
                              c -> ascii(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647) * 48271 % 2147483647
               % 100 AS b
      FROM documents),
    g AS (
      SELECT doc_id, b,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split_regex(trim(text), ' +')) - 2, 1)),
               i -> array_to_string(string_split_regex(trim(text), ' +')[i:i+2], ' '))) AS ng
      FROM h),
    bench AS (SELECT DISTINCT unnest(ng) AS gr FROM g WHERE b < 5),
    corp AS (SELECT doc_id, ng FROM g WHERE b >= 5),
    hits AS (
      SELECT doc_id, count(*)::BIGINT AS n_hit
      FROM (SELECT doc_id, unnest(ng) AS gr FROM corp)
      WHERE gr IN (SELECT gr FROM bench)
      GROUP BY doc_id)
    SELECT c.doc_id, len(c.ng)::BIGINT AS n_grams,
           coalesce(h2.n_hit, 0)::BIGINT AS n_hit,
           coalesce(h2.n_hit, 0) >= 5 AS contaminated
    FROM corp c LEFT JOIN hits h2 USING (doc_id)
"""


def _q_substring_spans(spark, sf_dir):
    """Exact-substring duplicate spans (Lee et al. 2022 suffix-array
    dedup rule, distributed): maximal runs of >= 8 consecutive tokens
    occurring at >= 2 (doc, position) sites corpus-wide. Positional
    gram shuffle + per-doc gaps-and-islands merge; no global sort, no
    suffix array."""
    from spartan2_spark.operators.dedup import exact_substring_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_substring_spans(d, "text", "doc_id", l=8, min_count=2)


_SUBSTRING_SPANS_SQL = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, i::BIGINT AS pos, array_to_string(t[i:i+7], ' ') AS g
      FROM toks, UNNEST(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)),
    dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    hits AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM grams WHERE g IN (SELECT g FROM dup))
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           (max(pos) + 7)::BIGINT AS span_end,
           (max(pos) - min(pos) + 8)::BIGINT AS span_tokens
    FROM hits GROUP BY doc_id, isl
"""


def _q_substring_clean(spark, sf_dir):
    """Exact-substring REMOVAL (full Lee et al. 2022 ExactSubstr rule):
    duplicated >= 8-token spans keep their first (doc, pos) occurrence
    and are cut everywhere else; cleaned text rebuilt in token order.
    Keep-first via one min-struct groupBy (no per-gram sort window)."""
    from spartan2_spark.operators.dedup import exact_substring_dedup_text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_substring_dedup_text(d, "text", "doc_id", l=8, min_count=2)


_SUBSTRING_CLEAN_SQL = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, i::BIGINT AS pos, array_to_string(t[i:i+7], ' ') AS g
      FROM toks, UNNEST(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk,
             count(*) OVER (PARTITION BY g) AS n
      FROM grams),
    rem AS (SELECT doc_id, pos FROM ranked WHERE n >= 2 AND rk >= 2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
      FROM rem),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      FROM isl GROUP BY doc_id, i),
    tokpos AS (
      SELECT doc_id, t[p] AS tok, p::BIGINT AS p
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(p)),
    kept AS (
      SELECT tp.doc_id, tp.tok, tp.p
      FROM tokpos tp
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = tp.doc_id
                          AND tp.p BETWEEN s.s AND s.e))
    SELECT t0.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text_clean,
           (len(any_value(t0.t)) - count(k.p))::BIGINT AS n_removed_tokens
    FROM toks t0 LEFT JOIN kept k USING (doc_id)
    GROUP BY t0.doc_id
"""


def _q_ngram_containment(spark, sf_dir):
    """EXACT word-trigram containment join (|A∩B|/|A|, |A∩B|/|B|) —
    asymmetric near-superset detector; same inverted-index plan as the
    Jaccard join, brute-force all-pairs only in the DuckDB twin."""
    from spartan2_spark.operators.dedup import ngram_containment_join

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_containment_join(d, "text", "doc_id", n=3, threshold=0.3)


_NGRAM_CONTAINMENT_SQL = """
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split_regex(trim(text), ' +')) - 2, 1)),
               i -> array_to_string(string_split_regex(trim(text), ' +')[i:i+2], ' '))) AS ng
      FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) AS c,
             len(a.ng) AS n_a, len(b.ng) AS n_b
      FROM d a, d b
      WHERE a.doc_id < b.doc_id AND len(list_intersect(a.ng, b.ng)) > 0)
    SELECT id_a, id_b,
           c / n_a AS cont_a,
           c / n_b AS cont_b
    FROM p WHERE greatest(c / n_a, c / n_b) >= 0.3
"""


def _q_seasonal_anomaly(spark, sf_dir):
    """Seasonal-adjusted 3-sigma anomaly counts per user: residuals vs
    the hour-of-day profile, variance from integer moments; sqrt is
    the only float op in the threshold."""
    from spartan2_spark.operators.anomaly import seasonal_anomaly

    return seasonal_anomaly(_events_series(spark, sf_dir))


_SEASONAL_ANOMALY_SQL = """
    WITH base AS (
      SELECT user_id AS key, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    prof AS (SELECT key, hod, count(*)::BIGINT AS n_h,
                    CAST(sum(v) AS BIGINT) AS sv
             FROM base GROUP BY key, hod),
    res AS (SELECT b.key, CAST(round(b.v - p.sv / p.n_h) AS BIGINT) AS r
            FROM base b JOIN prof p USING (key, hod)),
    stats AS (SELECT key, count(*)::BIGINT AS n,
                     CAST(sum(r) AS BIGINT) AS sr,
                     CAST(sum(r * r) AS BIGINT) AS srr
              FROM res GROUP BY key),
    s AS (SELECT key, n, n * srr - sr * sr AS s2 FROM stats)
    SELECT r.key,
           max(s.n) AS n,
           round(sqrt(CAST(max(s.s2) AS DOUBLE)) / max(s.n) / 100.0, 8)
             AS sigma,
           CAST(sum(CASE WHEN CAST(abs(r.r) AS DOUBLE) * s.n
                              > 3.0 * sqrt(CAST(s.s2 AS DOUBLE))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM res r JOIN s USING (key)
    GROUP BY r.key
"""


def _q_psi_drift(spark, sf_dir):
    """PSI drift per event_type between the first and second half of
    the time range — per-bin terms quantized to 1e-8 before the
    cross-bin sum so the aggregation is an order-independent integer
    sum."""
    from spartan2_spark.operators.anomaly import psi_drift

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("key"), "ts", "value"
    )
    return psi_drift(e)


_PSI_SQL = """
    WITH base AS (
      SELECT event_type AS key, epoch_us(ts) AS us,
             least(9, greatest(0, CAST(floor(value / 10.0) AS BIGINT))) AS bin
      FROM events),
    mid AS (SELECT key, (min(us) + max(us)) // 2 AS mid_us
            FROM base GROUP BY key),
    halves AS (SELECT b.key, b.bin, b.us <= m.mid_us AS is_first
               FROM base b JOIN mid m USING (key)),
    bins AS (SELECT key, bin,
                    CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                    CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT) AS cq
             FROM halves GROUP BY key, bin),
    tot AS (SELECT key, CAST(sum(cp) AS BIGINT) AS np,
                   CAST(sum(cq) AS BIGINT) AS nq
            FROM bins GROUP BY key),
    terms AS (SELECT b.key, t.np, t.nq,
                     CAST(round(((b.cp + 1) / (t.np + 10)
                                 - (b.cq + 1) / (t.nq + 10))
                          * ln(((b.cp + 1) / (t.np + 10))
                               / ((b.cq + 1) / (t.nq + 10)))
                          * 1e8) AS BIGINT) AS tq
              FROM bins b JOIN tot t USING (key))
    SELECT key, max(np) AS n_first, max(nq) AS n_second,
           CAST(sum(tq) AS BIGINT) / 1e8 AS psi
    FROM terms GROUP BY key
"""


def _q_fano_burstiness(spark, sf_dir):
    """Fano dispersion index per user over minute-bucket counts —
    integer moments, one fixed-order division chain."""
    from spartan2_spark.operators.anomaly import fano_burstiness

    return fano_burstiness(_events_series(spark, sf_dir))


_FANO_SQL = """
    WITH b AS (
      SELECT user_id AS key, date_trunc('minute', ts) AS bucket,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2)
    SELECT key,
           count(*)::BIGINT AS n_buckets,
           CAST(sum(c) AS BIGINT) AS total,
           round(CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS DOUBLE)
                 / count(*) / sum(c), 8) AS fano
    FROM b GROUP BY key
"""


def _q_gini_concentration(spark, sf_dir):
    """Gini coefficient of the per-user event-count distribution —
    distributed ascending rank via global_row_numbers, exact BIGINT
    rank-formula sums."""
    from spartan2_spark.operators.partitioning import gini_concentration

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return gini_concentration(e, "user_id")


_GINI_SQL = """
    WITH counts AS (
      SELECT user_id AS key, count(*)::BIGINT AS cnt
      FROM events GROUP BY user_id),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt, key) AS i FROM counts)
    SELECT count(*)::BIGINT AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total,
           round(CAST(2 * sum(i * cnt) - (count(*) + 1) * sum(cnt) AS DOUBLE)
                 / count(*) / sum(cnt), 8) AS gini
    FROM ranked
"""


def _q_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency slope over the top-200 corpus tokens —
    per-term ln values quantized to 1e-5 integers before the moment
    sums, rank from a triangular join on the bounded frame."""
    from spartan2_spark.operators.text import zipf_slope

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_slope(d, "text", top_n=200)


_ZIPF_SQL = """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS token
      FROM documents),
    counts AS (SELECT token, count(*)::BIGINT AS cnt
               FROM tok WHERE token != '' GROUP BY token),
    top AS (SELECT token, cnt FROM counts
            ORDER BY cnt DESC, token LIMIT 200),
    ranked AS (
      SELECT a.token, a.cnt, count(*)::BIGINT AS r
      FROM top a JOIN top b
        ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.token <= a.token)
      GROUP BY a.token, a.cnt),
    q AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e5) AS BIGINT) AS xq,
                 CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e5) AS BIGINT) AS yq
          FROM ranked),
    agg AS (SELECT count(*)::BIGINT AS n,
                   CAST(sum(xq) AS BIGINT) AS sx,
                   CAST(sum(yq) AS BIGINT) AS sy,
                   CAST(sum(xq * xq) AS BIGINT) AS sxx,
                   CAST(sum(xq * yq) AS BIGINT) AS sxy
            FROM q)
    SELECT n AS n_terms,
           round(CASE WHEN n * sxx - sx * sx != 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 END, 8) AS slope
    FROM agg
"""


def _q_vocab_hapax(spark, sf_dir):
    """Corpus lexical diversity: vocab size, token count, hapax count,
    TTR + hapax fraction — exact integers, single divisions."""
    from spartan2_spark.operators.text import vocab_hapax

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_hapax(d, "text")


_HAPAX_SQL = """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS token
      FROM documents),
    counts AS (SELECT token, count(*)::BIGINT AS cnt
               FROM tok WHERE token != '' GROUP BY token)
    SELECT count(*)::BIGINT AS n_vocab,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(count(*) / sum(cnt), 8) AS ttr,
           round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) / count(*), 8)
             AS hapax_frac
    FROM counts
"""


def _q_pmi_collocations(spark, sf_dir):
    """Top-100 bigram collocations by PMI (Church & Hanks 1990),
    min_count=5 — exact counts, one deterministic double expression
    per gram, TakeOrderedAndProject cut."""
    from spartan2_spark.operators.text import pmi_collocations

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_collocations(d, "text", top_n=100, min_count=5)


_PMI_SQL = """
    WITH d AS (
      SELECT string_split_regex(trim(lower(text)), ' +') AS t FROM documents),
    uni AS (
      SELECT w, count(*)::BIGINT AS c FROM (
        SELECT unnest(t) AS w FROM d) WHERE w != '' GROUP BY w),
    ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
    bg AS (
      SELECT gram, string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             count(*)::BIGINT AS c_xy
      FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(t) - 1, 0)),
                 i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM d)
      WHERE string_split(gram, ' ')[1] != ''
        AND string_split(gram, ' ')[2] != ''
      GROUP BY 1, 2, 3
      HAVING count(*) >= 5),
    nbig AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_big FROM bg)
    SELECT bg.gram, bg.c_xy,
           round(ln((bg.c_xy / nbig.n_big)
                    / ((ux.c / ntok.n_uni) * (uy.c / ntok.n_uni))), 8) AS pmi
    FROM bg
    JOIN uni ux ON ux.w = bg.w1
    JOIN uni uy ON uy.w = bg.w2
    CROSS JOIN ntok CROSS JOIN nbig
    ORDER BY pmi DESC, gram LIMIT 100
"""


def _q_lsh_label_purity(spark, sf_dir):
    """Weighted majority-label purity of portable sign-LSH buckets —
    the embedding-quality pre-flight; exact integer bucket bits and
    counts."""
    from spartan2_spark.operators.similarity import lsh_label_purity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_label_purity(e, "embedding", "label", n_planes=16, dim=64)


_LSH_PURITY_SQL = """
    WITH pl AS (SELECT p.p AS p,
                  list(CAST(((2*p.p+3)*(i.i+1)*40503 + p.p*p.p*7) % 65536 - 32768
                       AS DOUBLE) ORDER BY i.i) AS w
           FROM range(0, 16) p(p), range(0, 64) i(i) GROUP BY p.p),
    v AS (SELECT vec_id, label,
                 list_transform(embedding,
                                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS DOUBLE)) AS q
          FROM embeddings),
    bk AS (SELECT v.vec_id, v.label,
                  CAST(sum(CASE WHEN list_inner_product(v.q, pl.w) >= 0
                           THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS bucket
           FROM v, pl GROUP BY 1, 2),
    cnt AS (SELECT bucket, label, count(*)::BIGINT AS c
            FROM bk GROUP BY 1, 2),
    pb AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_b,
                  CAST(max(c) AS BIGINT) AS maj
           FROM cnt GROUP BY bucket)
    SELECT count(*)::BIGINT AS n_buckets,
           CAST(sum(n_b) AS BIGINT) AS n_vecs,
           CAST(sum(maj) AS DOUBLE) / sum(n_b) AS purity
    FROM pb
"""


def _q_lm_perplexity(spark, sf_dir):
    """CCNet/RedPajama-style LM perplexity filter (text.char_lm_counts
    + text.lm_perplexity): a char-trigram LM trained on the even-id
    reference slice, broadcast to score every document — add-one
    smoothing over exact integer counts, per-gram ln p quantized to
    1e-8 before the order-independent per-doc integer sum; ppl is the
    one rounded float."""
    from spartan2_spark.operators.text import char_lm_counts, lm_perplexity

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = char_lm_counts(d.filter(F.col("doc_id") % 2 == 0), "text", n=3)
    return lm_perplexity(d, model, "text", "doc_id", n=3)


_LM_PPL_SQL = """
    WITH refg AS (
      SELECT unnest(list_transform(generate_series(1, length(text) - 2),
                    i -> substring(text, i, 3))) AS g
      FROM documents WHERE doc_id % 2 = 0 AND length(text) >= 3),
    m AS (SELECT substring(g, 1, 2) AS ctx, substring(g, 3, 1) AS ch,
                 count(*)::BIGINT AS c
          FROM refg GROUP BY 1, 2),
    tot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS ctx_total FROM m GROUP BY 1),
    v AS (SELECT count(DISTINCT ch)::BIGINT AS vv FROM m),
    dg AS (SELECT id, substring(g, 1, 2) AS ctx, substring(g, 3, 1) AS ch
           FROM (SELECT doc_id AS id,
                        unnest(list_transform(generate_series(1, length(text) - 2),
                               i -> substring(text, i, 3))) AS g
                 FROM documents WHERE length(text) >= 3)),
    sc AS (SELECT dg.id,
                  CAST(round(ln(CAST(coalesce(m.c, 0) + 1 AS DOUBLE)
                                / (coalesce(tot.ctx_total, 0) + v.vv)) * 1e8)
                       AS BIGINT) AS lq
           FROM dg LEFT JOIN m ON m.ctx = dg.ctx AND m.ch = dg.ch
                   LEFT JOIN tot ON tot.ctx = dg.ctx
                   CROSS JOIN v),
    pd AS (SELECT id, count(*)::BIGINT AS n_grams,
                  CAST(-sum(lq) AS BIGINT) AS nll_q
           FROM sc GROUP BY 1)
    SELECT d.doc_id AS id,
           CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
           pd.nll_q,
           round(exp(CAST(pd.nll_q AS DOUBLE) / 1e8 / pd.n_grams), 6) AS ppl
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN pd ON pd.id = d.doc_id
"""


def _q_doc_entropy(spark, sf_dir):
    """Per-doc Shannon entropy of the token distribution — per-term
    contributions quantized to 1e-8 before the per-doc integer sum."""
    from spartan2_spark.operators.text import doc_entropy

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_entropy(d, "text", "doc_id")


_DOC_ENTROPY_SQL = """
    WITH tok AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS w
      FROM documents),
    cnt AS (SELECT id, w, count(*)::BIGINT AS c
            FROM tok WHERE w != '' GROUP BY 1, 2),
    tot AS (SELECT id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY id),
    t AS (SELECT cnt.id, tot.n,
                 CAST(round((cnt.c / tot.n) * ln(cnt.c / tot.n) * 1e8)
                      AS BIGINT) AS tq
          FROM cnt JOIN tot USING (id))
    SELECT id, max(n) AS n_tokens,
           -CAST(sum(tq) AS BIGINT) / 1e8 AS entropy_nats
    FROM t GROUP BY id
"""


def _q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per supplier on the co-part
    projection — triangles + degrees, exact integers, one division."""
    from spartan2_spark.operators.graph import clustering_coeff

    li = _lineitem(spark, sf_dir).select("l_partkey", "l_suppkey").distinct()
    ok = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= 200)
        .select("l_partkey")
    )
    li = li.join(ok, "l_partkey")
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_partkey")
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
        .distinct()
        # barrier: the triangle + degree branches fan out 8 ways from
        # this relation (PLAN_AUDIT measured 8 raw scans unbarriered)
        .transform(_barrier)
    )
    return clustering_coeff(pairs)


_CLUSTER_COEFF_SQL = """
    WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok AS (SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) <= 200),
    lf AS (SELECT li.* FROM li JOIN ok USING (l_partkey)),
    e AS (SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v
          FROM lf x JOIN lf y USING (l_partkey)
          WHERE x.l_suppkey < y.l_suppkey),
    tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
            FROM e ab JOIN e bc ON ab.v = bc.u
                      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
    pn AS (SELECT node, count(*)::BIGINT AS n_triangles FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY node),
    deg AS (SELECT node, count(*)::BIGINT AS degree FROM (
              SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node),
    nodes AS (SELECT DISTINCT u AS node FROM e UNION SELECT v FROM e)
    SELECT n.node, deg.degree,
           coalesce(pn.n_triangles, 0) AS n_triangles,
           round(CASE WHEN deg.degree >= 2
                      THEN 2 * coalesce(pn.n_triangles, 0)
                           / (deg.degree * (deg.degree - 1))
                      ELSE 0.0 END, 8) AS clustering_coeff
    FROM nodes n LEFT JOIN pn USING (node) JOIN deg USING (node)
"""


def _q_burst_islands(spark, sf_dir):
    """Maximal burst runs per user (gaps-and-islands on hot minute
    buckets, count >= 2) — integer bucket indices throughout."""
    from spartan2_spark.operators.anomaly import burst_islands

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("key"), "ts"
    )
    return burst_islands(e, grain_seconds=60, threshold=2)


_BURST_ISLANDS_SQL = """
    WITH b AS (
      SELECT user_id AS key, (epoch_us(ts) // 1000000) // 60 AS bidx
      FROM events),
    c AS (SELECT key, bidx, count(*)::BIGINT AS c
          FROM b GROUP BY 1, 2 HAVING count(*) >= 2),
    isl AS (SELECT key, bidx, c,
                   bidx - row_number() OVER (PARTITION BY key ORDER BY bidx)
                     AS island
            FROM c),
    runs AS (SELECT key, island, count(*)::BIGINT AS len_buckets,
                    CAST(sum(c) AS BIGINT) AS n_events,
                    CAST(min(bidx) AS BIGINT) AS start_bidx
             FROM isl GROUP BY 1, 2)
    SELECT key, count(*)::BIGINT AS n_bursts,
           CAST(max(len_buckets) AS BIGINT) AS longest_burst,
           CAST(max(n_events) AS BIGINT) AS max_burst_events,
           CAST(min(start_bidx) AS BIGINT) AS first_burst_bidx
    FROM runs GROUP BY key
"""


def _q_session_stats(spark, sf_dir):
    """Per-user session dwell statistics on the 1h-gap sessionization:
    session count, mean/max duration, mean events per session — exact
    integer durations, single closing divisions."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _usec("ts") - F.lag(_usec("ts")).over(w)
    new_s = F.when(gap.isNull() | (gap > 3600 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        (F.max(_usec("ts")) - F.min(_usec("ts"))).alias("dur_us"),
        F.count(F.lit(1)).alias("ne"),
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("ne").cast("long").alias("n_events"),
        F.max("dur_us").cast("long").alias("max_dur_us"),
        # no round(): at ~1e8 magnitude the 8th decimal sits at the
        # double's last ulp, where Spark's BigDecimal rounding and
        # DuckDB's float rounding disagree; the raw IEEE division of
        # exact integers is already engine-identical
        (F.sum("dur_us") / F.count(F.lit(1))).alias("mean_dur_us"),
        (F.sum("ne") / F.count(F.lit(1))).alias("mean_events"),
    )


_SESSION_STATS_SQL = """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  IS NULL THEN 1
                  WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 3600000000 THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g),
    per AS (SELECT user_id, session_id,
                   max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us,
                   count(*)::BIGINT AS ne
            FROM s GROUP BY 1, 2)
    SELECT user_id,
           count(*)::BIGINT AS n_sessions,
           CAST(sum(ne) AS BIGINT) AS n_events,
           CAST(max(dur_us) AS BIGINT) AS max_dur_us,
           sum(dur_us) / count(*) AS mean_dur_us,
           sum(ne) / count(*) AS mean_events
    FROM per GROUP BY user_id
"""


def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sample (Efraimidis-Spirakis A-ES): key =
    -ln(u)/w with u a hash-derived uniform and w = n_chars; smallest 20
    keys win. No RNG — the same sample falls out on any engine or
    cluster size, pinnable in a manifest; long docs are proportionally
    likelier. All doubles are single deterministic expressions from
    exact integers; the cut is TakeOrderedAndProject."""
    from spartan2_spark.operators.text import _poly_hash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = (_poly_hash(F.col("doc_id").cast("string")) * 48271) % 2147483647
    u = (h % 1000003 + 1) / 1000004.0
    key = -F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))
    return (
        d.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(20)
        .select("doc_id", "n_chars", F.round("es_key", 12).alias("es_key"))
    )


_WEIGHTED_SAMPLE_SQL = """
    WITH h AS (
      SELECT doc_id, n_chars,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(doc_id::VARCHAR, ''),
                              c -> ascii(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647) * 48271 % 2147483647
               AS hv
      FROM documents),
    k AS (SELECT doc_id, n_chars,
                 -ln((hv % 1000003 + 1) / 1000004.0)
                   / greatest(n_chars, 1) AS es_key
          FROM h)
    SELECT doc_id, n_chars, round(es_key, 12) AS es_key
    FROM k ORDER BY es_key, doc_id LIMIT 20
"""


def _q_key_skew_profile(spark, sf_dir):
    """Shuffle-key skew diagnostic: top-20 heaviest user_ids with
    share + cumulative share — the measurement feeding the salting
    planner (partitioning.domain_salt_map). Window-free: rank/cum via
    a triangular broadcast self-join on the bounded top-k frame."""
    from spartan2_spark.operators.partitioning import key_skew_profile

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return key_skew_profile(e, "user_id", k=20)


_KEY_SKEW_SQL = """
    WITH counts AS (
      SELECT user_id AS key, count(*)::BIGINT AS cnt
      FROM events GROUP BY user_id),
    stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     count(*)::BIGINT AS n_keys
              FROM counts),
    top AS (SELECT key, cnt FROM counts ORDER BY cnt DESC, key LIMIT 20),
    ranked AS (
      SELECT a.key, a.cnt, count(*)::BIGINT AS rnk,
             CAST(sum(b.cnt) AS BIGINT) AS cum_cnt
      FROM top a JOIN top b
        ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.key <= a.key)
      GROUP BY a.key, a.cnt)
    SELECT r.key, r.rnk, r.cnt, s.n_keys,
           CAST(r.cnt AS DOUBLE) / s.total AS share,
           CAST(r.cum_cnt AS DOUBLE) / s.total AS cum_share
    FROM ranked r CROSS JOIN stats s
"""


def _q_quality_score(spark, sf_dir):
    """Text quality heuristics (length/punct/stopword/word-length)."""
    from spartan2_spark.operators.text import quality_score

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(d, "text").select(
        "doc_id", "q_n_tokens", "q_punct_ratio", "q_stop_ratio",
        "q_mean_word_len", "q_score",
    )


_QUALITY_SQL = """
    WITH f AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), ' +')) AS n_tok,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             len(list_filter(string_split_regex(trim(lower(text)), ' +'),
                 t -> t IN ('the','and','of','to','in','is','that','with','for','it'))) AS n_stop
      FROM documents)
    SELECT doc_id,
           n_tok AS q_n_tokens,
           n_punct / greatest(n_chars, 1) AS q_punct_ratio,
           n_stop / greatest(n_tok, 1) AS q_stop_ratio,
           n_chars / greatest(n_tok, 1) AS q_mean_word_len,
           round(CASE WHEN n_tok < 5 THEN 0.0 ELSE
             least(n_tok / 200.0, 1.0) * 0.25
             + least(n_stop / greatest(n_tok, 1) * 5.0, 1.0) * 0.25
             + n_alpha / greatest(n_chars, 1) * 0.25
             + CASE WHEN n_chars / greatest(n_tok, 1) >= 3
                     AND n_chars / greatest(n_tok, 1) <= 12 THEN 0.25 ELSE 0.0 END
           END, 8) AS q_score
    FROM f
"""


def _q_repetition_stats(spark, sf_dir):
    """Gopher repetition filters: dup-line / dup-3-gram / top-2-gram
    fractions — integer counts + single divisions, value-exact."""
    from spartan2_spark.operators.text import repetition_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(d)


_REPETITION_SQL = """
    WITH t AS MATERIALIZED (
      SELECT doc_id AS id,
             string_split_regex(trim(lower(coalesce(text, ''))), ' +') AS tok,
             string_split(coalesce(text, ''), chr(10)) AS lines
      FROM documents),
    g AS MATERIALIZED (
      SELECT id, tok, lines,
             list_transform(range(1, greatest(len(tok), 1)),
                            i -> tok[i] || ' ' || tok[i+1]) AS g2,
             list_transform(range(1, greatest(len(tok) - 1, 1)),
                            i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]) AS g3
      FROM t),
    top2 AS (
      SELECT id, max(cnt) AS top2_cnt FROM (
        SELECT id, gram, count(*) AS cnt
        FROM (SELECT id, unnest(g2) AS gram FROM g)
        GROUP BY id, gram)
      GROUP BY id)
    SELECT g.id,
           len(tok)::BIGINT AS n_tokens,
           len(lines)::BIGINT AS n_lines,
           (len(lines) - len(list_distinct(lines)))
             / greatest(len(lines), 1) AS dup_line_frac,
           (len(g3) - len(list_distinct(g3)))
             / greatest(len(g3), 1) AS dup_3gram_frac,
           coalesce(top2_cnt, 0) / greatest(len(g2), 1) AS top_2gram_frac
    FROM g LEFT JOIN top2 ON top2.id = g.id
"""


def _q_c4_filters(spark, sf_dir):
    """C4 line-level heuristics + keep/drop verdict (codegen-only)."""
    from spartan2_spark.operators.text import c4_line_filters

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return c4_line_filters(d)


_C4_FILTERS_SQL = """
    WITH t AS (
      SELECT doc_id AS id,
             string_split(coalesce(text, ''), chr(10)) AS lines,
             len(string_split_regex(trim(lower(coalesce(text, ''))), ' +')) AS n_tok,
             lower(coalesce(text, '')) AS low
      FROM documents),
    f AS (
      SELECT id, n_tok,
             len(lines) AS n_lines,
             round(len(list_filter(lines,
                   l -> right(rtrim(l), 1) IN ('.', '!', '?', '"')))
                   / greatest(len(lines), 1), 8) AS end_punct_frac,
             round(len(list_filter(lines, l -> length(trim(l)) < 30))
                   / greatest(len(lines), 1), 8) AS short_line_frac,
             CAST(contains(low, '{') AS BIGINT) AS has_curly,
             CAST(contains(low, 'javascript') AS BIGINT) AS has_javascript,
             CAST(contains(low, 'lorem ipsum') AS BIGINT) AS has_lorem
      FROM t)
    SELECT id, n_lines::BIGINT AS n_lines, end_punct_frac, short_line_frac,
           has_curly, has_javascript, has_lorem,
           CAST(end_punct_frac >= 0.2 AND n_tok >= 5
                AND has_curly + has_lorem = 0 AS BIGINT) AS keep
    FROM f
"""


def _events_series(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("key"), "ts", "value", "event_id"
        )
    )


def _q_paa_segments(spark, sf_dir):
    """Piecewise Aggregate Approximation over each user's event-value
    series: 8 equal-count segments, centi-quantized means (exact)."""
    from spartan2_spark.operators.timeseries import paa

    return paa(_events_series(spark, sf_dir), 8, order_cols=("event_id",))


_PAA_SQL = """
    WITH pos AS (
      SELECT user_id AS key,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    seg AS (SELECT key, CAST(floor(p * 8 / n) AS BIGINT) AS segment, v FROM pos)
    SELECT key, segment,
           CAST(sum(v) AS BIGINT) / count(*) / 100.0 AS paa_mean,
           count(*)::BIGINT AS n_points
    FROM seg GROUP BY key, segment
"""


def _q_sax_words(spark, sf_dir):
    """SAX symbolization of the PAA means: alphabet 'abcd' on fixed
    raw-value breakpoints (20, 45, 80) — one word per user."""
    from spartan2_spark.operators.timeseries import paa, sax_symbols

    p = paa(_events_series(spark, sf_dir), 8, order_cols=("event_id",))
    return sax_symbols(p, breakpoints=(20.0, 45.0, 80.0))


_SAX_SQL = """
    WITH pos AS (
      SELECT user_id AS key,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    seg AS (SELECT key, CAST(floor(p * 8 / n) AS BIGINT) AS segment, v FROM pos),
    m AS (SELECT key, segment,
                 CAST(sum(v) AS BIGINT) / count(*) / 100.0 AS paa_mean
          FROM seg GROUP BY key, segment),
    lett AS (SELECT key, segment,
                    substring('abcd',
                      1 + (CASE WHEN paa_mean >= 20.0 THEN 1 ELSE 0 END)
                        + (CASE WHEN paa_mean >= 45.0 THEN 1 ELSE 0 END)
                        + (CASE WHEN paa_mean >= 80.0 THEN 1 ELSE 0 END), 1) AS symbol
             FROM m)
    SELECT key, string_agg(symbol, '' ORDER BY segment) AS sax_word,
           count(*)::BIGINT AS n_segments
    FROM lett GROUP BY key
"""


def _q_autocorr_lag(spark, sf_dir):
    """Per-user lag-1 raw autocovariance moment on centi-quantized
    values — exact integer product sums."""
    from spartan2_spark.operators.timeseries import autocorr_lag

    return autocorr_lag(
        _events_series(spark, sf_dir), lag=1, order_cols=("event_id",)
    )


_AUTOCORR_SQL = """
    WITH q AS (
      SELECT user_id AS key,
             CAST(round(value * 100) AS BIGINT) AS x,
             lag(CAST(round(value * 100) AS BIGINT), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x_lag
      FROM events)
    SELECT key, count(*)::BIGINT AS n_pairs,
           CAST(sum(x * x_lag) AS BIGINT) AS sum_xy,
           CAST(sum(x * x_lag) AS BIGINT) / count(*) / 10000.0 AS lag_moment
    FROM q WHERE x_lag IS NOT NULL GROUP BY key
"""


def _q_mad_outliers(spark, sf_dir):
    """Median/MAD robust outlier counts per user: centi-quantized,
    doubled values keep both medians on exact doubles so the
    3*1.4826*MAD threshold compares identically cross-engine."""
    from spartan2_spark.operators.anomaly import mad_outliers

    return mad_outliers(_events_series(spark, sf_dir))


_MAD_SQL = """
    WITH q AS (
      SELECT user_id AS key,
             CAST(round(value * 100) AS BIGINT) * 2 AS v2
      FROM events),
    med AS (SELECT key, quantile_cont(v2, 0.5) AS med2 FROM q GROUP BY key),
    dev AS (SELECT q.key, med2, abs(v2 - med2) AS dev2
            FROM q JOIN med USING (key)),
    mad AS (SELECT key, count(*)::BIGINT AS n, max(med2) AS med2,
                   quantile_cont(dev2, 0.5) AS mad2
            FROM dev GROUP BY key)
    SELECT d.key,
           max(m.n) AS n,
           max(m.med2) / 200.0 AS median,
           max(m.mad2) / 200.0 AS mad,
           CAST(sum(CASE WHEN d.dev2 > 3.0 * 1.4826 * m.mad2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (key)
    GROUP BY d.key
"""


def _q_linear_trend(spark, sf_dir):
    """Per-user OLS trend over the observation index — closed
    normal-equation form on exact integer moment sums; the closing
    division is the only float op."""
    from spartan2_spark.operators.timeseries import linear_trend

    return linear_trend(_events_series(spark, sf_dir), order_cols=("event_id",))


_LINTREND_SQL = """
    WITH q AS (
      SELECT user_id AS key,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 1 AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    s AS (SELECT key, count(*)::BIGINT AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM q GROUP BY key)
    SELECT key, n,
           CASE WHEN n * sxx - sx * sx != 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0
           END AS slope,
           CASE WHEN n * sxx - sx * sx != 0
                THEN (sy / 100.0
                      - ((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0)
                        * sx) / n
           END AS intercept
    FROM s
"""


def _q_asof_join(spark, sf_dir):
    """Backward as-of join (union + running last, NOT a range join):
    every event aligned to its user's latest hourly max-quote at or
    before the event timestamp; DuckDB's native ASOF JOIN is the twin."""
    from spartan2_spark.operators.timeseries import asof_join

    e = _events_series(spark, sf_dir)
    quotes = e.groupBy(
        "key", F.date_trunc("hour", F.col("ts")).alias("ts")
    ).agg(F.max("value").alias("quote"))
    out = asof_join(e, quotes, value_cols=("quote",))
    return out.select(
        "key",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("asof_ts_us"),
        F.col("quote_asof").alias("quote"),
    )


_ASOF_SQL = """
    WITH e AS (SELECT user_id AS key, ts, event_id, value FROM events),
    quotes AS (SELECT key, date_trunc('hour', ts) AS qts, max(value) AS quote
               FROM e GROUP BY 1, 2)
    SELECT e.key, e.event_id,
           epoch_us(e.ts) AS ts_us,
           epoch_us(q.qts) AS asof_ts_us,
           q.quote AS quote
    FROM e ASOF LEFT JOIN quotes q ON e.key = q.key AND e.ts >= q.qts
"""


def _q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-200 tokens by document frequency then
    total count — the tokenizer-training / stopword-mining primitive.
    explode -> two map-side-combinable aggs; integer counts."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    return (
        d.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct(F.col("doc_id")).alias("df"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), F.asc("token"))
        .limit(200)
    )


_VOCAB_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS token
      FROM documents)
    SELECT token, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
    FROM tok GROUP BY token
    ORDER BY df DESC, tf DESC, token ASC LIMIT 200
"""


def _q_hash_sample(spark, sf_dir):
    """Deterministic hash sampling: keep a doc iff
    poly_hash(doc_id) mod 100 < 10 — the reproducible, engine-portable
    10% sample a pipeline pins in its manifest (no RNG, no seed drift;
    the same doc set falls out on ANY engine or cluster size)."""
    from spartan2_spark.operators.text import _poly_hash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # multiplicative finalizer: the raw poly fold barely mixes short
    # digit keys (consecutive ids -> consecutive hashes), so spread it
    # with a MINSTD step before bucketing
    h = (_poly_hash(F.col("doc_id").cast("string")) * 48271) % 2147483647
    return (
        d.withColumn("bucket", h % 100)
        .filter(F.col("bucket") < 10)
        .select("doc_id", "n_chars", "bucket")
    )


_HASH_SAMPLE_SQL = """
    WITH h AS (
      SELECT doc_id, n_chars,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(doc_id::VARCHAR, ''),
                              c -> ascii(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647) * 48271 % 2147483647
               % 100 AS bucket
      FROM documents)
    SELECT doc_id, n_chars, bucket FROM h WHERE bucket < 10
"""


def _q_lttb(spark, sf_dir):
    """Parallel LTTB downsampling of each user's value series to 16
    buckets (mean-anchored triangles, integer factors, deterministic
    IEEE products) — value-exact."""
    from spartan2_spark.operators.timeseries import lttb_parallel

    return lttb_parallel(
        _events_series(spark, sf_dir), 16, order_cols=("event_id",)
    )


_LTTB_SQL = """
    WITH base AS (
      SELECT user_id AS key,
             row_number() OVER w - 1 AS p,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(floor((epoch_us(ts) - min(epoch_us(ts))
                 OVER (PARTITION BY user_id)) / 1000000) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    b2 AS (SELECT key, CAST(floor(p * 16 / n) AS BIGINT) AS bucket, p, x, y
           FROM base),
    stats AS (SELECT key, bucket, count(*)::BIGINT AS c,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
              FROM b2 GROUP BY 1, 2),
    nb AS (SELECT key, bucket,
                  lag(c) OVER wb AS cp, lag(sx) OVER wb AS sxp,
                  lag(sy) OVER wb AS syp,
                  lead(c) OVER wb AS cn, lead(sx) OVER wb AS sxn,
                  lead(sy) OVER wb AS syn
           FROM stats WINDOW wb AS (PARTITION BY key ORDER BY bucket)),
    cand AS (SELECT b2.*, nb.cp, nb.sxp, nb.syp, nb.cn, nb.sxn, nb.syn
             FROM b2 JOIN nb USING (key, bucket)),
    scored AS (SELECT *,
        CASE WHEN cp IS NULL OR cn IS NULL THEN NULL
             ELSE abs(CAST(sxp*cn - sxn*cp AS DOUBLE) * CAST(y*cp - syp AS DOUBLE)
                    - CAST(sxp - x*cp AS DOUBLE) * CAST(syn*cp - syp*cn AS DOUBLE))
        END AS area
        FROM cand),
    ranked AS (SELECT *,
        CASE WHEN cp IS NOT NULL AND cn IS NOT NULL
             THEN row_number() OVER (PARTITION BY key, bucket
                                     ORDER BY area DESC NULLS LAST, p ASC)
             ELSE row_number() OVER (PARTITION BY key, bucket
                    ORDER BY (CASE WHEN cp IS NULL THEN p ELSE -p END) ASC)
        END AS rn
        FROM scored)
    SELECT key, bucket, p, x, y, coalesce(area, -1.0) AS area
    FROM ranked WHERE rn = 1
"""


def _q_countmin(spark, sf_dir):
    """Count-min sketch (depth 4 x width 256) over event user ids:
    exact top-20 heavy hitters joined with their sketch estimates
    (estimate >= exact; collisions visible at width 256). Poly-hash
    family -> value-exact twin."""
    from spartan2_spark.functions.sketches import (
        countmin_build,
        countmin_estimate,
    )

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key")
    )
    # barrier the two state-sized relations: the estimate probe and the
    # closing join re-reference them, which re-scanned raw 6x
    # (PLAN_AUDIT); raw itself is read exactly twice (sketch build +
    # exact census), which is the true lower bound here
    sk = countmin_build(ev, depth=4, width=256).transform(_barrier)
    exact = (
        ev.groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("key"))
        .limit(20)
    ).transform(_barrier)
    est = countmin_estimate(sk, exact.select("key"), depth=4, width=256)
    return exact.join(est, "key").select(
        F.col("key").cast("long").alias("user_id"),
        "exact_cnt",
        "cms_estimate",
    )


_COUNTMIN_SQL = """
    WITH ev AS (SELECT user_id::VARCHAR AS key FROM events),
    ph AS MATERIALIZED (
      SELECT key, list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(key, ''), c -> ascii(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647) AS h
      FROM ev),
    cl AS (SELECT j.j AS j,
                  ((2*j.j+1)*h + j.j*j.j+7) % 2147483647 % 256 AS cell
           FROM ph, range(0, 4) j(j)),
    sk AS (SELECT j, cell, count(*)::BIGINT AS cnt FROM cl GROUP BY 1, 2),
    exact AS (SELECT key, count(*)::BIGINT AS exact_cnt FROM ev
              GROUP BY key ORDER BY exact_cnt DESC, key ASC LIMIT 20),
    pr AS (SELECT e.key, j.j AS j,
                  ((2*j.j+1)*p.h + j.j*j.j+7) % 2147483647 % 256 AS cell
           FROM exact e JOIN (SELECT DISTINCT key, h FROM ph) p USING (key),
                range(0, 4) j(j)),
    est AS (SELECT pr.key, min(coalesce(sk.cnt, 0)) AS cms_estimate
            FROM pr LEFT JOIN sk USING (j, cell) GROUP BY pr.key)
    SELECT CAST(e.key AS BIGINT) AS user_id, e.exact_cnt, est.cms_estimate
    FROM exact e JOIN est USING (key)
"""


def _q_interval_join(spark, sf_dir):
    """Response-window range join: each purchase opens a 10-minute
    window; count/sum the user's OTHER events inside it. Bucketized
    equi-join (grain = window length), exact containment filter;
    twin is DuckDB's native theta join."""
    from spartan2_spark.operators.timeseries import interval_join

    e = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        "event_type",
    )
    anchors = e.filter(F.col("event_type") == "purchase").select(
        "key",
        F.col("event_id").alias("anchor_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"),
    )
    j = interval_join(
        e.select("key", "ts", "event_id", "v"), anchors, grain_seconds=600
    ).filter(F.col("event_id") != F.col("anchor_id"))
    agg = j.groupBy("key", "anchor_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.sum("v").alias("v_sum_centi"),
    )
    return anchors.join(agg, ["key", "anchor_id"], "left").select(
        "key",
        "anchor_id",
        F.coalesce("n_follow", F.lit(0)).alias("n_follow"),
        F.coalesce("v_sum_centi", F.lit(0)).alias("v_sum_centi"),
    )


_INTERVAL_JOIN_SQL = """
    WITH e AS (SELECT user_id AS key, ts, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v, event_type
               FROM events),
    a AS (SELECT key, event_id AS anchor_id, ts AS s,
                 ts + INTERVAL 10 MINUTE AS t
          FROM e WHERE event_type = 'purchase'),
    m AS (SELECT a.key, a.anchor_id,
                 count(*)::BIGINT AS n_follow,
                 CAST(sum(e.v) AS BIGINT) AS v_sum_centi
          FROM a JOIN e ON e.key = a.key AND e.ts >= a.s AND e.ts <= a.t
                       AND e.event_id <> a.anchor_id
          GROUP BY 1, 2)
    SELECT a.key, a.anchor_id,
           coalesce(m.n_follow, 0) AS n_follow,
           coalesce(m.v_sum_centi, 0) AS v_sum_centi
    FROM a LEFT JOIN m USING (key, anchor_id)
"""


def _q_rolling_stats(spark, sf_dir):
    """Trailing 10-row window stats per user (count/sum/mean/min/max),
    centi-quantized — one running frame, value-exact."""
    from spartan2_spark.operators.timeseries import rolling_stats

    out = rolling_stats(
        _events_series(spark, sf_dir), 10, order_cols=("event_id",)
    )
    return out.select(
        "key",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id", "w_n", "w_sum", "w_mean", "w_min", "w_max", "w_var",
    )


_ROLLING_SQL = """
    WITH q AS (SELECT user_id AS key, ts, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v FROM events)
    SELECT key, epoch_us(ts) AS ts_us, event_id,
           count(*) OVER w AS w_n,
           CAST(sum(v) OVER w AS BIGINT) AS w_sum,
           CAST(sum(v) OVER w AS BIGINT) / (count(*) OVER w) / 100.0 AS w_mean,
           min(v) OVER w AS w_min,
           max(v) OVER w AS w_max,
           CAST((count(*) OVER w) * CAST(sum(v * v) OVER w AS BIGINT)
                - CAST(sum(v) OVER w AS BIGINT) * CAST(sum(v) OVER w AS BIGINT)
                AS BIGINT)
             / ((count(*) OVER w) * (count(*) OVER w)) / 10000.0 AS w_var
    FROM q
    WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""


def _q_ses_forecast(spark, sf_dir):
    """SES forecast per user (operators/forecast.py — the reference's
    Forecast task is a pass stub, task/forecast.py:38-41; the engine
    ships the real thing): dyadic alpha=1/2, depth-16 truncated level
    in pure integer shifts, flat h-step forecast for h=1..3.
    Value-exact twin."""
    from spartan2_spark.operators.forecast import ses_forecast

    ev = _events_series(spark, sf_dir).withColumn(
        "v", F.round(F.col("value") * 100).cast("long")
    )
    out = ses_forecast(
        ev, alpha_log2=1, depth=16, horizon=3, order_cols=("event_id",)
    )
    return out.select("key", F.col("h").cast("long").alias("h"), "forecast")


def _ses_forecast_sql(depth: int = 16, horizon: int = 3) -> str:
    terms = " + ".join(
        f"(coalesce(lag(v, {j}) OVER w, 0) >> {j + 1})" for j in range(depth)
    )
    return f"""
    WITH q AS (SELECT user_id AS key, ts, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v FROM events),
    lvl AS (SELECT key, {terms} AS level,
                   row_number() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
            FROM q
            WINDOW w AS (PARTITION BY key ORDER BY ts, event_id))
    SELECT key, h, level AS forecast
    FROM lvl CROSS JOIN generate_series(1, {horizon}) t(h)
    WHERE rn = 1
"""


def _q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters forecast per user (operators/forecast.py;
    fills the reference's empty Forecast task): level+trend+seasonal
    recursions with standard first-two-seasons initialization,
    horizon-6 forecasts. Float-sequential kernel -> rows-only;
    planted trend+seasonality recovery is pytest-proven."""
    from spartan2_spark.operators.forecast import holt_winters

    ev = _events_series(spark, sf_dir).withColumn(
        "v", F.round(F.col("value") * 100).cast("long")
    )
    return holt_winters(
        ev, season=12, horizon=6
    ).select("key", "h", F.round("forecast", 6).alias("forecast"))


def _q_ewma(spark, sf_dir):
    """Dyadic EWMA (alpha=1/2, depth 16) per user — lag terms with
    integer right-shifts, value-exact."""
    from spartan2_spark.operators.timeseries import ewma_dyadic

    out = ewma_dyadic(
        _events_series(spark, sf_dir), 16, order_cols=("event_id",)
    )
    return out.select(
        "key",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id", "v", "ewma_centi",
    )


def _ewma_sql(depth: int = 16) -> str:
    terms = " + ".join(
        f"(coalesce(lag(v, {j}) OVER w, 0) >> {j})" for j in range(depth)
    )
    return f"""
    WITH q AS (SELECT user_id AS key, ts, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v FROM events)
    SELECT key, epoch_us(ts) AS ts_us, event_id, v,
           {terms} AS ewma_centi
    FROM q
    WINDOW w AS (PARTITION BY key ORDER BY ts, event_id)
"""


def _q_linear_counting(spark, sf_dir):
    """Linear-counting distinct sketch (Whang et al. 1990) per event
    type: occupied buckets of a K=1024 poly-hash bitmap — the exact,
    mergeable sufficient statistic (estimate = -K ln(empty/K) is a
    driver-side epilogue; ln() is kept out of the twin) — beside the
    exact distinct-user count for calibration."""
    from spartan2_spark.operators.spectral import _poly_node_hash

    ev = _events(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("key")
    )
    return ev.groupBy("event_type").agg(
        F.count_distinct(
            _poly_node_hash("key", 0) % 1024
        ).alias("occupied_buckets"),
        F.count_distinct("key").alias("exact_distinct"),
    )


_LINEAR_COUNT_SQL = """
    WITH ev AS (SELECT event_type, user_id::VARCHAR AS key FROM events),
    h AS (SELECT event_type, key,
                 (1 * list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(key, ''), c -> ascii(c)::BIGINT)),
                    (a, b) -> (a * 31 + b) % 2147483647) + 7) % 2147483647
                 % 1024 AS bucket
          FROM ev)
    SELECT event_type,
           count(DISTINCT bucket)::BIGINT AS occupied_buckets,
           count(DISTINCT key)::BIGINT AS exact_distinct
    FROM h GROUP BY event_type
"""


def _q_bloom_semi_join(spark, sf_dir):
    """Bloom-filter prefilter for a semi-join: bitset over the distinct
    customers that placed orders (portable poly-hash positions, k=3,
    m=8192), probed by every customer — emitted beside the exact
    membership flag so false positives are observable. At 10^12 rows
    the <=m-row bitset broadcast replaces the probe-side shuffle
    (functions/sketches.py bloom_build/bloom_probe)."""
    from spartan2_spark.functions.sketches import bloom_build, bloom_probe

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    build = o.select(F.col("o_custkey").alias("key")).distinct()
    bits = bloom_build(build, k=3, m=8192)
    probed = bloom_probe(
        bits, c.select(F.col("c_custkey").alias("key")), k=3, m=8192
    )
    truth = build.withColumn("actual", F.lit(True))
    return (
        probed.join(truth, "key", "left")
        .select(
            F.col("key").alias("c_custkey"),
            "maybe_present",
            F.coalesce(F.col("actual"), F.lit(False)).alias("actual"),
        )
    )


_BLOOM_SQL = """
    WITH build AS (SELECT DISTINCT o_custkey AS key FROM orders),
    bh AS (SELECT key,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(key::VARCHAR, ''),
                                   c -> ascii(c)::BIGINT)),
                    (a, b) -> (a * 31 + b) % 2147483647) AS h
           FROM build),
    bpos AS (SELECT DISTINCT unnest(list_distinct([
               (1 * h + 7) % 2147483647 % 8192,
               (3 * h + 8) % 2147483647 % 8192,
               (5 * h + 11) % 2147483647 % 8192])) AS pos
             FROM bh),
    ph AS (SELECT c_custkey AS key,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(c_custkey::VARCHAR, ''),
                                   c -> ascii(c)::BIGINT)),
                    (a, b) -> (a * 31 + b) % 2147483647) AS h
           FROM customer),
    ppos AS (SELECT key, unnest(list_distinct([
               (1 * h + 7) % 2147483647 % 8192,
               (3 * h + 8) % 2147483647 % 8192,
               (5 * h + 11) % 2147483647 % 8192])) AS pos
             FROM ph),
    flags AS (SELECT key, count(*) AS n,
                     sum(CASE WHEN pos IN (SELECT pos FROM bpos)
                         THEN 1 ELSE 0 END) AS hits
              FROM ppos GROUP BY key)
    SELECT f.key AS c_custkey,
           f.hits = f.n AS maybe_present,
           f.key IN (SELECT key FROM build) AS actual
    FROM flags f
"""


def _q_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality of events.user_id (m=256 registers,
    poly-hash, bin()-length rho): mergeable register state reduced to
    (n_occupied, z_sum, hll_estimate) beside the exact distinct count.
    2^-rho terms are built by integer shift + one division (exact
    dyadic doubles), so z_sum and the estimate are value-exact on any
    engine (functions/sketches.py hll_registers/hll_estimate)."""
    from spartan2_spark.functions.sketches import hll_estimate, hll_registers

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key")
    )
    regs = hll_registers(ev, m=256)
    est = hll_estimate(regs, m=256)
    exact = ev.agg(F.count_distinct("key").alias("exact_distinct"))
    return est.crossJoin(exact)


_HLL_SQL = """
    WITH ev AS (SELECT user_id::VARCHAR AS key FROM events),
    h0 AS (SELECT list_reduce(list_prepend(0::BIGINT,
                   list_transform(string_split(key, ''),
                                  c -> ascii(c)::BIGINT)),
                   (a, b) -> (a * 31 + b) % 2147483647) AS h
          FROM ev),
    h AS (SELECT h * 48271 % 2147483647 * 48271 % 2147483647 AS h FROM h0),
    rw AS (SELECT h % 256 AS reg, (h - h % 256) // 256 AS w FROM h),
    rho AS (SELECT reg,
                   CASE WHEN w > 0 THEN 24 - length(bin(w)) ELSE 24 END AS rho
            FROM rw),
    regs AS (SELECT reg, CAST(max(rho) AS BIGINT) AS max_rho
             FROM rho GROUP BY reg),
    z AS (SELECT count(*)::BIGINT AS n_occupied,
                 sum(1.0 / (1::BIGINT << max_rho))
                   + CAST(256 - count(*) AS DOUBLE) AS z_sum
          FROM regs)
    SELECT z.n_occupied, z.z_sum,
           0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / z.z_sum
             AS hll_estimate,
           (SELECT count(DISTINCT key)::BIGINT FROM ev) AS exact_distinct
    FROM z
"""


def _q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct sketch over events.user_id: k=64 minimum
    finalized poly-hashes, estimate = (k-1)*P/h_k (one product, one
    division — value-exact); Spark plans the global bottom-k as
    TakeOrderedAndProject (functions/sketches.py kmv_distinct)."""
    from spartan2_spark.functions.sketches import kmv_distinct

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key")
    )
    return kmv_distinct(ev, k=64)


_KMV_SQL = """
    WITH ev AS (SELECT user_id::VARCHAR AS key FROM events),
    h0 AS (SELECT list_reduce(list_prepend(0::BIGINT,
                   list_transform(string_split(key, ''),
                                  c -> ascii(c)::BIGINT)),
                   (a, b) -> (a * 31 + b) % 2147483647) AS h
           FROM ev),
    hs AS (SELECT DISTINCT h * 48271 % 2147483647 * 48271 % 2147483647 AS h
           FROM h0),
    b AS (SELECT h FROM hs ORDER BY h LIMIT 64)
    SELECT count(*)::BIGINT AS k_used,
           CAST(max(h) AS BIGINT) AS kth_hash,
           CAST(CAST(count(*) - 1 AS BIGINT) * 2147483647 AS DOUBLE) / max(h)
             AS kmv_estimate
    FROM b
"""


def _q_winnowing(spark, sf_dir):
    """Winnowing fingerprints (MOSS, SIGMOD'03) per document: k=8 char
    grams, w=4 windows, rolling-min selection; per-doc fingerprint-set
    cardinality/extremes/BIGINT checksum (operators/text.py
    winnowing_fingerprint)."""
    from spartan2_spark.operators.text import winnowing_fingerprint

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = winnowing_fingerprint(d, "text", "doc_id", k=8, w=4)
    return out.select(
        F.col("id").alias("doc_id"), "n_fp", "min_fp", "max_fp", "fp_sum"
    )


_WINNOW_SQL = """
    WITH d AS (SELECT doc_id AS id, coalesce(text, '') AS t FROM documents),
    pos AS (SELECT id, i,
                   list_reduce(list_prepend(0::BIGINT,
                     list_transform(string_split(substring(t, i, 8), ''),
                                    c -> ascii(c)::BIGINT)),
                     (a, b) -> (a * 31 + b) % 2147483647) AS h
            FROM d, LATERAL unnest(generate_series(1, length(t) - 7)) AS u(i)
            WHERE length(t) - 7 >= 4),
    mins AS (SELECT id, i,
                    min(h) OVER (PARTITION BY id ORDER BY i
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                      AS fp
             FROM pos),
    fps AS (SELECT DISTINCT id, fp FROM mins WHERE i >= 4)
    SELECT id AS doc_id, count(*)::BIGINT AS n_fp,
           CAST(min(fp) AS BIGINT) AS min_fp,
           CAST(max(fp) AS BIGINT) AS max_fp,
           CAST(sum(fp) AS BIGINT) AS fp_sum
    FROM fps GROUP BY id
"""


def _q_levenshtein_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs under first-token blocking:
    levenshtein of 24-char probes <= 10 within a block — the fuzzy
    complement to minhash/simhash (operators/dedup.py
    edit_distance_pairs); blocked equi-join, never a cross."""
    from spartan2_spark.operators.dedup import edit_distance_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return edit_distance_pairs(d, probe_chars=24, max_dist=10)


_LEVENSHTEIN_SQL = """
    WITH d AS (SELECT doc_id AS id,
                      string_split_regex(trim(coalesce(text, '')), ' +')[1]
                        AS blk,
                      substring(coalesce(text, ''), 1, 24) AS probe
               FROM documents)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.probe, b.probe) AS BIGINT) AS dist
    FROM d a JOIN d b ON a.blk = b.blk AND a.id < b.id
    WHERE levenshtein(a.probe, b.probe) <= 10
"""


def _q_seasonal_profile(spark, sf_dir):
    """Hour-of-day seasonal profile per event type: the seasonal-naive
    baseline as one map-side-combinable aggregation; centi-quantized
    fixed-order-division means (operators/timeseries.py)."""
    from spartan2_spark.operators.timeseries import seasonal_profile

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"), "ts", "value"
    )
    return seasonal_profile(ev)


_SEASONAL_SQL = """
    SELECT event_type AS key, CAST(hour(ts) AS BIGINT) AS hod,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / count(*) / 100.0 AS mean_value
    FROM events GROUP BY 1, 2
"""


def _q_m4_downsample(spark, sf_dir):
    """M4 visual downsampling (Jugel VLDB'14): 16 time-range buckets
    per user series, each -> (n, min, max, first, last); first/last by
    lexicographic struct min/max — no argmin ties, values untouched
    (operators/timeseries.py m4_downsample)."""
    from spartan2_spark.operators.timeseries import m4_downsample

    return m4_downsample(_events_series(spark, sf_dir), width=16)


_M4_SQL = """
    WITH base AS (
      SELECT user_id AS key, epoch_us(ts) AS t, event_id, value,
             min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0,
             max(epoch_us(ts)) OVER (PARTITION BY user_id) AS t1
      FROM events)
    SELECT key,
           CAST(floor((t - t0) * 16 / (t1 - t0 + 1)) AS BIGINT) AS bucket,
           count(*)::BIGINT AS n,
           min(value) AS min_v, max(value) AS max_v,
           (min(struct_pack(t := t, e := event_id, v := value))).v AS first_v,
           (max(struct_pack(t := t, e := event_id, v := value))).v AS last_v
    FROM base GROUP BY 1, 2
"""


def _q_stl_seasonal(spark, sf_dir):
    """STL-lite seasonal extraction per event type: 5-row centered
    moving-average detrend on interior points, hour-of-day residual
    means as one division of exact BIGINT numerators
    (operators/timeseries.py stl_seasonal)."""
    from spartan2_spark.operators.timeseries import stl_seasonal

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"), "ts", "value", "event_id"
    )
    return stl_seasonal(ev, trend_window=5)


_STL_SQL = """
    WITH base AS (
      SELECT event_type AS key, ts,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER w AS p,
             count(*) OVER (PARTITION BY event_type) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                  AS BIGINT) AS wsum
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    interior AS (
      SELECT key, CAST(hour(ts) AS BIGINT) AS hod, 5 * v - wsum AS resid
      FROM base WHERE p > 2 AND p <= n - 2)
    SELECT key, hod, count(*)::BIGINT AS n,
           CAST(sum(resid) AS BIGINT) / (count(*) * 5) / 100.0 AS seasonal
    FROM interior GROUP BY 1, 2
"""


def _q_cross_entropy(spark, sf_dir):
    """CCNet-style unigram cross-entropy of each doc vs the corpus LM
    (perplexity-proxy quality filter); log2-over-BIGINT + round(8)
    convention (operators/text.py corpus_cross_entropy)."""
    from spartan2_spark.operators.text import corpus_cross_entropy

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_cross_entropy(d)


_XENT_SQL = """
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS t
      FROM documents),
    tf AS (SELECT t, count(*)::BIGINT AS tf FROM toks GROUP BY t),
    total AS (SELECT CAST(sum(tf) AS BIGINT) AS N FROM tf),
    per_doc AS (
      SELECT id, count(*)::BIGINT AS n_tokens,
             sum(log2(CAST(tf AS DOUBLE))) AS slog
      FROM toks JOIN tf USING (t) GROUP BY id)
    SELECT id AS doc_id, n_tokens,
           round(log2(CAST(N AS DOUBLE)) - slog / n_tokens, 8)
             AS cross_entropy_bits
    FROM per_doc, total
"""


def _q_tfidf_top_terms(spark, sf_dir):
    """Top-3 distinctive terms per doc by the exact tf/df ratio
    (log-free idf: single-division scores, token-asc ties);
    partitioned window (operators/text.py tfidf_top_terms)."""
    from spartan2_spark.operators.text import tfidf_top_terms

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(d, k=3)


_TFIDF_SQL = """
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS t
      FROM documents),
    tf AS (SELECT id, t, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY t),
    scored AS (
      SELECT id, t, tf, df, tf / CAST(df AS DOUBLE) AS score
      FROM tf JOIN dfq USING (t))
    SELECT id AS doc_id,
           CAST(row_number() OVER w AS BIGINT) AS rank,
           t AS token, tf, df, round(score, 8) AS score
    FROM scored
    WINDOW w AS (PARTITION BY id ORDER BY score DESC, t ASC)
    QUALIFY rank <= 3
"""


def _q_exact_percentiles(spark, sf_dir):
    """Exact per-user p50/p95 by sort-based percentile on centi ints —
    Spark percentile() and DuckDB quantile_cont share the
    lower+(upper-lower)*frac interpolation, verified value-exact."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return ev.groupBy("k").agg(
        F.expr("percentile(v, 0.5)").alias("p50"),
        F.expr("percentile(v, 0.95)").alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


_PERCENTILES_SQL = """
    SELECT user_id AS k,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) AS p95,
           count(*)::BIGINT AS n
    FROM events GROUP BY 1
"""


def _q_cube_aggregate(spark, sf_dir):
    """OLAP CUBE over (event_type, day-of-week): all four grouping
    sets + grouping_id in one pass — the multi-rollup a dashboard
    backend issues."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return ev.cube("event_type", "dow").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum("v").alias("v_sum_centi"),
    )


_CUBE_SQL = """
    SELECT event_type,
           dayofweek(ts) + 1 AS dow,
           CAST(GROUPING(event_type) AS BIGINT) * 2
             + CAST(GROUPING(dayofweek(ts) + 1) AS BIGINT) AS gid,
           count(*)::BIGINT AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_sum_centi
    FROM events
    GROUP BY CUBE (event_type, dayofweek(ts) + 1)
"""


def _q_ntile_buckets(spark, sf_dir):
    """Quartile assignment per user's value ordering (ntile window) —
    integer bucket ids, deterministic tie-break by event_id."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(
        F.round(F.col("value") * 100).cast("long"), F.col("event_id")
    )
    return ev.select(
        F.col("user_id").alias("k"),
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
    )


_NTILE_SQL = """
    SELECT user_id AS k, event_id,
           ntile(4) OVER (PARTITION BY user_id
                          ORDER BY CAST(round(value * 100) AS BIGINT), event_id)
             AS quartile
    FROM events
"""


def _q_markov_transitions(spark, sf_dir):
    """First-order event-type transition counts + per-source
    probabilities (the behavioral Markov matrix): one lag window per
    user, one hash aggregate; probability is a single division."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = pairs.groupBy("src").agg(F.sum("cnt").alias("n_src"))
    return pairs.join(tot, "src").select(
        "src", "dst", "cnt",
        (F.col("cnt") / F.col("n_src")).alias("prob"),
    )


_MARKOV_SQL = """
    WITH p AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             event_type AS dst
      FROM events),
    c AS (SELECT src, dst, count(*)::BIGINT AS cnt FROM p
          WHERE src IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS n_src FROM c GROUP BY 1)
    SELECT c.src, c.dst, c.cnt, CAST(c.cnt AS DOUBLE) / t.n_src AS prob
    FROM c JOIN t USING (src)
"""


def _q_pii_scrub(spark, sf_dir):
    """PII scrub over documents with deterministically planted
    emails/phones (the synth corpus has none): mask + count, value-exact
    (RE2-portable patterns, email pass before phone pass)."""
    from spartan2_spark.operators.text import pii_scrub

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or +1-555-01"),
            F.col("doc_id"),
        ),
    )
    return pii_scrub(planted)


_PII_SQL = r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-01'
                  || doc_id AS text
      FROM documents),
    m1 AS (SELECT doc_id,
                  len(regexp_extract_all(text,
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT
                    AS n_emails,
                  regexp_replace(text,
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                      '<EMAIL>', 'g') AS s1
           FROM planted)
    SELECT doc_id AS id, n_emails,
           len(regexp_extract_all(s1, '\+?[0-9][0-9()\-\. ]{6,}[0-9]'))::BIGINT
             AS n_phones,
           regexp_replace(s1, '\+?[0-9][0-9()\-\. ]{6,}[0-9]', '<PHONE>', 'g')
             AS scrubbed
    FROM m1
"""


def _q_canonicalize_url(spark, sf_dir):
    """URL canonicalization over deterministically planted messy urls:
    lowercase scheme/host, default-port strip, fragment drop, tracking
    params out, surviving params sorted — value-exact."""
    from spartan2_spark.operators.text import canonicalize_url

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ds = F.col("doc_id").cast("string")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example.COM:443/A/"), ds,
                F.lit("?utm_source=feed&b="), (F.col("doc_id") % 7).cast("string"),
                F.lit("&a="), (F.col("doc_id") % 3).cast("string"),
                F.lit("#frag"),
            ),
        ).otherwise(
            F.concat(
                F.lit("http://Site"), (F.col("doc_id") % 5).cast("string"),
                F.lit(".Org:80/p/"), ds,
            )
        ).alias("url"),
    )
    return canonicalize_url(planted).select(
        F.col("doc_id").alias("id"), "url", "canon_url"
    )


_CANON_URL_SQL = """
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'HTTPS://WWW.Example.COM:443/A/' || doc_id
                       || '?utm_source=feed&b=' || (doc_id % 7)
                       || '&a=' || (doc_id % 3) || '#frag'
                  ELSE 'http://Site' || (doc_id % 5) || '.Org:80/p/' || doc_id
             END AS url
      FROM documents),
    u AS (SELECT doc_id, url, split_part(url, '#', 1) AS u1 FROM src),
    p1 AS (SELECT doc_id, url,
                  lower(split_part(u1, '://', 1)) AS scheme,
                  substring(u1, instr(u1, '://') + 3) AS after
           FROM u),
    p2 AS (SELECT *, split_part(after, '/', 1) AS hostport,
                  CASE WHEN instr(after, '/') = 0 THEN ''
                       ELSE substring(after, instr(after, '/')) END AS pathq
           FROM p1),
    p3 AS (SELECT *, split_part(pathq, '?', 1) AS path,
                  CASE WHEN instr(pathq, '?') = 0 THEN ''
                       ELSE substring(pathq, instr(pathq, '?') + 1) END AS query,
                  CASE WHEN scheme = 'http' AND lower(hostport) LIKE '%:80'
                         THEN split_part(lower(hostport), ':', 1)
                       WHEN scheme = 'https' AND lower(hostport) LIKE '%:443'
                         THEN split_part(lower(hostport), ':', 1)
                       ELSE lower(hostport) END AS host
           FROM p2),
    p4 AS (SELECT *, array_to_string(list_sort(list_filter(
                    string_split(query, '&'),
                    p -> len(p) > 0 AND NOT starts_with(p, 'utm_')
                         AND NOT starts_with(p, 'gclid=')
                         AND NOT starts_with(p, 'fbclid='))), '&') AS qcanon
           FROM p3)
    SELECT doc_id AS id, url,
           scheme || '://' || host || path
             || CASE WHEN len(qcanon) > 0 THEN '?' || qcanon ELSE '' END
             AS canon_url
    FROM p4
"""


def _q_cusum_drift(spark, sf_dir):
    """Page's one-sided CUSUM per user (target 50.0, threshold 500):
    S_t = P_t - min(0, running min P) — two running windows, no
    sequential state, integer-exact."""
    from spartan2_spark.operators.timeseries import cusum_drift

    out = cusum_drift(
        _events_series(spark, sf_dir),
        target=50.0,
        threshold=500.0,
        order_cols=("event_id",),
    )
    return out.select(
        "key",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id", "cusum", "alarm",
    )


_CUSUM_SQL = """
    WITH d AS (
      SELECT user_id AS key, ts, event_id,
             CAST(round(value * 100) - 5000 AS BIGINT) AS dev
      FROM events),
    p AS (SELECT key, ts, event_id,
                 CAST(sum(dev) OVER w AS BIGINT) AS p
          FROM d WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)),
    s AS (SELECT key, ts, event_id,
                 p - least(0, min(p) OVER w) AS s_centi
          FROM p WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING))
    SELECT key, epoch_us(ts) AS ts_us, event_id,
           s_centi / 100.0 AS cusum,
           CAST(s_centi > 50000 AS BIGINT) AS alarm
    FROM s
"""


def _q_stratified_sample(spark, sf_dir):
    """Per-language deterministic sampling at different fractions
    (en 20%, de 50%, others 10%) — poly-hash mod-1000 thresholds, the
    class-rebalancing sampler a data pipeline pins per stratum."""
    from spartan2_spark.operators.text import _poly_hash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = (
        _poly_hash(F.col("doc_id").cast("string")) * 48271 % 2147483647 % 1000
    )
    thr = (
        F.when(F.col("lang") == "en", F.lit(200))
        .when(F.col("lang") == "de", F.lit(500))
        .otherwise(F.lit(100))
    )
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < thr)
        .select("doc_id", "lang", "bucket")
    )


_STRATIFIED_SQL = """
    WITH h AS (
      SELECT doc_id, lang,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(doc_id::VARCHAR, ''),
                              c -> ascii(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647) * 48271 % 2147483647
               % 1000 AS bucket
      FROM documents)
    SELECT doc_id, lang, bucket FROM h
    WHERE bucket < (CASE WHEN lang = 'en' THEN 200
                         WHEN lang = 'de' THEN 500 ELSE 100 END)
"""


def _q_benford_digits(spark, sf_dir):
    """Benford first-significant-digit profile of event values per
    event type (the classic fabricated-numbers screen): digit from the
    centi-int's string form — no float log10, engine-portable."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).filter(F.col("v") > 0)
    digit = F.substring(F.col("v").cast("string"), 1, 1).cast("long")
    counts = ev.groupBy("event_type", digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    return counts.join(tot, "event_type").select(
        "event_type", "digit", "cnt",
        (F.col("cnt") / F.col("n")).alias("frac"),
    )


_BENFORD_SQL = """
    WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    c AS (SELECT event_type,
                 CAST(substring(v::VARCHAR, 1, 1) AS BIGINT) AS digit,
                 count(*)::BIGINT AS cnt
          FROM v WHERE v > 0 GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1)
    SELECT c.event_type, c.digit, c.cnt, CAST(c.cnt AS DOUBLE) / t.n AS frac
    FROM c JOIN t USING (event_type)
"""


def _q_zorder_keys(spark, sf_dir):
    """Morton z-order interleave of (user bucket, minute bucket) per
    event — the OPTIMIZE ZORDER layout key as a pure shift/mask
    expression, value-exact."""
    from spartan2_spark.operators.partitioning import zorder_key

    ev = _events(spark, sf_dir)
    a = (F.col("user_id") % (1 << 16)).cast("long")
    b = (
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 60_000_000)
        % (1 << 16)
    ).cast("long")
    return ev.select(
        "event_id",
        a.alias("dim_user"),
        b.alias("dim_minute"),
        zorder_key(a, b, bits=16).alias("zkey"),
    )


def _zorder_sql(bits: int = 16) -> str:
    terms = " + ".join(
        f"(((a >> {i}) % 2) << {2 * i}) + (((b >> {i}) % 2) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
    WITH d AS (
      SELECT event_id,
             CAST(user_id % 65536 AS BIGINT) AS a,
             CAST(floor(epoch_us(ts) / 60000000) % 65536 AS BIGINT) AS b
      FROM events)
    SELECT event_id, a AS dim_user, b AS dim_minute,
           CAST({terms} AS BIGINT) AS zkey
    FROM d
"""


def _q_haar_coeffs(spark, sf_dir):
    """Unnormalized Haar decomposition (16 leaves) of each user's
    value series — integer adds/subtracts only, fixed-unroll twin."""
    from spartan2_spark.operators.timeseries import haar_coeffs

    return haar_coeffs(
        _events_series(spark, sf_dir), 16, order_cols=("event_id",)
    )


def _haar_sql(n_leaves: int = 16) -> str:
    import math

    levels = int(math.log2(n_leaves))
    parts = [
        """pos AS (
      SELECT user_id AS key,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events)""",
        f"""n{levels} AS (SELECT key, CAST(floor(p * {n_leaves} / n) AS BIGINT) AS idx,
             CAST(sum(v) AS BIGINT) AS s FROM pos GROUP BY 1, 2)""",
    ]
    sel = []
    for lvl in range(levels, 0, -1):
        parts.append(
            f"""p{lvl} AS (SELECT key, idx // 2 AS pidx,
                 CAST(sum(CASE WHEN idx % 2 = 0 THEN s ELSE 0 END) AS BIGINT) AS se,
                 CAST(sum(CASE WHEN idx % 2 = 1 THEN s ELSE 0 END) AS BIGINT) AS so
             FROM n{lvl} GROUP BY 1, 2)"""
        )
        parts.append(
            f"n{lvl-1} AS (SELECT key, pidx AS idx, se + so AS s FROM p{lvl})"
        )
        sel.append(
            f"SELECT key, {lvl} AS level, pidx AS idx, se - so AS coeff FROM p{lvl}"
        )
    sel.append("SELECT key, 0 AS level, idx, s AS coeff FROM n0")
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(sel)


def _q_type_entropy(spark, sf_dir):
    """Shannon entropy of each user's event-type mix (bits):
    H = log2(n) - sum(c*log2(c))/n — the behavioral-diversity score.
    xlogx in both engines agrees (same libm family, proven by the DPGS
    MDL twins); round(8) guards the last ulp."""
    ev = _events(spark, sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log2(F.col("c").cast("double"))).alias("xlx"),
        )
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.log2(F.col("n").cast("double")) - F.col("xlx") / F.col("n"), 8
            ).alias("entropy_bits"),
        )
    )


_TYPE_ENTROPY_SQL = """
    WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS c
               FROM events GROUP BY 1, 2),
    a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                 sum(c * log2(CAST(c AS DOUBLE))) AS xlx
          FROM c GROUP BY 1)
    SELECT user_id, n,
           round(log2(CAST(n AS DOUBLE)) - xlx / n, 8) AS entropy_bits
    FROM a
"""


def _q_funnel_conversion(spark, sf_dir):
    """Ordered 3-stage funnel signup>click>purchase: distinct users
    reaching each stage under strict time precedence; single
    Sort+Exchange for all stages (operators/funnel.py)."""
    from spartan2_spark.operators.funnel import funnel_counts

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"), "ts", "event_id", "event_type"
    )
    return funnel_counts(ev, ["signup", "click", "purchase"])


_FUNNEL_SQL = """
    WITH e AS (SELECT user_id AS key, ts, event_id, event_type FROM events),
    q0 AS (SELECT *, (event_type = 'signup') AS f0 FROM e),
    q1 AS (SELECT *, (event_type = 'click'
                      AND coalesce(max(f0) OVER w, FALSE)) AS f1
           FROM q0 WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)),
    q2 AS (SELECT *, (event_type = 'purchase'
                      AND coalesce(max(f1) OVER w, FALSE)) AS f2
           FROM q1 WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)),
    pk AS (SELECT key,
                  max(CASE WHEN f0 THEN 1 ELSE 0 END) AS r0,
                  max(CASE WHEN f1 THEN 1 ELSE 0 END) AS r1,
                  max(CASE WHEN f2 THEN 1 ELSE 0 END) AS r2
           FROM q2 GROUP BY key),
    c AS (SELECT CAST(sum(r0) AS BIGINT) AS n0,
                 CAST(sum(r1) AS BIGINT) AS n1,
                 CAST(sum(r2) AS BIGINT) AS n2
          FROM pk)
    SELECT s.stage, s.stage_name, s.n_keys,
           CASE WHEN c.n0 > 0 THEN s.n_keys / CAST(c.n0 AS DOUBLE) END
             AS conv_rate
    FROM c, (SELECT 0::BIGINT AS stage, 'signup' AS stage_name, n0 AS n_keys
               FROM c
             UNION ALL
             SELECT 1::BIGINT, 'click', n1 FROM c
             UNION ALL
             SELECT 2::BIGINT, 'purchase', n2 FROM c) s
    ORDER BY s.stage
"""


def _q_cohort_retention(spark, sf_dir):
    """First-touch cohort retention: users grouped by first event date,
    distinct-active counts per (cohort, day offset) with exact
    single-division retention (operators/funnel.py)."""
    from spartan2_spark.operators.funnel import cohort_retention

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"), "ts"
    )
    out = cohort_retention(ev, max_offset_days=14)
    return out.select(
        F.col("cohort_date").cast("string").alias("cohort_date"),
        F.col("offset_days").cast("long").alias("offset_days"),
        "n_active",
        "retention",
    )


_COHORT_SQL = """
    WITH e AS (SELECT DISTINCT user_id AS key, CAST(ts AS DATE) AS d
               FROM events),
    first AS (SELECT key, min(d) AS cohort_date FROM e GROUP BY key),
    act AS (SELECT cohort_date,
                   CAST(d - cohort_date AS BIGINT) AS offset_days,
                   count(DISTINCT key)::BIGINT AS n_active
            FROM e JOIN first USING (key)
            WHERE d - cohort_date <= 14
            GROUP BY 1, 2),
    sz AS (SELECT cohort_date, n_active AS size FROM act
           WHERE offset_days = 0)
    SELECT CAST(act.cohort_date AS VARCHAR) AS cohort_date,
           act.offset_days, act.n_active,
           act.n_active / CAST(sz.size AS DOUBLE) AS retention
    FROM act JOIN sz USING (cohort_date)
    ORDER BY 1, 2
"""


def _q_topk_per_user(spark, sf_dir):
    """Top-3 events per user by value (deterministic tie on event_id)
    via a PARTITIONED row_number window — the scale-safe per-entity
    top-n (operators/funnel.py topk_per_group)."""
    from spartan2_spark.operators.funnel import topk_per_group

    ev = _events(spark, sf_dir).select("user_id", "event_id", "value")
    out = topk_per_group(
        ev, ["user_id"], [F.desc("value"), F.asc("event_id")], 3
    )
    return out.select(
        "user_id", F.col("rank").cast("long").alias("rank"),
        "event_id", "value"
    )


_TOPK_GROUP_SQL = """
    SELECT user_id, rank, event_id, value FROM (
      SELECT user_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank
      FROM events)
    WHERE rank <= 3
"""


def _q_session_paths(spark, sf_dir):
    """Top-50 event-type journeys per 1h-gap session: '>'-joined type
    sequences (sort_array over session-bounded collect_list — no
    window in the path assembly; operators/funnel.py)."""
    from spartan2_spark.operators.funnel import session_paths

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = _usec("ts") - F.lag(_usec("ts")).over(w)
    new_s = F.when(gap.isNull() | (gap > 3600 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return session_paths(
        sess.select(
            F.col("user_id").alias("key"),
            "ts",
            "event_id",
            "event_type",
            "session_id",
        ),
        top_n=50,
    )


_SESSION_PATHS_SQL = """
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  IS NULL THEN 1
                  WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 3600000000 THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, event_id, ts, event_type,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g),
    p AS (SELECT user_id, session_id,
                 string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          FROM s GROUP BY 1, 2)
    SELECT path, count(*)::BIGINT AS n_sessions
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path ASC LIMIT 50
"""


def _q_lang_id(spark, sf_dir):
    """Stopword-overlap language ID heuristic."""
    from spartan2_spark.operators.text import lang_id

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_id(d, "text").select("doc_id", "lang_pred", "lang_hits")


def _langid_oracle() -> str:
    from spartan2_spark.operators.text import LANG_STOPWORDS

    hit_cols = []
    for lang, ws in sorted(LANG_STOPWORDS.items()):
        inlist = ",".join(f"'{w}'" for w in ws)
        hit_cols.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), ' +'),"
            f" t -> t IN ({inlist}))) AS h_{lang}"
        )
    langs_desc = sorted(LANG_STOPWORDS, reverse=True)
    m = "greatest(" + ",".join(f"h_{x}" for x in sorted(LANG_STOPWORDS)) + ")"
    case = " ".join(f"WHEN h_{x} = m THEN '{x}'" for x in langs_desc)
    return f"""
        WITH f AS (SELECT doc_id, {', '.join(hit_cols)} FROM documents),
        g AS (SELECT doc_id, *, {m} AS m FROM f)
        SELECT doc_id,
               CASE WHEN m = 0 THEN 'und' {case} END AS lang_pred,
               m AS lang_hits
        FROM g
    """


def _q_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k over the embeddings table
    (integer-quantized components -> bit-stable ranking)."""
    from spartan2_spark.operators.similarity import cosine_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(e, e.filter(F.col("vec_id") < 5), k=5)


_COSINE_TOPK_SQL = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS q FROM embeddings),
    n AS (SELECT vec_id, q, sqrt(list_inner_product(q, q)) AS nrm FROM v),
    s AS (
      SELECT qs.vec_id AS query_id, cs.vec_id AS corpus_id,
             list_inner_product(qs.q, cs.q) / (qs.nrm * cs.nrm) AS cos
      FROM n qs, n cs
      WHERE qs.vec_id < 5 AND cs.vec_id != qs.vec_id),
    r AS (SELECT query_id, corpus_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
          FROM s)
    SELECT query_id, corpus_id, rank, round(cos, 8) AS cosine
    FROM r WHERE rank <= 5
"""


def _q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs via sign-LSH bucket join + exact cosine
    (operators/dedup.embedding_lsh_pairs, portable plane + quantize
    mode). The testdata embeddings have no natural near-dups (max
    pairwise cosine 0.51), so the query plants them: the table unioned
    with a +0.001-shifted copy of itself (ids offset by 100000) — the
    LSH path must then recover the 500 twin pairs at cosine >= 0.99.
    Integer plane weights + integer-quantized components make every
    bucket bit and cosine an exact integer computation, replayed
    verbatim by the DuckDB twin."""
    from spartan2_spark.operators.dedup import embedding_lsh_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", emb_d.alias("embedding")).unionByName(
        e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x.cast("double") + F.lit(0.001)).alias(
                "embedding"
            ),
        )
    )
    return embedding_lsh_pairs(
        base,
        vec_col="embedding",
        id_col="vec_id",
        n_planes=16,
        cosine_threshold=0.99,
        dim=64,
        plane_mode="portable",
        quantize=1000,
    )


_EMBEDDING_NEARDUP_SQL = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.001)
      FROM embeddings),
    pl AS (SELECT p.p AS p,
                  list(CAST(((2*p.p+3)*(i.i+1)*40503 + p.p*p.p*7) % 65536 - 32768 AS DOUBLE)
                       ORDER BY i.i) AS w
           FROM range(0, 16) p(p), range(0, 64) i(i) GROUP BY p.p),
    v AS (SELECT vec_id, list_transform(emb, x -> CAST(round(x*1000) AS DOUBLE)) AS q
          FROM base),
    bk AS (SELECT v.vec_id,
                  sum(CASE WHEN list_inner_product(v.q, pl.w) >= 0
                      THEN (1::BIGINT << pl.p) ELSE 0 END) AS bucket
           FROM v, pl GROUP BY 1),
    n AS (SELECT v.vec_id, v.q, sqrt(list_inner_product(v.q, v.q)) AS nrm, bk.bucket
          FROM v JOIN bk USING (vec_id)),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_inner_product(a.q, b.q) / (a.nrm * b.nrm) AS cos
              FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, round(cos, 8) AS cosine FROM pairs WHERE cos >= 0.99
"""


def _q_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pairs on portable polynomial hashes: the
    whole shingle -> k-minhash -> banded-bucket-join ->
    exact-Jaccard-verify pipeline is value-exact oracle-checked against
    DuckDB."""
    from spartan2_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(
        d, k=32, bands=8, jaccard_threshold=0.2
    )


def _minhash_prelude(k: int = 32, bands: int = 8, shingle_n: int = 5,
                     max_bucket: int = 1000) -> str:
    """Shared CTE chain (shingles -> poly minhash -> banded buckets ->
    verified-Jaccard candidate pairs in `j`) used by the minhash-pairs
    twin AND the dedup-clusters twin; caller prepends WITH/WITH
    RECURSIVE and appends its own final stage."""
    r = k // bands
    p = 2147483647
    minexprs = ",\n             ".join(
        f"list_aggregate(list_transform(hv, h -> (({2 * j + 1} * h + {j * j + 7}) % {p})), 'min')"
        for j in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, {key} AS bh FROM sig".format(
            b=b,
            key=" || ',' || ".join(f"sig[{b * r + i + 1}]::VARCHAR" for i in range(r)),
        )
        for b in range(bands)
    )
    return f"""sh AS MATERIALIZED (
      SELECT doc_id AS id,
             list_distinct(list_transform(range(1, greatest(length(text) - {shingle_n - 1}, 1) + 1),
               i -> substring(text, i, {shingle_n}))) AS sh
      FROM documents),
    hs AS MATERIALIZED (
      SELECT id,
             list_transform(sh, s -> list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % {p})) AS hv
      FROM sh),
    sig AS MATERIALIZED (
      SELECT id, [{minexprs}] AS sig FROM hs),
    banded AS MATERIALIZED ({band_selects}),
    okb AS (SELECT band, bh FROM (SELECT band, bh, count(*) AS n FROM banded GROUP BY 1, 2)
            WHERE n <= {max_bucket}),
    bb AS (SELECT banded.* FROM banded JOIN okb USING (band, bh)),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM bb a JOIN bb b USING (band, bh) WHERE a.id < b.id),
    j AS (SELECT c.id_a, c.id_b,
                 len(list_intersect(x.hv, y.hv))::DOUBLE
                   / len(list_distinct(list_concat(x.hv, y.hv))) AS jac
          FROM cand c JOIN hs x ON x.id = c.id_a JOIN hs y ON y.id = c.id_b)"""


def _minhash_sql(k: int = 32, bands: int = 8, shingle_n: int = 5,
                 threshold: float = 0.2, max_bucket: int = 1000) -> str:
    prelude = _minhash_prelude(k, bands, shingle_n, max_bucket)
    return f"""
    WITH {prelude}
    SELECT id_a, id_b, round(jac, 8) AS jaccard FROM j WHERE jac >= {threshold}
"""


def _dedup_clusters_sql(k: int = 32, bands: int = 8, shingle_n: int = 5,
                        threshold: float = 0.2, max_bucket: int = 1000) -> str:
    """Keep-one-per-cluster twin: the minhash pair prelude feeds a
    recursive reachability CTE; min reachable id per node = the same
    min-label components the Spark loop converges to (both are
    partition-order independent by construction)."""
    prelude = _minhash_prelude(k, bands, shingle_n, max_bucket)
    return f"""
    WITH RECURSIVE {prelude},
    p AS MATERIALIZED (SELECT id_a, id_b FROM j WHERE jac >= {threshold}),
    e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
                       UNION SELECT id_b, id_a FROM p),
    cc(node, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT e.u, cc.lbl FROM e JOIN cc ON cc.node = e.v),
    comp AS (SELECT node, min(lbl) AS component FROM cc GROUP BY node)
    SELECT d.doc_id AS id,
           coalesce(comp.component, d.doc_id) AS cluster,
           CAST(d.doc_id = coalesce(comp.component, d.doc_id) AS BIGINT) AS keep
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN comp ON comp.node = d.doc_id
"""


_DEDUP_CLUSTERS_SQL = _dedup_clusters_sql()


def _q_dedup_clusters(spark, sf_dir):
    """Transitive keep-one-per-cluster dedup: poly-hash MinHash pairs
    (the value-exact-proven pipeline) -> min-label connected
    components -> canonical per cluster. The twin replays the closure
    with a recursive CTE, so labels match value-exact."""
    from spartan2_spark.operators.dedup import dedup_clusters

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_clusters(
        d, k=32, bands=8, jaccard_threshold=0.2
    )
    return out.select("id", "cluster", F.col("keep").cast("long").alias("keep"))


def _q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs: parity-bit polynomial hashes make the
    64-bit fingerprints, the 16-bit band blocking, and the Hamming
    verify value-exact oracle-checked."""
    from spartan2_spark.operators.dedup import simhash64, simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(simhash64(d), max_hamming=10)


def _simhash_sql(max_hamming: int = 10) -> str:
    p = 2147483647
    base = _POLY_SQL_BASE.format(col="t")
    sums = ",\n             ".join(
        f"sum(CASE WHEN ((({2 * b + 1} * ph + {b * b + 7}) % {p}) % 2) = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(63)
    )
    fp = f"{fp_terms} + (CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    from spartan2_spark.operators.dedup import simhash_band_layout

    bands = " UNION ALL ".join(
        f"SELECT id, simhash, {i} AS band, "
        f"(simhash >> {start}) & {(1 << w) - 1} AS key FROM fp"
        for i, (start, w) in enumerate(simhash_band_layout(max_hamming))
    )
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id AS id, unnest(string_split_regex(trim(text), ' +')) AS t
      FROM documents),
    ph AS MATERIALIZED (SELECT id, {base} AS ph FROM tok),
    s AS MATERIALIZED (
      SELECT id, {sums}
      FROM ph GROUP BY id),
    fp AS MATERIALIZED (SELECT id, {fp} AS simhash FROM s),
    banded AS MATERIALIZED ({bands}),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                    a.simhash AS h_a, b.simhash AS h_b
             FROM banded a JOIN banded b USING (band, key) WHERE a.id < b.id)
    SELECT id_a, id_b, bit_count(xor(h_a, h_b)) AS hamming
    FROM cand WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
"""


def _q_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours. Quantized vectors
    AND quantized hyperplanes make every bucket sign and cosine an
    exact-integer computation -> value-exact oracle-checked (the twin
    embeds the same seeded planes as SQL literals)."""
    from spartan2_spark.operators.similarity import ann_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk(e, e.filter(F.col("vec_id") < 5), k=5, n_planes=4, dim=64)


def _ann_sql(k: int = 5, n_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = np.round(rng.standard_normal((n_planes, dim)) * 1000).astype(int)
    rows = ", ".join(
        "({p}, [{v}])".format(p=p, v=", ".join(str(x) for x in planes[p]))
        for p in range(n_planes)
    )
    probe_flips = ", ".join(f"xor(qbucket, {1 << b})" for b in range(n_planes))
    return f"""
    WITH planes(pid, pv) AS (VALUES {rows}),
    c AS MATERIALIZED (
      SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv
      FROM embeddings),
    cb AS MATERIALIZED (
      SELECT corpus_id, cv, sqrt(list_dot_product(cv, cv)) AS cn,
             (SELECT sum(CASE WHEN list_dot_product(cv, pv) >= 0
                              THEN 1 << pid ELSE 0 END) FROM planes) AS bucket
      FROM c),
    q AS (SELECT corpus_id AS query_id, cv AS qv, cn AS qn, bucket AS qbucket
          FROM cb WHERE corpus_id < 5),
    qp AS (SELECT query_id, qv, qn,
                  unnest([qbucket, {probe_flips}]) AS bucket
           FROM q),
    cand AS (SELECT DISTINCT cb.corpus_id, qp.query_id, cb.cv, cb.cn, qp.qv, qp.qn
             FROM cb JOIN qp USING (bucket)
             WHERE cb.corpus_id != qp.query_id),
    scored AS (SELECT query_id, corpus_id,
                      list_dot_product(cv, qv) / (cn * qn) AS cosine
               FROM cand),
    r AS (SELECT query_id, corpus_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, corpus_id ASC) AS rank
          FROM scored)
    SELECT query_id, corpus_id, rank, round(cosine, 8) AS cosine
    FROM r WHERE rank <= {k}
"""


def _q_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) approximate nearest neighbours: portable
    poly-hash centroid seed + 2 unrolled Lloyd rounds + nprobe cell
    probing. Value-exact oracle-checked: integer-quantized vectors make
    Lloyd means exact rationals, and both engines evaluate dot products
    as the same strictly-sequential left fold, so every distance,
    assignment, and cosine is bit-identical."""
    from spartan2_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(
        e, e.filter(F.col("vec_id") < 5), k=5, nlist=8, nprobe=2
    )


def _ivf_sql(k: int = 5, nlist: int = 8, nprobe: int = 2, dim: int = 64,
             lloyd_rounds: int = 2) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i])), "
            f"(x, y) -> x + y)"
        )

    seed = _POLY_SQL_BASE.format(col="CAST(corpus_id AS VARCHAR)")
    parts = [
        "c AS MATERIALIZED (SELECT vec_id AS corpus_id, "
        "list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS cv FROM embeddings)",
        f"cents0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, corpus_id) AS cid, "
        f"cv AS cent FROM (SELECT corpus_id, cv, {seed} AS h FROM c "
        f"ORDER BY h, corpus_id LIMIT {nlist}))",
    ]
    for r in range(lloyd_rounds):
        parts.append(
            f"asn{r} AS MATERIALIZED (SELECT corpus_id, cv, "
            f"struct_extract(min({{'d': -({dot('cv', 'cent')}), 'cid': cid}}), 'cid') AS cell "
            f"FROM c CROSS JOIN cents{r} GROUP BY corpus_id, cv)"
        )
        parts.append(
            f"cents{r + 1} AS MATERIALIZED (SELECT cell AS cid, "
            f"list(avgx ORDER BY pos) AS cent FROM "
            f"(SELECT cell, i AS pos, avg(cv[i]) AS avgx FROM asn{r}, "
            f"range(1, {dim + 1}) t(i) GROUP BY cell, i) GROUP BY cell)"
        )
    fin = lloyd_rounds
    parts.append(
        f"cells AS MATERIALIZED (SELECT corpus_id, cv, "
        f"struct_extract(min({{'d': -({dot('cv', 'cent')}), 'cid': cid}}), 'cid') AS cell "
        f"FROM c CROSS JOIN cents{fin} GROUP BY corpus_id, cv)"
    )
    parts.append("q AS (SELECT corpus_id AS query_id, cv AS qv FROM c WHERE corpus_id < 5)")
    parts.append(
        f"qprobe AS (SELECT query_id, qv, cid AS cell FROM "
        f"(SELECT q.query_id, q.qv, cents{fin}.cid, row_number() OVER "
        f"(PARTITION BY q.query_id ORDER BY -({dot('qv', 'cent')}) ASC, cid ASC) AS pr "
        f"FROM q CROSS JOIN cents{fin}) WHERE pr <= {nprobe})"
    )
    parts.append(
        f"scored AS (SELECT qp.query_id, ce.corpus_id, "
        f"({dot('ce.cv', 'qp.qv')}) / (sqrt({dot('ce.cv', 'ce.cv')}) * "
        f"sqrt({dot('qp.qv', 'qp.qv')})) AS cosine "
        f"FROM cells ce JOIN qprobe qp USING (cell) "
        f"WHERE ce.corpus_id != qp.query_id)"
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT query_id, corpus_id, rank, round(cosine, 8) AS cosine FROM
      (SELECT query_id, corpus_id, cosine, row_number() OVER
         (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       FROM scored)
    WHERE rank <= {k}
"""
    )


def _q_doc_fingerprint(spark, sf_dir):
    """Bottom-k rolling-hash document fingerprints (polynomial mod
    2^31-1 — same values computable in DuckDB, so the whole
    shingle->hash->bottom-k->combine pipeline is value-exact
    oracle-checked)."""
    from spartan2_spark.operators.text import fingerprint_bottom_k

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint_bottom_k(d, "text").select(
        "doc_id", "fp_hash"
    )


_FINGERPRINT_SQL = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(text) - 7, 1) + 1),
               i -> substring(text, i, 8))) AS shingles
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(shingles, s ->
               list_reduce(
                 list_prepend(0::BIGINT,
                   list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 2147483647)) AS hashes
      FROM sh),
    bk AS (SELECT doc_id, list_slice(list_sort(hashes), 1, 16) AS fp FROM h)
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, fp),
                       (a, b) -> (a * 1000003 + b) % 2147483647) AS fp_hash
    FROM bk
"""


def _q_multimodal_features(spark, sf_dir):
    """Binary-column feature extraction plumbing (stub decoder) over
    documents' text bytes — rows-only check.

    Output is posexploded to scalar columns ``(doc_key, pos, feature)``
    so the driver's canonicalizer (sort_values over every column) never
    sees an unhashable array cell; ``feature`` is scaled to a centi-int
    so the frame is byte-stable across engines/platforms."""
    from spartan2_spark.operators.multimodal import extract_features

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_features(d, "payload", "doc_key", n_features=8)
    return feats.select(
        "doc_key",
        "n_bytes",
        F.posexplode("features").alias("pos", "fval"),
    ).select(
        "doc_key",
        "n_bytes",
        "pos",
        F.round(F.col("fval") * 10000).cast("long").alias("feature_e4"),
    )


def _q_hist1d(spark, sf_dir):
    """Equal-width histogram with last-bin clamp (tensor.py:106-109)."""
    from spartan2_spark.operators.histogram import hist1d

    ev = _events(spark, sf_dir).select(F.round(F.col("value") * 100).alias("v"))
    return hist1d(ev, "v", nbins=20)


_HIST1D_SQL = """
    WITH b AS (SELECT min(round(value*100)) mn, max(round(value*100)) mx FROM events),
    d AS (SELECT round(value*100) v, mn, mx, (mx - mn) / 20 AS w FROM events, b)
    SELECT least(CAST(floor((v - mn) / w) AS BIGINT), 19) AS bin_idx,
           count(*) AS cnt,
           min(mn + least(CAST(floor((v - mn) / w) AS BIGINT), 19) * w) AS bin_start
    FROM d GROUP BY 1
"""


def _q_hist2d_peak(spark, sf_dir):
    """2-D log-binned histogram (rect_histogram.py:38-109)."""
    from spartan2_spark.operators.histogram import hist2d_log

    li = _lineitem(spark, sf_dir)
    return hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)


_HIST2D_SQL = """
    SELECT CAST(floor(log10(l_quantity) * 4) AS BIGINT) AS bin_x,
           CAST(floor(log10(l_extendedprice) * 4) AS BIGINT) AS bin_y,
           count(*) AS cnt
    FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    GROUP BY 1, 2
"""


def _q_suspicious_users(spark, sf_dir):
    """IQR outlier rule (iat.py:115-141), emitted for EVERY user with
    the bound and the flag — the bound value itself is oracle-compared,
    so the check stays strong even when the sf's counts have no
    outliers (the filtered set would then be empty rows)."""
    from spartan2_spark.operators.anomaly import iqr_bound

    counts = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bound = iqr_bound(counts, "cnt")
    return counts.crossJoin(F.broadcast(bound)).select(
        "user_id",
        "cnt",
        F.round("bound", 6).alias("iqr_bound"),
        (F.col("cnt") > F.col("bound")).cast("int").alias("is_susp"),
    )


_SUSPICIOUS_SQL = """
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
    b AS (SELECT quantile_cont(cnt, 0.75) + 1.5 * (quantile_cont(cnt, 0.75) - quantile_cont(cnt, 0.25)) AS bound FROM c)
    SELECT user_id, cnt, round(bound, 6) AS iqr_bound,
           CAST(cnt > bound AS INT) AS is_susp
    FROM c, b
"""


def _q_kl_divergence(spark, sf_dir):
    """Per-sink rating-histogram KL vs global, +1 smoothing
    (edgepropertyAnalysis.py:216-255)."""
    from spartan2_spark.operators.anomaly import kl_divergence_per_sink

    ev = _events(spark, sf_dir).withColumn(
        "rbucket",
        F.when(F.col("value") < 50, 0).when(F.col("value") < 100, 1).otherwise(2).cast("long"),
    )
    out = kl_divergence_per_sink(ev, "event_type", "rbucket", n_buckets=3)
    return out.select("event_type", F.round("kl", 8).alias("kl"))


_KL_SQL = """
    WITH e AS (SELECT event_type, CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1 ELSE 2 END AS rb FROM events),
    per AS (SELECT event_type, rb, count(*) AS c FROM e GROUP BY 1, 2),
    dense AS (
      SELECT s.event_type, b.rb, coalesce(per.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM per) s
      CROSS JOIN (SELECT unnest([0,1,2]) AS rb) b
      LEFT JOIN per ON per.event_type = s.event_type AND per.rb = b.rb),
    gh AS (SELECT b.rb, coalesce(gx.g, 0) AS g
          FROM (SELECT unnest([0,1,2]) AS rb) b
          LEFT JOIN (SELECT rb, count(*) AS g FROM e GROUP BY 1) gx ON gx.rb = b.rb),
    gt AS (SELECT sum(g + 1) AS gt FROM gh),
    j AS (
      SELECT d.event_type, d.rb, d.c, coalesce(gh.g, 0) AS g, gt.gt,
             sum(d.c + 1) OVER (PARTITION BY d.event_type) AS st
      FROM dense d LEFT JOIN gh ON d.rb = gh.rb, gt)
    SELECT event_type,
           round(sum(((c+1)/st) * ln(((c+1)/st) / ((g+1)/gt))), 8) AS kl
    FROM j GROUP BY 1
"""


def _q_rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two per-user scores
    (holoscopeFraudDect.py:228-255, k=60)."""
    from spartan2_spark.operators.anomaly import reciprocal_rank_fusion

    per_user = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("s_count"),
        F.sum(F.round(F.col("value") * 100)).alias("s_value"),
    )
    return reciprocal_rank_fusion(per_user, "user_id", ["s_count", "s_value"])


_RRF_SQL = """
    WITH s AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS s_count,
                      sum(round(value*100)) AS s_value
               FROM events GROUP BY 1),
    r AS (SELECT user_id, s_count, s_value,
                 rank() OVER (ORDER BY s_count DESC, user_id ASC) AS r1,
                 rank() OVER (ORDER BY s_value DESC, user_id ASC) AS r2
          FROM s)
    SELECT user_id, s_count, s_value, 1.0/(60+r1) + 1.0/(60+r2) AS rrf FROM r
"""


def _q_rank_fusion_sum(spark, sf_dir):
    """Sum-of-ranks fusion — the reference's other fusion mode
    (holoscopeFraudDect.py:228-255 rankdata sum); smaller = more
    suspicious."""
    from spartan2_spark.operators.anomaly import rank_sum_fusion

    per_user = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("s_count"),
        F.sum(F.round(F.col("value") * 100)).alias("s_value"),
    )
    return rank_sum_fusion(per_user, "user_id", ["s_count", "s_value"])


_RANK_SUM_SQL = """
    WITH s AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS s_count,
                      sum(round(value*100)) AS s_value
               FROM events GROUP BY 1),
    r AS (SELECT user_id, s_count, s_value,
                 row_number() OVER (ORDER BY s_count DESC, user_id ASC) AS r1,
                 row_number() OVER (ORDER BY s_value DESC, user_id ASC) AS r2
          FROM s)
    SELECT user_id, s_count, s_value, r1 + r2 AS rank_sum FROM r
"""


def _q_holoscope_objective(spark, sf_dir):
    """HoloScope's scalar objective ``maxobjfunc``
    (holoscopeFraudDect.py:214-226): dot(fbs, bsusps) / (|A| + sum
    bsusps) — the suspect set's total score normalized by source count
    plus suspect count. Suspects = users above the IQR bound of event
    counts (iat.py:115-120 rule); one row out."""
    counts = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score")
    )
    q = counts.agg(
        F.expr("percentile(score, 0.75)").alias("q3"),
        F.expr("percentile(score, 0.25)").alias("q1"),
        F.count(F.lit(1)).alias("n_users"),
    )
    j = counts.crossJoin(F.broadcast(q)).withColumn(
        "is_susp", (F.col("score") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).cast("long")
    )
    return j.agg(
        F.sum(F.col("score") * F.col("is_susp")).alias("susp_score"),
        F.sum("is_susp").alias("n_susp"),
        F.first("n_users").alias("n_users"),
    ).select(
        "susp_score",
        "n_susp",
        "n_users",
        F.round(
            F.col("susp_score") / (F.col("n_users") + F.col("n_susp")), 8
        ).alias("objective"),
    )


_HOLOSCOPE_OBJ_SQL = """
    WITH c AS (SELECT user_id, count(*) AS score FROM events GROUP BY 1),
    q AS (SELECT quantile_cont(score, 0.75) AS q3, quantile_cont(score, 0.25) AS q1,
                 count(*) AS n_users FROM c),
    j AS (SELECT score,
                 CASE WHEN score > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END AS is_susp,
                 n_users
          FROM c, q)
    SELECT CAST(sum(score * is_susp) AS BIGINT) AS susp_score,
           CAST(sum(is_susp) AS BIGINT) AS n_susp,
           min(n_users) AS n_users,
           round(sum(score * is_susp) / (min(n_users) + sum(is_susp)), 8) AS objective
    FROM j
"""


def _q_burst_peak(spark, sf_dir):
    """Per-key burst apex: max-count hourly bin
    (edgepropertyAnalysis.py:304-320 aggregation core)."""
    from spartan2_spark.operators.anomaly import burst_peak

    return burst_peak(_events(spark, sf_dir), "user_id", "ts", 3600)


_BURST_SQL = """
    WITH b AS (SELECT user_id,
                      CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS tbin,
                      count(*) AS cnt
               FROM events GROUP BY 1, 2),
    r AS (SELECT user_id, tbin, cnt,
                 row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, tbin ASC) AS rn
          FROM b)
    SELECT user_id, tbin AS burst_bin, cnt AS burst_cnt FROM r WHERE rn = 1
"""


def _q_densest_subgraph(spark, sf_dir):
    """Charikar-style parallel peeling on the (partkey, suppkey)
    bipartite graph. Oracle-checked by a fixed unroll: each round's
    density is a pure function of the previous round's edge set, the
    best round = (max density, earliest round) — the early-stop in the
    Spark loop is an optimization, not a semantic (see
    _densest_sql)."""
    from spartan2_spark.operators.anomaly import densest_subgraph_peel

    li = _lineitem(spark, sf_dir).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    res = densest_subgraph_peel(li, max_rounds=10)
    return res["nodes"].withColumn("density", F.lit(res["density"]))


def _densest_sql(rounds: int = 10) -> str:
    parts = [
        "e0 AS MATERIALIZED (SELECT 'p' || l_partkey AS s, 's' || l_suppkey AS d FROM lineitem)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT n, count(*) AS deg FROM "
            f"(SELECT s AS n FROM e{i} UNION ALL SELECT d FROM e{i}) GROUP BY n)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT {i} AS r, "
            f"(SELECT count(*) FROM e{i}) AS m, (SELECT count(*) FROM d{i}) AS nn)"
        )
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT n FROM d{i}, s{i} "
            f"WHERE deg > 2.0 * (m / nn))"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.s, e.d FROM e{i} e "
            f"JOIN k{i} a ON e.s = a.n JOIN k{i} b ON e.d = b.n)"
        )
    stats_union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(rounds))
    nodes_union = " UNION ALL ".join(
        f"SELECT {i} AS r, n FROM d{i}" for i in range(rounds)
    )
    parts.append(f"stats AS (SELECT r, m / nn AS density FROM ({stats_union}) WHERE m > 0)")
    parts.append("best AS (SELECT r, density FROM stats ORDER BY density DESC, r ASC LIMIT 1)")
    parts.append(f"an AS ({nodes_union})")
    return (
        "WITH " + ",\n    ".join(parts)
        + "\n    SELECT an.n, best.density FROM an, best WHERE an.r = best.r"
    )


def _q_tdigest_quantiles(spark, sf_dir):
    """Parallelism-invariant two-phase t-digest quantiles (Dunning &
    Ertl centroid sketch). Portable poly-hash sharding + deterministic
    greedy compression make the whole digest replayable: the DuckDB
    twin re-runs both sequential compression walks (phase-1 per-shard,
    phase-2 merge-all) via recursive CTEs and lands on identical
    centroids, hence identical interpolated quantiles — value-exact
    for a genuinely sequential sketch kernel."""
    from spartan2_spark.functions.sketches import tdigest_quantiles

    return tdigest_quantiles(
        _events(spark, sf_dir),
        ["event_type"],
        "value",
        qs=(0.5, 0.95),
    )


_TDIGEST_SQL = """
    WITH RECURSIVE tdsrc AS MATERIALIZED (
      SELECT event_type AS k, CAST(value AS DOUBLE) AS v,
             list_reduce(list_prepend(0::BIGINT, list_transform(
               string_split(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), ''),
               c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 2147483647)
               % 32 AS shard
      FROM events),
    r1 AS MATERIALIZED (
      SELECT k, shard, v,
             row_number() OVER (PARTITION BY k, shard ORDER BY v) AS rn,
             CAST(count(*) OVER (PARTITION BY k, shard) AS DOUBLE) AS tot
      FROM tdsrc),
    w1(k, shard, rn, tot, seen, cur_m, cur_w, emit_m, emit_w, eidx) AS (
      SELECT k, shard, rn, tot, 0.0::DOUBLE, v, 1.0::DOUBLE,
             NULL::DOUBLE, NULL::DOUBLE, 0::BIGINT
      FROM r1 WHERE rn = 1
      UNION ALL
      SELECT r.k, r.shard, r.rn, r.tot,
             CASE WHEN ((w.seen + w.cur_w + 1.0) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN w.seen ELSE w.seen + w.cur_w END,
             CASE WHEN ((w.seen + w.cur_w + 1.0) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN (w.cur_m * w.cur_w + r.v) / (w.cur_w + 1.0) ELSE r.v END,
             CASE WHEN ((w.seen + w.cur_w + 1.0) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN w.cur_w + 1.0 ELSE 1.0 END,
             CASE WHEN ((w.seen + w.cur_w + 1.0) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN NULL ELSE w.cur_m END,
             CASE WHEN ((w.seen + w.cur_w + 1.0) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN NULL ELSE w.cur_w END,
             CASE WHEN ((w.seen + w.cur_w + 1.0) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN w.eidx ELSE w.eidx + 1 END
      FROM w1 w JOIN r1 r ON r.k = w.k AND r.shard = w.shard AND r.rn = w.rn + 1),
    c1 AS MATERIALIZED (
      SELECT k, shard, emit_m AS m, emit_w AS w, eidx FROM w1 WHERE emit_m IS NOT NULL
      UNION ALL
      SELECT k, shard, cur_m, cur_w, eidx + 1 FROM w1 WHERE rn = tot),
    r2 AS MATERIALIZED (
      SELECT k, m, w,
             row_number() OVER (PARTITION BY k ORDER BY m, shard, eidx) AS rn,
             count(*) OVER (PARTITION BY k) AS nc,
             sum(w) OVER (PARTITION BY k) AS tot
      FROM c1),
    w2(k, rn, nc, tot, seen, cur_m, cur_w, emit_m, emit_w, eidx) AS (
      SELECT k, rn, nc, tot, 0.0::DOUBLE, m, w, NULL::DOUBLE, NULL::DOUBLE, 0::BIGINT
      FROM r2 WHERE rn = 1
      UNION ALL
      SELECT r.k, r.rn, r.nc, r.tot,
             CASE WHEN ((w.seen + w.cur_w + r.w) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN w.seen ELSE w.seen + w.cur_w END,
             CASE WHEN ((w.seen + w.cur_w + r.w) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN (w.cur_m * w.cur_w + r.m * r.w) / (w.cur_w + r.w) ELSE r.m END,
             CASE WHEN ((w.seen + w.cur_w + r.w) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN w.cur_w + r.w ELSE r.w END,
             CASE WHEN ((w.seen + w.cur_w + r.w) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN NULL ELSE w.cur_m END,
             CASE WHEN ((w.seen + w.cur_w + r.w) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN NULL ELSE w.cur_w END,
             CASE WHEN ((w.seen + w.cur_w + r.w) / w.tot - w.seen / w.tot) * 100.0 <= 1.0
                  THEN w.eidx ELSE w.eidx + 1 END
      FROM w2 w JOIN r2 r ON r.k = w.k AND r.rn = w.rn + 1),
    c2 AS MATERIALIZED (
      SELECT k, emit_m AS m, emit_w AS w, eidx FROM w2 WHERE emit_m IS NOT NULL
      UNION ALL
      SELECT k, cur_m, cur_w, eidx + 1 FROM w2 WHERE rn = nc),
    qc AS MATERIALIZED (
      SELECT k, m, w,
             sum(w) OVER (PARTITION BY k ORDER BY eidx
                          ROWS UNBOUNDED PRECEDING) - w / 2.0 AS cum,
             row_number() OVER (PARTITION BY k ORDER BY eidx) AS j
      FROM c2),
    stats AS (SELECT k, count(*) AS nc2, sum(w) AS tot,
                     min(cum) AS cmin, max(cum) AS cmax,
                     arg_min(m, j) AS mfirst, arg_max(m, j) AS mlast
              FROM qc GROUP BY 1),
    pairs AS MATERIALIZED (
      SELECT x.k, x.cum AS c0, y.cum AS c1, x.m AS m0, y.m AS m1
      FROM qc x JOIN qc y ON y.k = x.k AND y.j = x.j + 1),
    targets AS (SELECT k, q FROM stats,
                (VALUES (0.5::DOUBLE), (0.95::DOUBLE)) t(q)),
    resolved AS (
      SELECT t.k, t.q,
             CASE WHEN s.nc2 = 1 THEN s.mfirst
                  WHEN t.q * s.tot <= s.cmin THEN s.mfirst
                  WHEN t.q * s.tot >= s.cmax THEN s.mlast
                  ELSE (SELECT p.m0 + ((t.q * s.tot - p.c0) / (p.c1 - p.c0))
                                      * (p.m1 - p.m0)
                        FROM pairs p
                        WHERE p.k = t.k AND p.c0 < t.q * s.tot
                          AND p.c1 >= t.q * s.tot
                        LIMIT 1)
             END AS val
      FROM targets t JOIN stats s ON s.k = t.k)
    SELECT k AS event_type,
           max(CASE WHEN q = 0.5 THEN val END) AS q50,
           max(CASE WHEN q = 0.95 THEN val END) AS q95
    FROM resolved GROUP BY 1
"""


def _q_agg_ts_list(spark, sf_dir):
    """Per-key time-sorted event-time list (reference TensorData.to_aggts,
    tensor.py:125-135) — list rendered as a CSV string so the value hash
    is representation-independent across engines."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"), _usec("ts").alias("ts")
    )
    agg = TS.to_aggts(ev)
    return agg.select(
        "key",
        F.array_join(F.transform("aggts", lambda v: v.cast("string")), ",").alias(
            "ts_list"
        ),
        F.size("aggts").cast("long").alias("n_ts"),
    )


_AGG_TS_SQL = """
    SELECT user_id AS key,
           string_agg(CAST(epoch_us(ts) AS VARCHAR), ',' ORDER BY epoch_us(ts)) AS ts_list,
           count(*) AS n_ts
    FROM events GROUP BY 1
"""


def _q_cumsum_daily(spark, sf_dir):
    """Cumulative sum over the time axis per series (reference
    common.py:356-389 cumsum) on exact centi units."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100)).alias("vsum_c"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        F.unix_timestamp("day").alias("day_s"),
        F.sum("vsum_c").over(w).alias("cum_vsum_c"),
    )


_CUMSUM_SQL = """
    WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                      sum(round(value*100)) AS vsum_c
               FROM events GROUP BY 1, 2)
    SELECT event_type, epoch(day)::BIGINT AS day_s,
           sum(vsum_c) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS cum_vsum_c
    FROM d
"""


def _q_cumprod_daily(spark, sf_dir):
    """Cumulative product over the time axis per series (reference
    common.py:356-389 cumprod — the other cumulative op). Daily growth
    factor 1 + vsum/10^6; both engines evaluate the running product as
    the same in-order sequential multiply, so doubles are
    bit-identical."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(
        (1.0 + F.sum(F.round(F.col("value") * 100)) / 1_000_000.0).alias("factor")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        F.unix_timestamp("day").alias("day_s"),
        F.round(F.product("factor").over(w), 8).alias("cum_growth"),
    )


_CUMPROD_SQL = """
    WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                      1.0 + sum(round(value*100)) / 1000000.0 AS factor
               FROM events GROUP BY 1, 2)
    SELECT event_type, epoch(day)::BIGINT AS day_s,
           round(product(factor) OVER (PARTITION BY event_type ORDER BY day
                                       ROWS UNBOUNDED PRECEDING), 8) AS cum_growth
    FROM d
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_pivot_rollup(spark, sf_dir):
    """The reference rollup's pivot step (log_to_time unstack,
    tensor.py:116): bucket x group matrix, one column per group.
    Explicit pivot values keep the plan single-pass (no distinct scan)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.round(F.col("value") * 100)))
        .select(F.unix_timestamp("day").alias("day_s"), *_EVENT_TYPES)
    )


_PIVOT_SQL = """
    SELECT epoch(date_trunc('day', ts))::BIGINT AS day_s,
           sum(CASE WHEN event_type = 'click' THEN round(value*100) END) AS click,
           sum(CASE WHEN event_type = 'error' THEN round(value*100) END) AS error,
           sum(CASE WHEN event_type = 'purchase' THEN round(value*100) END) AS purchase,
           sum(CASE WHEN event_type = 'signup' THEN round(value*100) END) AS signup,
           sum(CASE WHEN event_type = 'view' THEN round(value*100) END) AS view
    FROM events GROUP BY 1
"""


def _q_graph_difference(spark, sf_dir):
    """Edge-set difference (reference geneutil graph1_minus_graph2):
    distinct (user, event_type) edges seen in the first half of the
    month but never in the second half — anti-join."""
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("ts") < F.lit("2024-01-03 00:00:00")).select(
        F.col("user_id").alias("src"), F.col("event_type").alias("dst")
    ).distinct()
    b = ev.filter(F.col("ts") >= F.lit("2024-01-29 00:00:00")).select(
        F.col("user_id").alias("src"), F.col("event_type").alias("dst")
    )
    return GR.graph_minus(a, b)


_GRAPH_DIFF_SQL = """
    SELECT DISTINCT user_id AS src, event_type AS dst FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    EXCEPT
    SELECT DISTINCT user_id AS src, event_type AS dst FROM events
    WHERE ts >= TIMESTAMP '2024-01-29 00:00:00'
"""


def _q_subgraph_reindex(spark, sf_dir):
    """Subgraph by node-id sets + dense re-index (reference
    Graph.get_sub_graph, graph.py:60-88): keep edges whose endpoints
    fall in the given sets, then re-map the kept src ids to dense
    0..n-1 via a broadcast dimension join (StringMapper analogue)."""
    ev = _events(spark, sf_dir)
    edges = (
        ev.filter((F.col("user_id") < 50) & F.col("event_type").isin("click", "view"))
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    enc, _dim = GR.encode_ids(edges, "src")
    return enc.select(F.col("src").alias("src_id"), "dst", "weight")


_SUBGRAPH_SQL = """
    WITH e AS (SELECT user_id AS src, event_type AS dst, count(*) AS weight
               FROM events
               WHERE user_id < 50 AND event_type IN ('click', 'view')
               GROUP BY 1, 2),
    dim AS (SELECT src, dense_rank() OVER (ORDER BY src) - 1 AS src_id
            FROM (SELECT DISTINCT src FROM e))
    SELECT dim.src_id, e.dst, e.weight FROM e JOIN dim USING (src)
"""


def _q_concat_union(spark, sf_dir):
    """Time-axis series append (reference Timeseries.concat,
    timeseries.py:246-307 — identical labels required, concatenate
    along time): two disjoint time slices unioned then re-aggregated."""
    from spartan2_spark.operators.timeseries import concat_series, cut

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.col("ts"),
        F.round(F.col("value") * 100).alias("v"),
    )
    a = cut(ev, "2024-01-01 00:00:00", "2024-01-08 00:00:00", time_col="ts")
    b = cut(ev, "2024-01-22 00:00:00", "2024-02-01 00:00:00", time_col="ts")
    both = concat_series(a, b)
    return both.groupBy("key").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("vsum_c")
    )


_CONCAT_SQL = """
    WITH u AS (
      SELECT event_type AS key, round(value*100) AS v FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
      UNION ALL
      SELECT event_type AS key, round(value*100) AS v FROM events
      WHERE ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-02-01')
    SELECT key, count(*) AS cnt, sum(v) AS vsum_c FROM u GROUP BY 1
"""


def _q_combine_join(spark, sf_dir):
    """Column-wise series combine on a shared time axis (reference
    Timeseries.combine, timeseries.py:309-374 — equal freq required,
    clashing labels suffixed): click vs view daily mean joined on day."""
    from spartan2_spark.operators.timeseries import combine_series

    ev = _events(spark, sf_dir)

    def daily(etype):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.date_trunc("day", F.col("ts").cast("timestamp")).alias("ts"))
            .agg(
                (
                    F.sum(F.round(F.col("value") * 100))
                    / F.count(F.lit(1))
                ).alias("vmean_c")
            )
            .withColumn("key", F.lit("daily"))
        )

    out = combine_series(daily("click"), daily("view"))
    return out.select(
        F.unix_timestamp("ts").alias("day_s"),
        F.col("vmean_c_1").alias("click_mean_c"),
        F.col("vmean_c_2").alias("view_mean_c"),
    )


_COMBINE_SQL = """
    WITH c AS (SELECT date_trunc('day', ts) AS day,
                      sum(round(value*100)) / count(*) AS m
               FROM events WHERE event_type = 'click' GROUP BY 1),
    v AS (SELECT date_trunc('day', ts) AS day,
                 sum(round(value*100)) / count(*) AS m
          FROM events WHERE event_type = 'view' GROUP BY 1)
    SELECT epoch(c.day)::BIGINT AS day_s,
           c.m AS click_mean_c, v.m AS view_mean_c
    FROM c JOIN v USING (day)
"""


def _q_burst_involvement(spark, sf_dir):
    """Burst-involvement ratio per sink (edgepropertyAnalysis.py:258-301)."""
    from spartan2_spark.operators.anomaly import burst_involvement

    return burst_involvement(_events(spark, sf_dir), "event_type", "ts", 3600)


_BURST_INVOLV_SQL = """
    WITH b AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS tbin,
                      count(*) AS cnt
               FROM events GROUP BY 1),
    peak AS (SELECT tbin AS burst_start FROM b
             ORDER BY cnt DESC, tbin ASC LIMIT 1)
    SELECT event_type,
           CAST(sum(CASE WHEN CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                    = burst_start THEN 1 ELSE 0 END) AS BIGINT) AS n_burst,
           count(*) AS n_total,
           round(sum(CASE WHEN CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                          = burst_start THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 8) AS involv
    FROM events, peak GROUP BY event_type, burst_start
"""


def _q_mean_var_sink(spark, sf_dir):
    """One-pass per-sink mean + biased variance (reference amean/avar,
    edgepropertyAnalysis.py:95-110,128-135; divisor n per
    cpu_backend/tensor.py:300). Computed from exact integer sums so the
    float division is the only inexact step and is identical on both
    engines."""
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 100)
    g = ev.groupBy("event_type").agg(
        F.sum(vc).alias("s"),
        F.sum(vc * vc).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mean_c"),
        F.round(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n"), 6
        ).alias("var_c"),
        F.col("n").alias("n"),
    )


_MEAN_VAR_SQL = """
    WITH g AS (SELECT event_type, sum(round(value*100)) AS s,
                      sum(round(value*100) * round(value*100)) AS ss,
                      count(*) AS n
               FROM events GROUP BY 1)
    SELECT event_type, s / n AS mean_c,
           round((ss - s * s / n) / n, 6) AS var_c, n
    FROM g
"""


def _q_rating_digitize(spark, sf_dir):
    """Digitize a continuous value into rating buckets then count per
    (sink, bucket) — np.digitize / width_bucket semantics
    (edgepropertyAnalysis.py:88-92, holoscopeFraudDect.py:431)."""
    ev = _events(spark, sf_dir)
    bucket = (
        F.when(F.col("value") < 25, 0)
        .when(F.col("value") < 50, 1)
        .when(F.col("value") < 75, 2)
        .otherwise(3)
        .cast("long")
    )
    return ev.groupBy("event_type", bucket.alias("rbucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


_DIGITIZE_SQL = """
    SELECT event_type,
           CASE WHEN value < 25 THEN 0 WHEN value < 50 THEN 1
                WHEN value < 75 THEN 2 ELSE 3 END AS rbucket,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
"""


def _q_sliding_window(spark, sf_dir):
    """Time-based sliding window with overlap retention (reference
    TensorStream.fetch_slide_window, tensor.py:170-231: window=10m
    stride=5m keeps the 5m overlap) — Spark's window() multi-assigns
    each row to both containing windows, which IS the overlap."""
    ev = _events(spark, sf_dir)
    win = F.window(F.col("ts").cast("timestamp"), "10 minutes", "5 minutes")
    return ev.groupBy(win.alias("w")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("value") * 100)).alias("vsum_c"),
    ).select(
        F.unix_timestamp("w.start").alias("win_start_s"), "cnt", "vsum_c"
    )


_SLIDING_SQL = """
    WITH cand AS (
      SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
                     CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - 300])
               AS win_start_s,
             round(value*100) AS v
      FROM events)
    SELECT win_start_s, count(*) AS cnt, sum(v) AS vsum_c
    FROM cand GROUP BY 1
"""


def _q_kcore(spark, sf_dir):
    """Iterative k-core peeling (MinTree/Fraudar batch analogue) —
    iterative fixpoint, rows-only check."""
    li = _lineitem(spark, sf_dir).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return GR.kcore(li, k=34)


def _sampled_copart_edges(spark, sf_dir):
    """Shared candidate-edge builder for the co-part graph queries
    (triangle_counts_sampled, ktruss_edges): distinct supplier co-part
    pairs, part fan-out capped at 200, then a deterministic MINSTD edge
    sample at rate floor(150/sqrt(n_suppliers))%. The co-part graph
    saturates toward a clique as sf grows (every supplier pair
    eventually shares a part), so the 1/sqrt(n) rate holds edge density
    — and the wedge-join workload — scale-constant (measured 47 s ->
    <1 s at sf0.1). One scalar count (n_suppliers) is the documented
    driver-side-scalar seam; both consumers AND their SQL twins must
    replay this construction identically — factored here so the hash /
    rate expressions cannot drift apart (ADVICE r3)."""
    li = _lineitem(spark, sf_dir).select("l_partkey", "l_suppkey").distinct()
    ok = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= 200)
        .select("l_partkey")
    )
    li = li.join(ok, "l_partkey")
    nsupp = li.select("l_suppkey").distinct().count()
    rate = max(2, int(150 / nsupp**0.5))
    return (
        li.alias("x")
        .join(li.alias("y"), "l_partkey")
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
        # sample BEFORE the dedup shuffle: the hash is per-pair
        # deterministic, so filter-then-distinct == distinct-then-filter
        # while the distinct's input shrinks by 1/rate (25x at sf0.1)
        .filter(
            ((F.col("src") * 48271 + F.col("dst")) * 48271)
            % 2147483647 % 100
            < rate
        )
        .distinct()
        # barrier: five queries fan out from this relation with
        # multi-self-join plans (neighbor sets, wedges, degree moments)
        # that would otherwise re-evaluate the whole co-part build per
        # consumer branch — measured 24-32 parquet scans of
        # lineitem per query in PLAN_AUDIT before the checkpoint,
        # 0 after (the edge relation is sample-capped and tiny)
        .transform(_barrier)
    )


def _q_triangles(spark, sf_dir):
    """Per-supplier triangle counts on the SAMPLED co-part projection
    (see _sampled_copart_edges) — canonical-orientation join, each
    triangle found once. Named *_sampled because r3 changed the
    semantics from exact co-part triangle counts to counts on the
    deterministic edge sample: results are exact FOR THE SAMPLED GRAPH
    (Spark and the SQL twin replay the identical sample) but are not
    comparable to the pre-r3 exact-graph numbers."""
    from spartan2_spark.operators.graph import triangle_counts

    return triangle_counts(_sampled_copart_edges(spark, sf_dir))


_TRIANGLES_SQL = """
    WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok AS (SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) <= 200),
    lf AS (SELECT li.* FROM li JOIN ok USING (l_partkey)),
    ep AS (SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v
           FROM lf x JOIN lf y USING (l_partkey)
           WHERE x.l_suppkey < y.l_suppkey),
    rate AS (SELECT GREATEST(2, FLOOR(150 / sqrt(count(DISTINCT
             l_suppkey)))::BIGINT) AS r FROM lf),
    e AS MATERIALIZED (SELECT u, v FROM ep
          WHERE (u::BIGINT * 48271 + v) * 48271 % 2147483647 % 100
          < (SELECT r FROM rate)),
    tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
            FROM e ab JOIN e bc ON ab.v = bc.u
                      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
    pn AS (SELECT node, count(*)::BIGINT AS n_triangles FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY node),
    nodes AS (SELECT DISTINCT u AS node FROM e UNION SELECT v FROM e)
    SELECT node, coalesce(n_triangles, 0) AS n_triangles
    FROM nodes LEFT JOIN pn USING (node)
"""


def _q_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (6 rounds, d=0.85) on the
    symmetrized customer<->supplier purchase graph — bit-exact on any
    engine via integer DIV; fixed-unroll twin."""
    from spartan2_spark.operators.graph import pagerank_fixedpoint

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    eo = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    e = eo.unionAll(eo.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank_fixedpoint(e, rounds=6)


def _pagerank_sql(rounds: int = 6, num: int = 85, den: int = 100,
                  scale_bits: int = 30) -> str:
    scale = 1 << scale_bits
    parts = [
        "eo AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS u, "
        "'s' || l_suppkey AS v FROM orders JOIN lineitem "
        "ON o_orderkey = l_orderkey)",
        "e AS MATERIALIZED (SELECT u, v FROM eo UNION ALL SELECT v, u FROM eo)",
        "nodes AS (SELECT DISTINCT u AS node FROM e)",
        "od AS (SELECT u AS node, count(*)::BIGINT AS outdeg FROM e GROUP BY 1)",
        f"x0 AS (SELECT node, {scale}::BIGINT AS rank_mass FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.v AS node, "
            f"CAST(sum(x.rank_mass // od.outdeg) AS BIGINT) AS in_mass "
            f"FROM e JOIN x{k-1} x ON x.node = e.u "
            f"JOIN od ON od.node = e.u GROUP BY 1)"
        )
        parts.append(
            f"x{k} AS MATERIALIZED (SELECT n.node, "
            f"CAST(({(den - num) * scale}::BIGINT + {num} * coalesce(c{k}.in_mass, 0)) // {den} AS BIGINT)"
            f" AS rank_mass FROM nodes n LEFT JOIN c{k} USING (node))"
        )
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT node, rank_mass FROM x{rounds}"


def _q_ktruss(spark, sf_dir):
    """5-truss of the sampled supplier co-part graph
    (_sampled_copart_edges): iterative edge peel keeping edges in >= 3
    triangles — the EDGE-cohesion dual of kcore_peel, pruning the
    bridge/hub edges node peeling keeps. Fixed-unroll twin: the
    fixpoint is a closure, so extra unrolled rounds are the identity
    and the DuckDB replay lands on the same edge set value-exactly.
    The Spark peel raises if unconverged within max_rounds=30, so a
    converged Spark result compared against the 8-round twin can only
    mismatch (loudly) if convergence needs >8 rounds — on the sampled
    graph the peel converges in <=3 rounds at every tested sf (the
    sample rate holds expected edge density scale-constant, see
    _sampled_copart_edges)."""
    from spartan2_spark.operators.graph import ktruss

    return ktruss(_sampled_copart_edges(spark, sf_dir), k=5)


def _ktruss_sql(k: int = 5, rounds: int = 8) -> str:
    # The peel rounds drop triangle-free edges via the INNER join
    # against sup{r}; the Spark ktruss keeps them when k <= 2, so the
    # twin is only valid for k > 2 (ADVICE r3). `rounds` must be >= the
    # rounds the Spark peel needs; Spark raises past max_rounds=30 and
    # extra unrolled rounds are the identity, so a converged comparison
    # can only fail loudly, never silently diverge.
    if k <= 2:
        raise ValueError("_ktruss_sql requires k > 2 (k <= 2 keeps "
                         "triangle-free edges, which the peel CTEs drop)")
    parts = [
        "li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)",
        "ok AS (SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) <= 200)",
        "lf AS (SELECT li.* FROM li JOIN ok USING (l_partkey))",
        "ep AS (SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v "
        "FROM lf x JOIN lf y USING (l_partkey) "
        "WHERE x.l_suppkey < y.l_suppkey)",
        "rate AS (SELECT GREATEST(2, FLOOR(150 / sqrt(count(DISTINCT "
        "l_suppkey)))::BIGINT) AS r FROM lf)",
        "e0 AS MATERIALIZED (SELECT u, v FROM ep "
        "WHERE (u::BIGINT * 48271 + v) * 48271 % 2147483647 % 100 "
        "< (SELECT r FROM rate))",
    ]
    sup = (
        "sup{r} AS (SELECT u, v, count(*)::BIGINT AS support FROM ("
        "SELECT ab.u AS u, ab.v AS v FROM e{p} ab "
        "JOIN e{p} bc ON ab.v = bc.u "
        "JOIN e{p} ac ON ac.u = ab.u AND ac.v = bc.v "
        "UNION ALL SELECT ab.v, bc.v FROM e{p} ab "
        "JOIN e{p} bc ON ab.v = bc.u "
        "JOIN e{p} ac ON ac.u = ab.u AND ac.v = bc.v "
        "UNION ALL SELECT ab.u, bc.v FROM e{p} ab "
        "JOIN e{p} bc ON ab.v = bc.u "
        "JOIN e{p} ac ON ac.u = ab.u AND ac.v = bc.v"
        ") GROUP BY u, v)"
    )
    for r in range(1, rounds + 1):
        parts.append(sup.format(r=r, p=r - 1))
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r-1} e "
            f"JOIN sup{r} s USING (u, v) WHERE s.support >= {k - 2})"
        )
    parts.append(sup.format(r="f", p=rounds))
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT e.u, e.v, coalesce(s.support, 0)::BIGINT AS support
    FROM e{rounds} e LEFT JOIN supf s USING (u, v)"""
    )


def _q_label_propagation(spark, sf_dir):
    """Determinized synchronous LPA communities (4 rounds, argmax
    neighbour label, tie -> min) on the supplier co-part graph;
    fixed-unroll twin."""
    from spartan2_spark.operators.graph import label_propagation

    li = _lineitem(spark, sf_dir).select("l_partkey", "l_suppkey").distinct()
    ok = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= 200)
        .select("l_partkey")
    )
    li = li.join(ok, "l_partkey")
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_partkey")
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
        .distinct()
    )
    return label_propagation(pairs, rounds=4)


def _lpa_sql(rounds: int = 4) -> str:
    parts = [
        "li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)",
        "ok AS (SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) <= 200)",
        "lf AS (SELECT li.* FROM li JOIN ok USING (l_partkey))",
        "e0 AS (SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v "
        "FROM lf x JOIN lf y USING (l_partkey) "
        "WHERE x.l_suppkey < y.l_suppkey)",
        "e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"v{k} AS (SELECT e.u AS node, l.label, count(*) AS cnt "
            f"FROM e JOIN l{k-1} l ON l.node = e.v GROUP BY 1, 2)"
        )
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY cnt DESC, label ASC) AS rn FROM v{k}) WHERE rn = 1)"
        )
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT node, label FROM l{rounds}"


def _q_spokes_fixedpoint(spark, sf_dir):
    """Unnormalized BIGINT power iteration (adaptive right-shift
    rescaling) on the user x event_type adjacency — the value-exact
    driver evidence for the distributed matvec chain behind
    EigenSpokes/HoloScope fast init (spectral.py:power_iteration)."""
    from spartan2_spark.operators.spectral import power_iteration_fixedpoint

    edges = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return power_iteration_fixedpoint(
        edges, weight="w", half_steps=5, target_bits=28
    ).select(F.col("node").cast("long").alias("node"), "score")


def _power_fixedpoint_sql(half_steps: int = 5, target_bits: int = 28) -> str:
    parts = [
        "e AS MATERIALIZED (SELECT user_id AS s, event_type AS d, "
        "count(*)::BIGINT AS w FROM events GROUP BY 1, 2)",
        "x0 AS (SELECT DISTINCT d AS node, 1::BIGINT AS score FROM e)",
    ]
    dst_side = True
    for k in range(1, half_steps + 1):
        jk, gk = ("d", "s") if dst_side else ("s", "d")
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT e.{gk} AS node, "
            f"CAST(sum(e.w * x.score) AS BIGINT) AS score "
            f"FROM e JOIN x{k-1} x ON x.node = e.{jk} GROUP BY e.{gk})"
        )
        parts.append(
            f"s{k} AS (SELECT greatest(length(bin(max(score))) - {target_bits}, 0)"
            f" AS sh FROM r{k})"
        )
        parts.append(
            f"x{k} AS MATERIALIZED (SELECT node, "
            f"score >> (SELECT sh FROM s{k}) AS score FROM r{k})"
        )
        dst_side = not dst_side
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(node AS BIGINT) AS node, score FROM x{half_steps}"
    )


def _q_svd_spokes(spark, sf_dir):
    """Leading singular vector by distributed power iteration + the
    EigenSpokes node pick |u_i| >= 1/sqrt(m)
    (holoscopeFraudDect.py:395-626 fast init; EigenSpokes.py:8-38) —
    iterative, rows-only check."""
    from spartan2_spark.operators.spectral import eigen_spokes_nodes, power_iteration

    edges = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    res = power_iteration(edges, weight="w", n_iter=6)
    m = res["u"].count()
    return (
        eigen_spokes_nodes(res["u"], m)
        .select("node", F.round("score", 6).alias("u_score"))
        .withColumn("sigma1", F.round(F.lit(res["sigma1"]), 4))
    )


def _q_graph_summarize(spark, sf_dir):
    """DPGS-style MinHash-LSH graph summarization — the signature
    family is the same polynomial universal hash the DuckDB twin
    computes, so supernode grouping and the MDL gain are value-exact
    oracle-checked."""
    from spartan2_spark.operators.spectral import summarize_graph_lsh

    li = _lineitem(spark, sf_dir).select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    res = summarize_graph_lsh(li, k_hashes=4)
    return res["mdl_gain_bits"].select(
        "supernode", "n_nodes", F.round("gain_bits", 6).alias("gain_bits")
    )


_POLY_SQL_BASE = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(string_split({col}, ''),"
    " c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 2147483647)"
)


def _graph_summarize_sql(k_hashes: int = 4) -> str:
    base = _POLY_SQL_BASE.format(col="CAST(l_suppkey AS VARCHAR)")
    hmins = ", ".join(
        f"min((({2 * i + 1} * {base} + {i * i + 7}) % 2147483647)) AS h{i}"
        for i in range(k_hashes)
    )
    sup = " || '_' || ".join(f"h{i}::VARCHAR" for i in range(k_hashes))
    return f"""
    WITH sig AS (SELECT l_partkey AS node, {hmins} FROM lineitem GROUP BY 1),
    g AS (SELECT {sup} AS supernode, count(*) AS n_nodes FROM sig GROUP BY 1)
    SELECT supernode, n_nodes,
           round(CASE WHEN n_nodes > 1
                      THEN (n_nodes - 1) * log2(n_nodes::DOUBLE) ELSE 0.0 END, 6) AS gain_bits
    FROM g
"""


def _q_dpgs_merge_refine(spark, sf_dir):
    """DPGS within-group MDL merge round (DPGS.py:143-226): every
    within-LSH-group pair scored with the reference's local code-length
    gain (xlogx degree terms + common-neighbour terms), quantized to
    integers, best-partner matching, union-find collapse per group.
    Portable poly-hash signatures -> the DuckDB twin replays the whole
    round value-exactly (components via recursive CTE)."""
    from spartan2_spark.operators.spectral import dpgs_merge_round

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("src"), F.col("event_type").alias("dst")
    )
    res = dpgs_merge_round(ev, k_hashes=4, max_group=500)
    return res["assign"]


def _dpgs_merge_sql(k_hashes: int = 4) -> str:
    base = _POLY_SQL_BASE.format(col="CAST(event_type AS VARCHAR)")
    hmins = ", ".join(
        f"min((({2 * i + 1} * {base} + {i * i + 7}) % 2147483647)) AS h{i}"
        for i in range(k_hashes)
    )
    sup = " || '_' || ".join(f"h{i}::VARCHAR" for i in range(k_hashes))

    def xlogx(x):
        return f"(CASE WHEN {x} > 0 THEN {x} * ln({x}) ELSE 0.0 END)"

    def ln_univ(x):
        # Rissanen universal code length (c_MDL.pyx LN), 5-level unroll;
        # each log2^k only evaluates where log2^(k-1) > 0 (DuckDB throws
        # on log of non-positives, so the CASEs nest as lazy guards).
        import math as _m

        c = repr(_m.log2(2.865064))
        chain = "0.0"
        for k in range(5, 0, -1):
            lk = "log2(" * k + x + ")" * k
            chain = f"(CASE WHEN {lk} > 0 THEN {lk} + {chain} ELSE 0.0 END)"
        return f"(CASE WHEN {x} > 0 THEN {c} + {chain} ELSE 0.0 END)"

    return f"""
    WITH RECURSIVE
    nw AS (SELECT user_id AS node, event_type AS nei, count(*) AS w
           FROM events GROUP BY 1, 2),
    deg AS (SELECT node, sum(w) AS d FROM nw GROUP BY 1),
    sig AS (SELECT user_id AS node, {hmins} FROM events GROUP BY 1),
    sg AS (SELECT node, {sup} AS g FROM sig),
    ok AS (SELECT g FROM sg GROUP BY g HAVING count(*) BETWEEN 2 AND 500),
    grp AS (SELECT sg.node, sg.g FROM sg JOIN ok USING (g)),
    nd AS (SELECT grp.node, grp.g, deg.d FROM grp JOIN deg USING (node)),
    pairs AS (SELECT a.g, a.node AS u, b.node AS v,
                     2 * ({xlogx('a.d')} + {xlogx('b.d')} - {xlogx('(a.d + b.d)')}) AS degterm
              FROM nd a JOIN nd b ON a.g = b.g AND a.node < b.node),
    adjg AS (SELECT nw.node, nw.nei, nw.w, grp.g FROM nw JOIN grp USING (node)),
    pn AS (SELECT a.node AS u, b.node AS v,
                  2 * ({xlogx('(a.w + b.w)')} - {xlogx('a.w')} - {xlogx('b.w')})
                  + {ln_univ('a.w')} + {ln_univ('b.w')} - {ln_univ('(a.w + b.w)')} AS term
           FROM adjg a JOIN adjg b
           ON a.g = b.g AND a.nei = b.nei AND a.node < b.node),
    common AS (SELECT u, v, sum(term) AS commonterm FROM pn GROUP BY 1, 2),
    gains AS (SELECT g, u, v,
                     CAST(round((degterm + commonterm) * 1000, 0) AS BIGINT) AS gq
              FROM pairs JOIN common USING (u, v)
              WHERE CAST(round((degterm + commonterm) * 1000, 0) AS BIGINT) > 0),
    cand AS (SELECT g, u AS node, v AS partner, gq FROM gains
             UNION ALL SELECT g, v AS node, u AS partner, gq FROM gains),
    best AS (SELECT DISTINCT least(node, partner) AS cu, greatest(node, partner) AS cv
             FROM (SELECT *, row_number() OVER
                       (PARTITION BY node ORDER BY gq DESC, partner ASC) AS rn
                   FROM cand) t
             WHERE rn = 1),
    e2 AS (SELECT cu AS x, cv AS y FROM best UNION ALL SELECT cv AS x, cu AS y FROM best),
    reach(n, lbl) AS (
      SELECT x, x FROM e2
      UNION
      SELECT e2.y, r.lbl FROM reach r JOIN e2 ON e2.x = r.n),
    comp AS (SELECT n AS node, min(lbl) AS supernode FROM reach GROUP BY n),
    alln AS (SELECT DISTINCT user_id AS node FROM events)
    SELECT a.node, coalesce(c.supernode, a.node) AS supernode
    FROM alln a LEFT JOIN comp c USING (node)
"""


def _q_dpgs_summarize_fixpoint(spark, sf_dir):
    """Iterated DPGS summarization to a fixpoint (DPGS.py:49-141 outer
    merge loop): repeated within-LSH-group MDL merge rounds over the
    successively collapsed multigraph until no positive-gain pair
    remains. Value-exact (r3): the DuckDB twin threads the collapsed
    weighted multigraph through a fixed unroll of merge-round replays
    — a no-merge round collapses to identity, so the unroll's tail is
    stable and `rounds` = the first zero-gain round index + 1."""
    from spartan2_spark.operators.spectral import dpgs_summarize

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("src"), F.col("event_type").alias("dst")
    )
    res = dpgs_summarize(ev, k_hashes=4, max_rounds=6)
    return (
        res["assign"]
        .withColumn("rounds", F.lit(len(res["history"])))
        .orderBy("node")
    )


def _dpgs_fixpoint_sql(rounds: int = 6, k_hashes: int = 4) -> str:
    """Fixed-unroll twin of the DPGS fixpoint: each round replays the
    within-LSH-group MDL merge on the previous round's collapsed
    multigraph g{i} (edge rows keep original multiplicity; collapse
    re-keys src through the round's assignment). A zero-gain round
    assigns identity, so later unrolled rounds repeat it — matching
    the Spark loop's early break; `rounds` is the first zero-gain
    round + 1 (capped at the unroll depth, the Spark max_rounds)."""
    base = _POLY_SQL_BASE.format(col="CAST(dst AS VARCHAR)")
    hmins = ", ".join(
        f"min((({2 * i + 1} * {base} + {i * i + 7}) % 2147483647)) AS h{i}"
        for i in range(k_hashes)
    )
    sup = " || '_' || ".join(f"h{i}::VARCHAR" for i in range(k_hashes))

    def xlogx(x):
        return f"(CASE WHEN {x} > 0 THEN {x} * ln({x}) ELSE 0.0 END)"

    def ln_univ(x):
        import math as _m

        c = repr(_m.log2(2.865064))
        chain = "0.0"
        for k in range(5, 0, -1):
            lk = "log2(" * k + x + ")" * k
            chain = f"(CASE WHEN {lk} > 0 THEN {lk} + {chain} ELSE 0.0 END)"
        return f"(CASE WHEN {x} > 0 THEN {c} + {chain} ELSE 0.0 END)"

    parts = [
        "g0 AS MATERIALIZED (SELECT user_id AS src, event_type AS dst FROM events)"
    ]
    for i in range(rounds):
        parts += [
            f"nw{i} AS MATERIALIZED (SELECT src AS node, dst AS nei, count(*) AS w "
            f"FROM g{i} GROUP BY 1, 2)",
            f"deg{i} AS (SELECT node, CAST(sum(w) AS BIGINT) AS d FROM nw{i} GROUP BY 1)",
            f"sig{i} AS (SELECT src AS node, {hmins} FROM g{i} GROUP BY 1)",
            f"sg{i} AS (SELECT node, {sup} AS g FROM sig{i})",
            f"ok{i} AS (SELECT g FROM sg{i} GROUP BY g HAVING count(*) BETWEEN 2 AND 500)",
            f"grp{i} AS (SELECT sg{i}.node, sg{i}.g FROM sg{i} JOIN ok{i} USING (g))",
            f"nd{i} AS (SELECT grp{i}.node, grp{i}.g, deg{i}.d "
            f"FROM grp{i} JOIN deg{i} USING (node))",
            f"""prs{i} AS (SELECT a.g, a.node AS u, b.node AS v,
                 2 * ({xlogx('a.d')} + {xlogx('b.d')} - {xlogx('(a.d + b.d)')}) AS degterm
               FROM nd{i} a JOIN nd{i} b ON a.g = b.g AND a.node < b.node)""",
            f"adjg{i} AS MATERIALIZED (SELECT nw{i}.node, nw{i}.nei, nw{i}.w, grp{i}.g "
            f"FROM nw{i} JOIN grp{i} USING (node))",
            f"""pn{i} AS (SELECT a.node AS u, b.node AS v,
                 2 * ({xlogx('(a.w + b.w)')} - {xlogx('a.w')} - {xlogx('b.w')})
                 + {ln_univ('a.w')} + {ln_univ('b.w')} - {ln_univ('(a.w + b.w)')} AS term
               FROM adjg{i} a JOIN adjg{i} b
               ON a.g = b.g AND a.nei = b.nei AND a.node < b.node)""",
            f"common{i} AS (SELECT u, v, sum(term) AS commonterm FROM pn{i} GROUP BY 1, 2)",
            f"""gains{i} AS MATERIALIZED (SELECT g, u, v,
                 CAST(round((degterm + commonterm) * 1000, 0) AS BIGINT) AS gq
               FROM prs{i} JOIN common{i} USING (u, v)
               WHERE CAST(round((degterm + commonterm) * 1000, 0) AS BIGINT) > 0)""",
            f"pos{i} AS (SELECT count(*) AS c FROM gains{i})",
            f"cand{i} AS (SELECT g, u AS node, v AS partner, gq FROM gains{i} "
            f"UNION ALL SELECT g, v AS node, u AS partner, gq FROM gains{i})",
            f"""best{i} AS (SELECT DISTINCT least(node, partner) AS cu,
                 greatest(node, partner) AS cv
               FROM (SELECT *, row_number() OVER
                       (PARTITION BY node ORDER BY gq DESC, partner ASC) AS rn
                     FROM cand{i}) t
               WHERE rn = 1)""",
            f"e2_{i} AS (SELECT cu AS x, cv AS y FROM best{i} "
            f"UNION ALL SELECT cv AS x, cu AS y FROM best{i})",
            f"""reach{i}(n, lbl) AS (
               SELECT x, x FROM e2_{i}
               UNION
               SELECT e2_{i}.y, r.lbl FROM reach{i} r JOIN e2_{i} ON e2_{i}.x = r.n)""",
            f"comp{i} AS (SELECT n AS node, min(lbl) AS supernode FROM reach{i} GROUP BY n)",
            f"alln{i} AS (SELECT DISTINCT src AS node FROM g{i})",
            f"asg{i} AS MATERIALIZED (SELECT a.node, coalesce(c.supernode, a.node) AS supernode "
            f"FROM alln{i} a LEFT JOIN comp{i} c USING (node))",
            f"g{i + 1} AS MATERIALIZED (SELECT a.supernode AS src, e.dst "
            f"FROM g{i} e JOIN asg{i} a ON a.node = e.src)",
        ]
        if i == 0:
            parts.append("tot0 AS (SELECT node, supernode FROM asg0)")
        else:
            parts.append(
                f"tot{i} AS (SELECT t.node, a.supernode FROM tot{i - 1} t "
                f"JOIN asg{i} a ON a.node = t.supernode)"
            )
    zeros = " UNION ALL ".join(
        f"SELECT {i + 1} AS r FROM pos{i} WHERE c = 0" for i in range(rounds)
    )
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + f",\n    zr AS ({zeros}),"
        + f"\n    rc AS (SELECT coalesce(min(r), {rounds}) AS rounds FROM zr)"
        + f"\n    SELECT t.node, t.supernode, CAST(rc.rounds AS INTEGER) AS rounds"
        + f"\n    FROM tot{rounds - 1} t, rc"
    )


def _q_holoscope_fusion(spark, sf_dir):
    """HoloScope-style suspiciousness fusion: reciprocal-rank fusion of
    the KL-divergence and burst-involvement property scores per sink
    (holoscopeFraudDect.py:228-255 fuses property scores the same way;
    k=60). Fully SQL-expressible -> oracle-checked."""
    from spartan2_spark.operators.anomaly import (
        burst_involvement,
        kl_divergence_per_sink,
        reciprocal_rank_fusion,
    )

    ev = _events(spark, sf_dir).withColumn(
        "rbucket",
        F.when(F.col("value") < 50, 0).when(F.col("value") < 100, 1).otherwise(2).cast("long"),
    )
    # barrier both score relations: they are sink-count-sized (a
    # handful of rows) but the RRF rank windows reference each input
    # several times — without the checkpoint the whole raw-scan KL /
    # burst build re-evaluates per reference (24 parquet scans measured
    # in PLAN_AUDIT; 0 after)
    kl = kl_divergence_per_sink(ev, "event_type", "rbucket", n_buckets=3).select(
        "event_type", F.round("kl", 8).alias("s_kl")
    ).transform(_barrier)
    bi = burst_involvement(ev, "event_type", "ts", 3600).select(
        "event_type", F.col("involv").alias("s_burst")
    ).transform(_barrier)
    fused = reciprocal_rank_fusion(
        kl.join(bi, "event_type"), "event_type", ["s_kl", "s_burst"]
    )
    return fused.select("event_type", "s_kl", "s_burst", F.round("rrf", 8).alias("rrf"))


_HOLOSCOPE_FUSION_SQL = """
    WITH e AS (SELECT event_type, ts,
                      CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1 ELSE 2 END AS rb
               FROM events),
    per AS (SELECT event_type, rb, count(*) AS c FROM e GROUP BY 1, 2),
    dense AS (
      SELECT s.event_type, b.rb, coalesce(per.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM per) s
      CROSS JOIN (SELECT unnest([0,1,2]) AS rb) b
      LEFT JOIN per ON per.event_type = s.event_type AND per.rb = b.rb),
    gh AS (SELECT b.rb, coalesce(gx.g, 0) AS g
          FROM (SELECT unnest([0,1,2]) AS rb) b
          LEFT JOIN (SELECT rb, count(*) AS g FROM e GROUP BY 1) gx ON gx.rb = b.rb),
    gt AS (SELECT sum(g + 1) AS gt FROM gh),
    j AS (
      SELECT d.event_type, d.rb, d.c, coalesce(gh.g, 0) AS g, gt.gt,
             sum(d.c + 1) OVER (PARTITION BY d.event_type) AS st
      FROM dense d LEFT JOIN gh ON d.rb = gh.rb, gt),
    kl AS (SELECT event_type,
                  round(sum(((c+1)/st) * ln(((c+1)/st) / ((g+1)/gt))), 8) AS s_kl
           FROM j GROUP BY 1),
    hb AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS tbin,
                  count(*) AS cnt
           FROM e GROUP BY 1),
    peak AS (SELECT tbin AS burst_start FROM hb ORDER BY cnt DESC, tbin ASC LIMIT 1),
    bi AS (SELECT event_type,
                  round(sum(CASE WHEN CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                                 = burst_start THEN 1 ELSE 0 END)
                        / CAST(count(*) AS DOUBLE), 8) AS s_burst
           FROM e, peak GROUP BY event_type, burst_start),
    s AS (SELECT kl.event_type, s_kl, s_burst FROM kl JOIN bi USING (event_type)),
    r AS (SELECT event_type, s_kl, s_burst,
                 rank() OVER (ORDER BY s_kl DESC, event_type ASC) AS r1,
                 rank() OVER (ORDER BY s_burst DESC, event_type ASC) AS r2
          FROM s)
    SELECT event_type, s_kl, s_burst,
           round(1.0/(60+r1) + 1.0/(60+r2), 8) AS rrf
    FROM r
"""


def _q_holoscope_shaving(spark, sf_dir):
    """HoloScope's greedy shaving loop (holoscopeFraudDect.py:314-394)
    as a batched mean-credit peel over integer suspicious credits:
    credit(u) = sum over u's (user, sink) edge weights x the sink's
    burst-bin event count (the graphr @ bsusps MinTree seed); each
    round drops credit <= mean and the best-objective round's suspect
    set is returned. Fixed-unroll SQL twin (fixpoint semantics, like
    kcore/densest)."""
    from spartan2_spark.operators.anomaly import holoscope_greedy_shave

    ev = _events(spark, sf_dir)
    tbin = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("tbin")
    peak = (
        ev.groupBy(tbin)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tbin"))
        .limit(1)
        .select(F.col("tbin").alias("burst_start"))
    )
    nb = (
        ev.withColumn("__tbin", tbin)
        .crossJoin(F.broadcast(peak))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("__tbin") == F.col("burst_start"), 1).otherwise(0)
            ).alias("n_burst")
        )
    )
    wt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("w"))
    cred = (
        wt.join(nb, "event_type")
        .groupBy("user_id")
        .agg(F.sum(F.col("w") * F.col("n_burst")).alias("credit"))
    )
    res = holoscope_greedy_shave(cred, key="user_id", credit="credit", max_rounds=12)
    return (
        res["nodes"]
        .withColumn("rnd", F.lit(res["round"]))
        .withColumn("objective", F.lit(float(res["objective"])))
    )


def _holoscope_shave_sql(rounds: int = 12) -> str:
    """Unrolled SQL twin of the batched greedy shave: each round is a
    pure integer-comparison function of the previous round's set, and
    the emitted set is the best-objective round's (ties -> earliest
    round) — exactly the Spark loop's rule."""
    parts = [
        """e AS (SELECT user_id, event_type,
                 CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS tbin FROM events)""",
        "hb AS (SELECT tbin, count(*) AS cnt FROM e GROUP BY 1)",
        "peak AS (SELECT tbin AS burst_start FROM hb ORDER BY cnt DESC, tbin ASC LIMIT 1)",
        """nb AS (SELECT event_type,
                 CAST(sum(CASE WHEN tbin = burst_start THEN 1 ELSE 0 END) AS BIGINT) AS n_burst
          FROM e, peak GROUP BY 1)""",
        "wt AS (SELECT user_id, event_type, count(*) AS w FROM e GROUP BY 1, 2)",
        """a0 AS MATERIALIZED (SELECT user_id, CAST(sum(w * n_burst) AS BIGINT) AS credit
          FROM wt JOIN nb USING (event_type) GROUP BY 1)""",
        "nu AS (SELECT count(*) AS nu FROM a0)",
    ]
    for i in range(rounds):
        parts.append(
            f"m{i} AS (SELECT CAST(sum(credit) AS BIGINT) AS sc, count(*) AS n FROM a{i})"
        )
        parts.append(
            f"o{i} AS (SELECT {i} AS rnd, CAST(sc AS DOUBLE) / (nu.nu + n) AS obj "
            f"FROM m{i}, nu WHERE n > 0)"
        )
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT a{i}.* FROM a{i}, m{i} "
            f"WHERE credit * n > sc)"
        )
    objs = " UNION ALL ".join(f"SELECT * FROM o{i}" for i in range(rounds))
    tagged = " UNION ALL ".join(
        f"SELECT {i} AS rnd, user_id, credit FROM a{i}" for i in range(rounds)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f",\n    objs AS ({objs}),"
        + "\n    best AS (SELECT rnd, obj FROM objs ORDER BY obj DESC, rnd ASC LIMIT 1),"
        + f"\n    tagged AS ({tagged})"
        + "\n    SELECT t.user_id, t.credit, best.rnd AS rnd,"
        + " best.obj AS objective"
        + "\n    FROM tagged t JOIN best ON t.rnd = best.rnd"
    )


def _q_canonical_text(spark, sf_dir):
    """Canonical-row selection — the engine's byte-identical-text-per-url
    invariant (rollup.canonical_text: latest crawl wins, ties broken by
    lexicographically greatest digest; BASELINE.json input_hint). Run
    here over documents keyed by (source, lang) with doc_id as the
    recency axis so DuckDB can oracle the exact same rule."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = W.partitionBy("source", "lang").orderBy(
        F.col("doc_id").desc(), F.sha2(F.col("text"), 256).desc()
    )
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "source",
            "lang",
            F.col("doc_id").alias("canonical_doc"),
            F.sha2(F.col("text"), 256).alias("text_sha256"),
        )
    )


_CANONICAL_SQL = """
    SELECT source, lang, doc_id AS canonical_doc, sha256(text) AS text_sha256
    FROM (SELECT source, lang, doc_id, text,
                 row_number() OVER (PARTITION BY source, lang
                                    ORDER BY doc_id DESC, sha256(text) DESC) AS rn
          FROM documents)
    WHERE rn = 1
"""


def _flow_sides(spark, sf_dir):
    """Tripartite transfer sides for CubeFlow/FlowScope semantics:
    odd lineitem rows are A->M transfers into the part (mid), even rows
    are M->C transfers out; value in exact centi units, bucketed by
    ship month."""
    li = _lineitem(spark, sf_dir).select(
        F.col("l_partkey").alias("mid"),
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate").cast("timestamp"))).alias("bucket"),
        F.round(F.col("l_extendedprice") * 100).alias("value"),
        F.col("l_linenumber").alias("ln"),
    )
    return (
        li.filter(F.col("ln") % 2 == 1).drop("ln"),
        li.filter(F.col("ln") % 2 == 0).drop("ln"),
    )


def _q_flow_balance(spark, sf_dir):
    """CubeFlow per-(mid, bucket) flow balance cells
    (CubeFlow.py:37-322 objective term min(qin,qout) - alpha*|qin-qout|;
    alpha=0.75 is dyadic so every score is exact)."""
    from spartan2_spark.operators.flow import flow_balance

    am, mc = _flow_sides(spark, sf_dir)
    out = flow_balance(am, mc, alpha=0.75)
    return out.select(
        "mid", F.col("bucket").alias("bucket_s"), "q_in", "q_out", "balance_score"
    )


_FLOW_SIDES_SQL = """
    sides AS (SELECT l_partkey AS mid,
                     CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS bucket_s,
                     round(l_extendedprice * 100) AS v,
                     l_linenumber % 2 AS par
              FROM lineitem),
    qin AS (SELECT mid, bucket_s, sum(v) AS q_in FROM sides WHERE par = 1 GROUP BY 1, 2),
    qout AS (SELECT mid, bucket_s, sum(v) AS q_out FROM sides WHERE par = 0 GROUP BY 1, 2),
    cells AS (SELECT mid, bucket_s,
                     coalesce(q_in, 0) AS q_in, coalesce(q_out, 0) AS q_out,
                     least(coalesce(q_in, 0), coalesce(q_out, 0))
                       - 0.75 * abs(coalesce(q_in, 0) - coalesce(q_out, 0)) AS balance_score
              FROM qin FULL JOIN qout USING (mid, bucket_s))
"""

_FLOW_BALANCE_SQL = (
    "WITH " + _FLOW_SIDES_SQL + "SELECT mid, bucket_s, q_in, q_out, balance_score FROM cells"
)


def _q_flow_top_mids(spark, sf_dir):
    """CubeFlow's kept block, distributed: top-10 middle accounts by
    total balance score (stand-in for MinTree greedy peeling; scores
    are exact multiples of 0.25 so the sum is order-independent)."""
    from spartan2_spark.operators.flow import flow_balance, flow_suspicious_mids

    am, mc = _flow_sides(spark, sf_dir)
    return flow_suspicious_mids(flow_balance(am, mc, alpha=0.75), k=10)


_FLOW_TOP_SQL = (
    "WITH " + _FLOW_SIDES_SQL
    + """
    SELECT mid, sum(balance_score) AS total_score,
           sum(q_in) AS total_in, sum(q_out) AS total_out
    FROM cells GROUP BY mid
    ORDER BY total_score DESC, mid ASC LIMIT 10
"""
)


def _q_flow_peel_block(spark, sf_dir):
    """CubeFlow's greedy block refinement (CubeFlow.py:37-322): ratio
    peel over integer per-mid scores (4x the exact quarter-unit balance
    scores, so every round is a pure integer comparison), regularized
    by the bucket-mode size as the reference's |S|=|A|+|M|+|C|
    denominator. Emits the best-objective round's block."""
    from spartan2_spark.operators.flow import flow_balance, flow_greedy_peel

    am, mc = _flow_sides(spark, sf_dir)
    cells = flow_balance(am, mc, alpha=0.75)
    iscore = cells.groupBy("mid").agg(
        F.sum((F.col("balance_score") * 4).cast("long")).alias("iscore4")
    )
    k_reg = cells.select("bucket").distinct().count()
    res = flow_greedy_peel(
        iscore, mid="mid", score="iscore4", k_reg=k_reg, max_rounds=12
    )
    return (
        res["nodes"]
        .withColumn("rnd", F.lit(res["round"]))
        .withColumn("objective4", F.lit(float(res["objective"])))
    )


def _flow_peel_sql(rounds: int = 12) -> str:
    """Fixed-unroll twin of the CubeFlow ratio peel (fixpoint semantics:
    a no-peel round repeats the same set/objective and 'earliest round
    wins ties' mirrors the Spark early stop)."""
    parts = [
        _FLOW_SIDES_SQL.strip().rstrip(),
        """sc0 AS MATERIALIZED (SELECT mid,
              CAST(sum(4 * balance_score) AS BIGINT) AS iscore4
           FROM cells GROUP BY 1)""",
        "kreg AS (SELECT count(DISTINCT bucket_s) AS k FROM cells)",
    ]
    for i in range(rounds):
        parts.append(
            f"m{i} AS (SELECT CAST(sum(iscore4) AS BIGINT) AS tot, count(*) AS n "
            f"FROM sc{i})"
        )
        parts.append(
            f"o{i} AS (SELECT {i} AS rnd, CAST(tot AS DOUBLE) / (n + kreg.k) AS obj "
            f"FROM m{i}, kreg WHERE n > 0)"
        )
        parts.append(
            f"sc{i + 1} AS MATERIALIZED (SELECT sc{i}.* FROM sc{i}, m{i}, kreg "
            f"WHERE iscore4 * (n + kreg.k) > tot)"
        )
    objs = " UNION ALL ".join(f"SELECT * FROM o{i}" for i in range(rounds))
    tagged = " UNION ALL ".join(
        f"SELECT {i} AS rnd, mid, iscore4 FROM sc{i}" for i in range(rounds)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f",\n    objs AS ({objs}),"
        + "\n    best AS (SELECT rnd, obj FROM objs ORDER BY obj DESC, rnd ASC LIMIT 1),"
        + f"\n    tagged AS ({tagged})"
        + "\n    SELECT t.mid, t.iscore4, best.rnd AS rnd,"
        + " best.obj AS objective4"
        + "\n    FROM tagged t JOIN best ON t.rnd = best.rnd"
    )


def _q_cubeflow_plus(spark, sf_dir):
    """CubeFlowPlus post-processing (CubeFlowPlus.py:14-68,
    res_util.py:20-60/363-420/305-330): the top-12-mids CubeFlow block's
    induced A->M->C graph splits into weakly connected components,
    components with more than 6 middles repeatedly drop their
    max-degree middle (handle_biggraph_type=1), and every component is
    re-scored with the fs objective ((1-a)f - a*q)/(|A|+|M|+|C|),
    a=4/5. Integer centi values keep f/q in BIGINT; the twin unrolls
    the split rounds with per-round recursive-CTE connected components
    (extra rounds are the identity; Spark raises if unconverged, the
    kcore discipline)."""
    from spartan2_spark.operators.flow import (
        cubeflow_plus,
        flow_balance,
        flow_suspicious_mids,
    )

    li = _lineitem(spark, sf_dir)
    base = li.select(
        F.col("l_suppkey").alias("a"),
        F.col("l_partkey").alias("mid"),
        (F.col("l_orderkey") % 997).alias("c"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("value"),
        (F.col("l_linenumber") % 2).alias("par"),
    )
    am = base.filter(F.col("par") == 1).select("a", "mid", "value")
    mc = base.filter(F.col("par") == 0).select("mid", "c", "value")
    bal = flow_balance(
        am.withColumn("bucket", F.lit(0)), mc.withColumn("bucket", F.lit(0))
    )
    blk = flow_suspicious_mids(bal, k=12)
    out = cubeflow_plus(am, mc, blk, max_node_limit=6, max_split_rounds=40)
    return out.select(
        "component",
        "n_a",
        "n_m",
        "n_c",
        "f",
        "imbalance",
        F.col("score").alias("score"),
    )


def _cubeflow_plus_sql(k: int = 12, limit: int = 6, rounds: int = 12,
                       a_num: int = 4, a_den: int = 5) -> str:
    """Fixed-unroll CubeFlowPlus twin: per split round one recursive-CTE
    CC over the m-projected graph + the argmax-degree removal, then the
    final component membership/labels/fs scores. Every per-round CTE is
    MATERIALIZED — without it DuckDB re-inlines the chained NOT IN
    filters inside each recursion and the plan explodes."""
    parts = ["""base AS MATERIALIZED (SELECT l_suppkey AS a, l_partkey AS mid,
                     l_orderkey % 997 AS c,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                     l_linenumber % 2 AS par
              FROM lineitem)""",
    "qin AS (SELECT mid, sum(v) AS q_in FROM base WHERE par = 1 GROUP BY 1)",
    "qout AS (SELECT mid, sum(v) AS q_out FROM base WHERE par = 0 GROUP BY 1)",
    f"""blk AS MATERIALIZED (SELECT mid FROM (
        SELECT mid, least(coalesce(q_in,0), coalesce(q_out,0))
                    - 0.8 * abs(coalesce(q_in,0) - coalesce(q_out,0)) AS score
        FROM qin FULL JOIN qout USING (mid))
        ORDER BY score DESC, mid ASC LIMIT {k})""",
    """e0 AS MATERIALIZED (
        SELECT a * 3 AS u, mid * 3 + 1 AS v_, v AS w FROM base
        WHERE par = 1 AND mid IN (SELECT mid FROM blk)
        UNION ALL
        SELECT mid * 3 + 1 AS u, c * 3 + 2 AS v_, v AS w FROM base
        WHERE par = 0 AND mid IN (SELECT mid FROM blk))""",
    """deg AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT u AS node FROM e0 UNION ALL SELECT v_ FROM e0)
        WHERE node % 3 = 1 GROUP BY node)""",
    """proj0 AS MATERIALIZED (
        SELECT x.m AS m1, y.m AS m2 FROM
          (SELECT DISTINCT u AS k, v_ AS m FROM e0 WHERE v_ % 3 = 1) x
          JOIN (SELECT DISTINCT u AS k, v_ AS m FROM e0 WHERE v_ % 3 = 1) y USING (k)
        WHERE x.m < y.m
        UNION
        SELECT x.m, y.m FROM
          (SELECT DISTINCT v_ AS k, u AS m FROM e0 WHERE u % 3 = 1) x
          JOIN (SELECT DISTINCT v_ AS k, u AS m FROM e0 WHERE u % 3 = 1) y USING (k)
        WHERE x.m < y.m)""",
    "ms0 AS MATERIALIZED (SELECT node AS m FROM deg)"]
    cc = ("cc{r}(node, lbl) AS ("
          "SELECT m, m FROM ms{r} UNION "
          "SELECT s.nb, cc{r}.lbl FROM (SELECT m1 AS nd, m2 AS nb FROM proj{r} "
          "UNION SELECT m2, m1 FROM proj{r}) s JOIN cc{r} ON cc{r}.node = s.nd)")
    for r in range(rounds):
        parts.append(cc.format(r=r))
        parts.append(f"comp{r} AS MATERIALIZED (SELECT node, min(lbl) AS root FROM cc{r} GROUP BY node)")
        parts.append(f"""rm{r} AS MATERIALIZED (SELECT node FROM (
            SELECT c.node, row_number() OVER (PARTITION BY c.root ORDER BY d.deg DESC, c.node ASC) AS rn,
                   count(*) OVER (PARTITION BY c.root) AS n_m
            FROM comp{r} c JOIN deg d USING (node))
            WHERE n_m > {limit} AND rn = 1)""")
        parts.append(f"ms{r+1} AS MATERIALIZED (SELECT m FROM ms{r} WHERE m NOT IN (SELECT node FROM rm{r}))")
        parts.append(f"proj{r+1} AS MATERIALIZED (SELECT * FROM proj{r} WHERE m1 NOT IN (SELECT node FROM rm{r}) AND m2 NOT IN (SELECT node FROM rm{r}))")
    R = rounds
    parts.append(cc.format(r=R))
    parts.append(f"compF AS MATERIALIZED (SELECT node, min(lbl) AS root FROM cc{R} GROUP BY node)")
    parts.append("removed AS MATERIALIZED (" + " UNION ALL ".join(
        f"SELECT node FROM rm{r}" for r in range(rounds)) + ")")
    parts.append("""ef AS MATERIALIZED (SELECT * FROM e0
        WHERE (u % 3 <> 1 OR u NOT IN (SELECT node FROM removed))
          AND (v_ % 3 <> 1 OR v_ NOT IN (SELECT node FROM removed)))""")
    parts.append("""memb AS MATERIALIZED (
        SELECT node, root FROM compF
        UNION
        SELECT DISTINCT e.u AS node, c.root FROM ef e JOIN compF c ON c.node = e.v_ WHERE e.v_ % 3 = 1
        UNION
        SELECT DISTINCT e.v_ AS node, c.root FROM ef e JOIN compF c ON c.node = e.u WHERE e.u % 3 = 1)""")
    parts.append("labels AS (SELECT root, min(node) AS component FROM memb GROUP BY root)")
    parts.append("alln AS (SELECT DISTINCT node FROM (SELECT u AS node FROM e0 UNION ALL SELECT v_ FROM e0))")
    parts.append("""membership AS MATERIALIZED (
        SELECT a.node, coalesce(l.component, a.node) AS component
        FROM alln a LEFT JOIN memb m USING (node) LEFT JOIN labels l USING (root)
        WHERE NOT (a.node % 3 = 1 AND a.node IN (SELECT node FROM removed)))""")
    parts.append("""qm AS (
        SELECT m.node, m.component,
               coalesce(qi.q_in, 0) AS q_in, coalesce(qo.q_out, 0) AS q_out
        FROM membership m
        LEFT JOIN (SELECT v_ AS node, sum(w) AS q_in FROM ef WHERE v_ % 3 = 1 GROUP BY 1) qi USING (node)
        LEFT JOIN (SELECT u AS node, sum(w) AS q_out FROM ef WHERE u % 3 = 1 GROUP BY 1) qo USING (node)
        WHERE m.node % 3 = 1)""")
    parts.append("""cnts AS (SELECT component,
        sum(CASE WHEN node % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        sum(CASE WHEN node % 3 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_m,
        sum(CASE WHEN node % 3 = 2 THEN 1 ELSE 0 END)::BIGINT AS n_c
        FROM membership GROUP BY 1)""")
    parts.append("""msum AS (SELECT component,
        sum(least(q_in, q_out))::BIGINT AS f,
        sum(abs(q_in - q_out))::BIGINT AS imbalance
        FROM qm GROUP BY 1)""")
    return ("WITH RECURSIVE " + ",\n    ".join(parts) + f"""
    SELECT c.component, c.n_a, c.n_m, c.n_c,
           coalesce(s.f, 0)::BIGINT AS f,
           coalesce(s.imbalance, 0)::BIGINT AS imbalance,
           CAST((({a_den - a_num}) * coalesce(s.f, 0) - {a_num} * coalesce(s.imbalance, 0)) AS DOUBLE)
             / ({a_den} * (c.n_a + c.n_m + c.n_c)) AS score
    FROM cnts c LEFT JOIN msum s USING (component)""")


def _q_flowscope_peel(spark, sf_dir):
    """FlowScope coupled A->M->C chain peel (flowscopeFraudDect.py:
    100-148/256-283/324-384): per-middle min(in,out) flow and
    imbalance residue couple BOTH transfer matrices; batch ratio peel
    with the reference's (1+alpha)/-alpha priorities over all three
    node layers, best-objective round returned. Integer arithmetic
    throughout (alpha=4, centi values) -> twin replays bit-for-bit."""
    from spartan2_spark.operators.flow import flowscope_peel

    li = _lineitem(spark, sf_dir)
    base = li.select(
        F.col("l_suppkey").alias("a"),
        F.col("l_partkey").alias("mid"),
        (F.col("l_orderkey") % 997).alias("c"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("value"),
        (F.col("l_linenumber") % 2).alias("par"),
    )
    am = base.filter(F.col("par") == 1).select("a", "mid", "value")
    mc = base.filter(F.col("par") == 0).select("mid", "c", "value")
    res = flowscope_peel(am, mc, alpha=4, max_rounds=6)
    return (
        res["nodes"]
        .select("side", "node", F.col("p").alias("priority"))
        .withColumn("rnd", F.lit(res["round"]))
        .withColumn("objective", F.lit(float(res["objective"])))
    )


def _flowscope_peel_sql(rounds: int = 6) -> str:
    """Fixed-unroll twin of the FlowScope chain peel: each round
    recomputes the coupled per-middle min/max priorities and the
    A/C row/col-sum priorities, peels every node with p*s <= num, and
    the best-objective (earliest-tie) round's node sets are emitted.
    A no-peel round repeats the same sets (the Spark side's fixpoint
    break); rounds with an empty layer emit no objective (the Spark
    side's loop exit)."""
    parts = [
        """base AS MATERIALIZED (
           SELECT l_suppkey AS na, l_partkey AS m, l_orderkey % 997 AS nc,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                  l_linenumber % 2 AS par
           FROM lineitem)""",
        "eam0 AS MATERIALIZED (SELECT na, m, v FROM base WHERE par = 1)",
        "emc0 AS MATERIALIZED (SELECT m, nc, v FROM base WHERE par = 0)",
        "sa0 AS MATERIALIZED (SELECT DISTINCT na FROM eam0)",
        "sm0 AS MATERIALIZED (SELECT DISTINCT m FROM "
        "(SELECT m FROM eam0 UNION SELECT m FROM emc0))",
        "sc0 AS MATERIALIZED (SELECT DISTINCT nc FROM emc0)",
    ]
    for i in range(rounds):
        parts.append(
            f"""pm{i} AS MATERIALIZED (
            SELECT s.m, 5 * least(coalesce(i.w_in, 0), coalesce(o.w_out, 0))
                      - 4 * greatest(coalesce(i.w_in, 0), coalesce(o.w_out, 0)) AS p
            FROM sm{i} s
            LEFT JOIN (SELECT m, CAST(sum(v) AS BIGINT) AS w_in FROM eam{i} GROUP BY 1) i ON i.m = s.m
            LEFT JOIN (SELECT m, CAST(sum(v) AS BIGINT) AS w_out FROM emc{i} GROUP BY 1) o ON o.m = s.m)"""
        )
        parts.append(
            f"""pa{i} AS MATERIALIZED (
            SELECT s.na, 5 * coalesce(w.w, 0) AS p FROM sa{i} s
            LEFT JOIN (SELECT na, CAST(sum(v) AS BIGINT) AS w FROM eam{i} GROUP BY 1) w ON w.na = s.na)"""
        )
        parts.append(
            f"""pc{i} AS MATERIALIZED (
            SELECT s.nc, 5 * coalesce(w.w, 0) AS p FROM sc{i} s
            LEFT JOIN (SELECT nc, CAST(sum(v) AS BIGINT) AS w FROM emc{i} GROUP BY 1) w ON w.nc = s.nc)"""
        )
        parts.append(
            f"""m{i} AS (SELECT (SELECT count(*) FROM pa{i}) AS n_a,
                       (SELECT count(*) FROM pm{i}) AS n_m,
                       (SELECT count(*) FROM pc{i}) AS n_c,
                       (SELECT CAST(coalesce(sum(p), 0) AS BIGINT) FROM pm{i}) AS num)"""
        )
        parts.append(
            f"o{i} AS (SELECT {i} AS rnd, CAST(num AS DOUBLE) / (n_a + n_m + n_c) AS obj "
            f"FROM m{i} WHERE n_a > 0 AND n_m > 0 AND n_c > 0)"
        )
        parts.append(
            f"sa{i + 1} AS MATERIALIZED (SELECT na FROM pa{i}, m{i} "
            f"WHERE p * (n_a + n_m + n_c) > num)"
        )
        parts.append(
            f"sm{i + 1} AS MATERIALIZED (SELECT m FROM pm{i}, m{i} "
            f"WHERE p * (n_a + n_m + n_c) > num)"
        )
        parts.append(
            f"sc{i + 1} AS MATERIALIZED (SELECT nc FROM pc{i}, m{i} "
            f"WHERE p * (n_a + n_m + n_c) > num)"
        )
        parts.append(
            f"eam{i + 1} AS MATERIALIZED (SELECT e.* FROM eam{i} e "
            f"JOIN sa{i + 1} a ON a.na = e.na JOIN sm{i + 1} s ON s.m = e.m)"
        )
        parts.append(
            f"emc{i + 1} AS MATERIALIZED (SELECT e.* FROM emc{i} e "
            f"JOIN sm{i + 1} s ON s.m = e.m JOIN sc{i + 1} c ON c.nc = e.nc)"
        )
    objs = " UNION ALL ".join(f"SELECT * FROM o{i}" for i in range(rounds))
    tagged = " UNION ALL ".join(
        f"SELECT {i} AS rnd, 'A' AS side, na AS node, p FROM pa{i} "
        f"UNION ALL SELECT {i}, 'M', m, p FROM pm{i} "
        f"UNION ALL SELECT {i}, 'C', nc, p FROM pc{i}"
        for i in range(rounds)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f",\n    objs AS ({objs}),"
        + "\n    best AS (SELECT rnd, obj FROM objs ORDER BY obj DESC, rnd ASC LIMIT 1),"
        + f"\n    tagged AS ({tagged})"
        + "\n    SELECT t.side, t.node, t.p AS priority, best.rnd AS rnd,"
        + " best.obj AS objective"
        + "\n    FROM tagged t JOIN best ON t.rnd = best.rnd"
    )


def _q_rpeak_segments(spark, sf_dir):
    """RPeak-style peak detection + fixed segment windows
    (RPeak.py:24-36): strict local maxima over each user's value series
    at-or-above the per-series mean, then a +-60s segment around each
    peak. Threshold uses k_sigma=0 so every comparison is against the
    exact integer-sum mean -> oracle-exact."""
    from spartan2_spark.operators.peaks import detect_peaks

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).alias("v"),
    )
    pk = detect_peaks(
        ev, key="user_id", ts="ts", val="v", k_sigma=0.0, tie="event_id"
    )
    return pk.select(
        "user_id",
        _usec("ts").alias("ts_us"),
        "v",
        "thr",
        (_usec("ts") - 60_000_000).alias("seg_start_us"),
        (_usec("ts") + 60_000_000).alias("seg_end_us"),
    )


_RPEAK_SQL = """
    WITH s AS (SELECT user_id, ts, event_id, round(value * 100) AS v,
                      CASE WHEN lag(round(value * 100)) OVER w IS NULL
                                OR round(value * 100) != lag(round(value * 100)) OVER w
                           THEN 1 ELSE 0 END AS chg
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r AS (SELECT user_id, ts, v,
                 sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS rid
          FROM s),
    runs AS (SELECT user_id, rid, min(ts) AS ts, min(v) AS v
             FROM r GROUP BY 1, 2),
    st AS (SELECT user_id, avg(round(value * 100)) AS thr FROM events GROUP BY 1),
    rr AS (SELECT runs.*, lag(v) OVER wr AS pv, lead(v) OVER wr AS nv
           FROM runs WINDOW wr AS (PARTITION BY user_id ORDER BY rid))
    SELECT rr.user_id, epoch_us(ts) AS ts_us, v, thr,
           epoch_us(ts) - 60000000 AS seg_start_us,
           epoch_us(ts) + 60000000 AS seg_end_us
    FROM rr JOIN st ON st.user_id = rr.user_id
    WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv AND v >= thr
"""


def _q_rpeak_hamilton(spark, sf_dir):
    """RPeak fidelity path: the reference detects R-peaks with
    biosppy's Hamilton segmenter (RPeak.py:24-36); here the actual
    Hamilton algorithm (band-pass -> |diff| -> 80 ms envelope ->
    adaptive dual-buffer thresholds + refractory/T-wave/search-back
    rules, functions/hamilton.py, written numpy-only from the published
    description) runs per series as a grouped pandas kernel. A
    deterministic synthetic ECG is laid over the events table's row
    grid (4 series keyed by user_id % 4; beat period 240+30*key
    samples with 35%-amplitude T-waves and baseline wander; fs=360),
    then the reference's in-bounds rule keeps segments
    [r-120, r+136). Sequential float detector -> rows-only driver
    check; exact planted-beat recovery is pytest-proven
    (tests/test_hamilton_beatgan.py)."""
    from spartan2_spark.operators.peaks import hamilton_rpeaks

    i = F.row_number().over(
        W.partitionBy("key").orderBy("ts", "event_id")
    ) - F.lit(1)
    per = F.lit(240) + F.lit(30) * F.col("key")
    ev = (
        _events(spark, sf_dir)
        .withColumn("key", F.pmod(F.col("user_id"), F.lit(4)).cast("int"))
        .withColumn("i", i)
        .withColumn("j", F.pmod(F.col("i"), per).cast("double"))
        .withColumn("c", (per / F.lit(2)).cast("double"))
        .withColumn(
            "sig",
            F.exp(F.lit(-0.5) * F.pow((F.col("j") - F.col("c")) / F.lit(4.0), 2))
            + F.lit(0.35)
            * F.exp(
                F.lit(-0.5)
                * F.pow((F.col("j") - F.col("c") - F.lit(108.0)) / F.lit(18.0), 2)
            )
            + F.lit(0.1)
            * F.sin(F.lit(2.0 * math.pi * 0.3 / 360.0) * F.col("i")),
        )
        .select(
            "key",
            F.timestamp_seconds(F.lit(1704067200) + F.col("i")).alias("ts"),
            F.col("sig").alias("value"),
        )
    )
    res = hamilton_rpeaks(ev, fs=360.0, left=120, right=136)
    return res.select(
        "key",
        "r_idx",
        _usec("r_ts").alias("r_ts_us"),
        F.round("r_value", 6).alias("r_value"),
        "seg_start_idx",
        "seg_end_idx",
    ).orderBy("key", "r_idx")


def _q_beatgan_subspace(spark, sf_dir):
    """BeatGAN with a *learned* reconstructor (models/beatgan.py): per
    user series, fixed windows (16 samples, stride 8) are scored by
    reconstruction MSE against the rank-2 principal subspace of that
    series' own windows — the closed-form optimum of a linear
    autoencoder, the dependency-free stand-in for the reference's
    torch AE-GAN (model/beatgan/BeatGAN_CNN.py scores |x - G(x)| per
    window the same way). Float SVD -> rows-only driver check;
    planted-anomaly recovery is pytest-proven."""
    from spartan2_spark.models.beatgan import beatgan_subspace_scores

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).alias("v"),
    )
    res = beatgan_subspace_scores(
        ev,
        key="user_id",
        ts="ts",
        val="v",
        window=16,
        stride=8,
        rank=2,
        tie="event_id",
    )
    return res.select(
        "user_id",
        "win_start_idx",
        _usec("win_start_ts").alias("win_start_us"),
        F.round("err", 6).alias("err"),
    ).orderBy("user_id", "win_start_idx")


def _q_beatgan_ae(spark, sf_dir):
    """BeatGAN with a TRAINED nonlinear reconstructor
    (models/beatgan.py mlp_ae_window_scores): per user series, a
    2-layer tanh-bottleneck autoencoder is trained by fixed-seed
    full-batch Adam on that series' own windows (16 samples, stride 8,
    hidden 4, 60 epochs) and each window scored by reconstruction MSE —
    the numpy counterpart of the reference's torch AE training loop
    (model/beatgan/BeatGAN_CNN.py), minus the adversarial
    discriminator (documented scope cut). Deterministic (fixed seed,
    no shuffling; pytest-proven bit-identical re-runs) but
    float-iterative -> rows-only driver check."""
    from spartan2_spark.models.beatgan import beatgan_ae_scores

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).alias("v"),
    )
    res = beatgan_ae_scores(
        ev,
        key="user_id",
        ts="ts",
        val="v",
        window=16,
        stride=8,
        hidden=4,
        epochs=60,
        tie="event_id",
    )
    return res.select(
        "user_id",
        "win_start_idx",
        _usec("win_start_ts").alias("win_start_us"),
        F.round("err", 6).alias("err"),
    ).orderBy("user_id", "win_start_idx")


def _q_beatgan_gan(spark, sf_dir):
    """BeatGAN with the FULL adversarial objective
    (models/beatgan.py adversarial_ae_window_scores): per user series
    the AE generator trains against a tanh-feature discriminator with
    the paper's feature-matching loss (alternating fixed-seed
    full-batch Adam); windows scored by reconstruction MSE - the numpy
    counterpart of the reference's complete torch GAN loop
    (model/beatgan/BeatGAN_CNN.py), closing the r4 scope cut.
    Deterministic (pytest-proven bit-identical re-runs) but
    float-iterative -> rows-only driver check."""
    from spartan2_spark.models.beatgan import beatgan_gan_scores

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).alias("v"),
    )
    res = beatgan_gan_scores(
        ev,
        key="user_id",
        ts="ts",
        val="v",
        window=16,
        stride=8,
        hidden=4,
        d_hidden=4,
        epochs=60,
        tie="event_id",
    )
    return res.select(
        "user_id",
        "win_start_idx",
        _usec("win_start_ts").alias("win_start_us"),
        F.round("err", 6).alias("err"),
    ).orderBy("user_id", "win_start_idx")


def _q_beatgan_recon(spark, sf_dir):
    """BeatGAN's scoring shape (model/beatgan/): per-point
    reconstruction error vs a context reconstruction, top anomalies by
    error. The deterministic reconstructor is a centered +-2 moving
    average (the torch generator slots in behind the same contract);
    integer centi inputs keep the single division exact on both
    engines."""
    from spartan2_spark.operators.peaks import reconstruction_scores

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).alias("v"),
    )
    sc = reconstruction_scores(
        ev, key="user_id", ts="ts", val="v", half_window=2, tie="event_id"
    )
    return (
        sc.orderBy(F.desc("err"), F.asc("user_id"), F.asc("ts"), F.asc("event_id"))
        .limit(20)
        .select("user_id", _usec("ts").alias("ts_us"), "v", "recon", "err")
    )


_BEATGAN_SQL = """
    WITH s AS (SELECT user_id, ts, event_id, round(value * 100) AS v,
                      avg(round(value * 100)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS recon
               FROM events)
    SELECT user_id, epoch_us(ts) AS ts_us, v, recon, abs(v - recon) AS err
    FROM s ORDER BY err DESC, user_id ASC, ts ASC, event_id ASC LIMIT 20
"""


def _q_eaglemine_clusters(spark, sf_dir):
    """EagleMine water-level tree (model/eaglemine/core/leveltree.py
    build_level_tree, eaglemine_model.py level-tree stage): nested
    density islands of the 2-D log-histogram. 2x2 binary-opening
    smoothing, pure-integer water levels (alive at level l iff
    cnt >= 2^l - 1, the inter_npts emission rule on [2^(l-1), 2^l-1]),
    8-adjacency components labeled by min cell id, tiny blobs
    (<= 4 cells) dropped, parent = the containing island one emitted
    level down. DuckDB oracles the whole sweep with a recursive CTE."""
    from spartan2_spark.operators.histogram import hist2d_log, water_level_tree

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    return water_level_tree(hist, min_hcubes=4, smooth=True)


_EAGLEMINE_TREE_CTES = """
    WITH RECURSIVE cells0 AS (
      SELECT CAST(floor(log10(l_quantity) * 4) AS BIGINT) AS bin_x,
             CAST(floor(log10(l_extendedprice) * 4) AS BIGINT) AS bin_y,
             count(*) AS cnt
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
      GROUP BY 1, 2),
    anchors AS (
      SELECT a.bin_x, a.bin_y FROM cells0 a
      WHERE EXISTS (SELECT 1 FROM cells0 b WHERE b.bin_x = a.bin_x + 1 AND b.bin_y = a.bin_y)
        AND EXISTS (SELECT 1 FROM cells0 b WHERE b.bin_x = a.bin_x AND b.bin_y = a.bin_y + 1)
        AND EXISTS (SELECT 1 FROM cells0 b WHERE b.bin_x = a.bin_x + 1 AND b.bin_y = a.bin_y + 1)),
    covered AS (
      SELECT DISTINCT a.bin_x + d.dx AS bin_x, a.bin_y + d.dy AS bin_y
      FROM anchors a, (VALUES (0,0),(0,1),(1,0),(1,1)) AS d(dx, dy)),
    c AS (SELECT s.bin_x * 100000 + s.bin_y AS cid, s.bin_x, s.bin_y, s.cnt
          FROM cells0 s JOIN covered v ON v.bin_x = s.bin_x AND v.bin_y = s.bin_y),
    mx AS (SELECT max(cnt) AS m FROM c),
    lv AS (SELECT t.l, (1::BIGINT << t.l) - 1 AS thresh, (1::BIGINT << (t.l - 1)) AS half
           FROM range(1, 63) t(l), mx WHERE (1::BIGINT << t.l) <= mx.m),
    kept AS (SELECT l, thresh FROM lv
             WHERE l = 1 OR EXISTS (SELECT 1 FROM c
                                    WHERE c.cnt >= lv.half AND c.cnt <= lv.thresh)),
    alive AS (SELECT k.l, c.cid, c.bin_x, c.bin_y, c.cnt
              FROM kept k JOIN c ON c.cnt >= k.thresh),
    e AS (SELECT a.l, a.cid AS u, b.cid AS v FROM alive a JOIN alive b
          ON a.l = b.l AND abs(a.bin_x - b.bin_x) <= 1
             AND abs(a.bin_y - b.bin_y) <= 1 AND a.cid <> b.cid),
    reach(l, u, lbl) AS (
      SELECT l, cid, cid FROM alive
      UNION
      SELECT e.l, e.v, r.lbl FROM reach r JOIN e ON e.l = r.l AND e.u = r.u),
    lab AS (SELECT l, u AS cid, min(lbl) AS node FROM reach GROUP BY l, u),
    big AS (SELECT l, node FROM lab GROUP BY l, node HAVING count(*) > 4),
    prev AS (SELECT x.l, max(y.l) AS pl
             FROM (SELECT DISTINCT l FROM kept) x
             JOIN (SELECT DISTINCT l FROM kept) y ON y.l < x.l GROUP BY x.l),
    surv AS (
      SELECT s.l AS level, s.cid, s.node, coalesce(p.node, -1) AS parent
      FROM lab s JOIN big ON big.l = s.l AND big.node = s.node
      LEFT JOIN prev ON prev.l = s.l
      LEFT JOIN lab p ON p.l = prev.pl AND p.cid = s.cid)"""

_EAGLEMINE_SQL = _EAGLEMINE_TREE_CTES + """
    SELECT o.level, c.bin_x, c.bin_y, c.cnt, o.node, o.parent
    FROM surv o JOIN c ON c.cid = o.cid
"""


def _q_eaglemine_describe(spark, sf_dir):
    """EagleMine describe stage (desc/gaussian_describe.py fit,
    desc/discrete_gaussian.py:36-44): count-weighted Gaussian MLE per
    water-level-tree island — weighted mean/covariance of cell centers
    and the weighted log-likelihood loss. Raw-moment formulas match the
    DuckDB twin exactly; round(6) discipline on the doubles."""
    from spartan2_spark.operators.histogram import (
        describe_islands,
        hist2d_log,
        water_level_tree,
    )

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    tree = water_level_tree(hist, min_hcubes=4, smooth=True)
    d = describe_islands(tree)
    return d.select(
        "level",
        "node",
        "n_cells",
        "mass",
        F.round("mu_x", 6).alias("mu_x"),
        F.round("mu_y", 6).alias("mu_y"),
        F.round("cov_xx", 6).alias("cov_xx"),
        F.round("cov_xy", 6).alias("cov_xy"),
        F.round("cov_yy", 6).alias("cov_yy"),
        F.round("loss", 6).alias("loss"),
    )


_EAGLEMINE_DESC_SQL = _EAGLEMINE_TREE_CTES + """
    , tree AS (SELECT o.level, c.bin_x, c.bin_y, c.cnt, o.node
               FROM surv o JOIN c ON c.cid = o.cid),
    m AS (SELECT level, node, count(*) AS n_cells, CAST(sum(cnt) AS BIGINT) AS mass,
                 sum(CAST(cnt AS DOUBLE)) AS W,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5)) AS sx,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5)) AS sy,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_x + 0.5)) AS sxx,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_y + 0.5)) AS sxy,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5) * (bin_y + 0.5)) AS syy
          FROM tree GROUP BY 1, 2),
    params AS (SELECT level, node, n_cells, mass, W,
                      sx / W AS mu_x, sy / W AS mu_y,
                      sxx / W - (sx / W) * (sx / W) AS cov_xx,
                      sxy / W - (sx / W) * (sy / W) AS cov_xy,
                      syy / W - (sy / W) * (sy / W) AS cov_yy
               FROM m),
    lo AS (SELECT t.level, t.node,
                  sum(CASE WHEN p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy > 1e-12 THEN
                        CAST(t.cnt AS DOUBLE) * (
                          -ln(2 * pi())
                          - 0.5 * ln(p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)
                          - 0.5 * ((p.cov_yy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_x + 0.5 - p.mu_x)
                                    - 2 * p.cov_xy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_y + 0.5 - p.mu_y)
                                    + p.cov_xx * (t.bin_y + 0.5 - p.mu_y) * (t.bin_y + 0.5 - p.mu_y))
                                   / (p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)))
                      ELSE NULL END) AS loss
           FROM tree t JOIN params p USING (level, node) GROUP BY 1, 2)
    SELECT p.level, p.node, p.n_cells, p.mass,
           round(p.mu_x, 6) AS mu_x, round(p.mu_y, 6) AS mu_y,
           round(p.cov_xx, 6) AS cov_xx, round(p.cov_xy, 6) AS cov_xy,
           round(p.cov_yy, 6) AS cov_yy, round(lo.loss, 6) AS loss
    FROM params p JOIN lo ON lo.level = p.level AND lo.node = p.node
"""


def _q_eaglemine_describe_trunc(spark, sf_dir):
    """EagleMine describe, TRUNCATED-Gaussian hypothesis family
    (desc/truncated_gaussian.py:59-68 _psi_, desc/dtmnorm.py): the
    island fit is renormalized over its hypercube bounding box —
    loss = sum(cnt*(logpdf - log Z)) with Z the axis-aligned Gaussian
    box mass (shared A&S-7.1.26 erf polynomial on both engines; the
    reference's correlated scipy mvnormcdf is the documented
    divergence). round(6) discipline."""
    from spartan2_spark.operators.histogram import (
        describe_islands,
        hist2d_log,
        water_level_tree,
    )

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    tree = water_level_tree(hist, min_hcubes=4, smooth=True)
    d = describe_islands(tree, variant="truncated")
    return d.select(
        "level",
        "node",
        "n_cells",
        "mass",
        F.round("mu_x", 6).alias("mu_x"),
        F.round("mu_y", 6).alias("mu_y"),
        F.round("cov_xx", 6).alias("cov_xx"),
        F.round("cov_xy", 6).alias("cov_xy"),
        F.round("cov_yy", 6).alias("cov_yy"),
        F.round("log_z", 6).alias("log_z"),
        F.round("loss", 6).alias("loss"),
    )


# floored at 1e-300 like histogram._std_normal_cdf, so ln(Phi) is finite
_PHI_SQL = """greatest(0.5 * (1 + CASE WHEN ({z}) < 0 THEN -1 ELSE 1 END * (1 -
    ((((1.061405429 * (1 / (1 + 0.3275911 * (abs({z}) / sqrt(2)))) - 1.453152027)
       * (1 / (1 + 0.3275911 * (abs({z}) / sqrt(2)))) + 1.421413741)
       * (1 / (1 + 0.3275911 * (abs({z}) / sqrt(2)))) - 0.284496736)
       * (1 / (1 + 0.3275911 * (abs({z}) / sqrt(2)))) + 0.254829592)
       * (1 / (1 + 0.3275911 * (abs({z}) / sqrt(2))))
       * exp(-(abs({z}) / sqrt(2)) * (abs({z}) / sqrt(2))))), 1e-300)"""


def _eaglemine_desc_trunc_sql() -> str:
    zx_hi = _PHI_SQL.format(z="(p.hi_x - p.mu_x) / sqrt(p.cov_xx)")
    zx_lo = _PHI_SQL.format(z="(p.lo_x - p.mu_x) / sqrt(p.cov_xx)")
    zy_hi = _PHI_SQL.format(z="(p.hi_y - p.mu_y) / sqrt(p.cov_yy)")
    zy_lo = _PHI_SQL.format(z="(p.lo_y - p.mu_y) / sqrt(p.cov_yy)")
    return _EAGLEMINE_TREE_CTES + f"""
    , tree AS (SELECT o.level, c.bin_x, c.bin_y, c.cnt, o.node
               FROM surv o JOIN c ON c.cid = o.cid),
    m AS (SELECT level, node, count(*) AS n_cells, CAST(sum(cnt) AS BIGINT) AS mass,
                 sum(CAST(cnt AS DOUBLE)) AS W,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5)) AS sx,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5)) AS sy,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_x + 0.5)) AS sxx,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_y + 0.5)) AS sxy,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5) * (bin_y + 0.5)) AS syy,
                 CAST(min(bin_x) AS DOUBLE) AS lo_x,
                 CAST(max(bin_x) AS DOUBLE) + 1.0 AS hi_x,
                 CAST(min(bin_y) AS DOUBLE) AS lo_y,
                 CAST(max(bin_y) AS DOUBLE) + 1.0 AS hi_y
          FROM tree GROUP BY 1, 2),
    params AS (SELECT level, node, n_cells, mass, W, lo_x, hi_x, lo_y, hi_y,
                      sx / W AS mu_x, sy / W AS mu_y,
                      sxx / W - (sx / W) * (sx / W) AS cov_xx,
                      sxy / W - (sx / W) * (sy / W) AS cov_xy,
                      syy / W - (sy / W) * (sy / W) AS cov_yy
               FROM m),
    zc AS (SELECT p.*,
                  CASE WHEN p.cov_xx > 1e-12 AND p.cov_yy > 1e-12
                        AND (({zx_hi}) - ({zx_lo})) * (({zy_hi}) - ({zy_lo})) > 0
                       THEN ln((({zx_hi}) - ({zx_lo})) * (({zy_hi}) - ({zy_lo})))
                  END AS log_z
           FROM params p),
    lo AS (SELECT t.level, t.node,
                  sum(CASE WHEN p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy > 1e-12 THEN
                        CAST(t.cnt AS DOUBLE) * (
                          -ln(2 * pi())
                          - 0.5 * ln(p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)
                          - 0.5 * ((p.cov_yy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_x + 0.5 - p.mu_x)
                                    - 2 * p.cov_xy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_y + 0.5 - p.mu_y)
                                    + p.cov_xx * (t.bin_y + 0.5 - p.mu_y) * (t.bin_y + 0.5 - p.mu_y))
                                   / (p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)))
                      ELSE NULL END) AS loss
           FROM tree t JOIN params p USING (level, node) GROUP BY 1, 2)
    SELECT p.level, p.node, p.n_cells, p.mass,
           round(p.mu_x, 6) AS mu_x, round(p.mu_y, 6) AS mu_y,
           round(p.cov_xx, 6) AS cov_xx, round(p.cov_xy, 6) AS cov_xy,
           round(p.cov_yy, 6) AS cov_yy, round(p.log_z, 6) AS log_z,
           round(lo.loss - p.W * p.log_z, 6) AS loss
    FROM zc p JOIN lo ON lo.level = p.level AND lo.node = p.node
"""


def _q_eaglemine_describe_dtm(spark, sf_dir):
    """EagleMine describe, full DTM (Discrete-Truncate-Multivariate)
    hypothesis family (desc/dtmnorm.py:119-135 _single_optpara): each
    cell contributes its Gaussian MASS over its own unit hypercube
    [bin, bin+1) — not a point logpdf — renormalized by the island box
    mass with the reference's smoothed floor Z = max(8e-3, boxmass)
    (dtmnorm.py:126). Axis-aligned CDF products (shared A&S-7.1.26 erf
    polynomial on both engines) and moment-estimate parameters are the
    documented divergences from the reference's scipy mvnormcdf +
    scipy.optimize MLE. round(6) discipline."""
    from spartan2_spark.operators.histogram import (
        describe_islands,
        hist2d_log,
        water_level_tree,
    )

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    tree = water_level_tree(hist, min_hcubes=4, smooth=True)
    d = describe_islands(tree, variant="dtm")
    return d.select(
        "level",
        "node",
        "n_cells",
        "mass",
        F.round("mu_x", 6).alias("mu_x"),
        F.round("mu_y", 6).alias("mu_y"),
        F.round("cov_xx", 6).alias("cov_xx"),
        F.round("cov_xy", 6).alias("cov_xy"),
        F.round("cov_yy", 6).alias("cov_yy"),
        F.round("log_z", 6).alias("log_z"),
        F.round("loss", 6).alias("loss"),
    )


def _eaglemine_desc_dtm_sql() -> str:
    zx_hi = _PHI_SQL.format(z="(p.hi_x - p.mu_x) / sqrt(p.cov_xx)")
    zx_lo = _PHI_SQL.format(z="(p.lo_x - p.mu_x) / sqrt(p.cov_xx)")
    zy_hi = _PHI_SQL.format(z="(p.hi_y - p.mu_y) / sqrt(p.cov_yy)")
    zy_lo = _PHI_SQL.format(z="(p.lo_y - p.mu_y) / sqrt(p.cov_yy)")
    cx_hi = _PHI_SQL.format(z="(t.bin_x + 1.0 - p.mu_x) / sqrt(p.cov_xx)")
    cx_lo = _PHI_SQL.format(z="(t.bin_x + 0.0 - p.mu_x) / sqrt(p.cov_xx)")
    cy_hi = _PHI_SQL.format(z="(t.bin_y + 1.0 - p.mu_y) / sqrt(p.cov_yy)")
    cy_lo = _PHI_SQL.format(z="(t.bin_y + 0.0 - p.mu_y) / sqrt(p.cov_yy)")
    p_cell = f"(({cx_hi}) - ({cx_lo})) * (({cy_hi}) - ({cy_lo}))"
    return _EAGLEMINE_TREE_CTES + f"""
    , tree AS (SELECT o.level, CAST(c.bin_x AS DOUBLE) AS bin_x,
                      CAST(c.bin_y AS DOUBLE) AS bin_y, c.cnt, o.node
               FROM surv o JOIN c ON c.cid = o.cid),
    m AS (SELECT level, node, count(*) AS n_cells, CAST(sum(cnt) AS BIGINT) AS mass,
                 sum(CAST(cnt AS DOUBLE)) AS W,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5)) AS sx,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5)) AS sy,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_x + 0.5)) AS sxx,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_y + 0.5)) AS sxy,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5) * (bin_y + 0.5)) AS syy,
                 min(bin_x) AS lo_x, max(bin_x) + 1.0 AS hi_x,
                 min(bin_y) AS lo_y, max(bin_y) + 1.0 AS hi_y
          FROM tree GROUP BY 1, 2),
    params AS (SELECT level, node, n_cells, mass, W, lo_x, hi_x, lo_y, hi_y,
                      sx / W AS mu_x, sy / W AS mu_y,
                      sxx / W - (sx / W) * (sx / W) AS cov_xx,
                      sxy / W - (sx / W) * (sy / W) AS cov_xy,
                      syy / W - (sy / W) * (sy / W) AS cov_yy
               FROM m),
    zc AS (SELECT p.*,
                  CASE WHEN p.cov_xx > 1e-12 AND p.cov_yy > 1e-12
                       THEN ln(greatest(0.008,
                            (({zx_hi}) - ({zx_lo})) * (({zy_hi}) - ({zy_lo}))))
                  END AS log_z
           FROM params p),
    lo AS (SELECT t.level, t.node,
                  sum(CASE WHEN p.cov_xx > 1e-12 AND p.cov_yy > 1e-12
                            AND ({p_cell}) > 0
                           THEN CAST(t.cnt AS DOUBLE) * ln({p_cell})
                      END) AS s,
                  max(CASE WHEN p.cov_xx <= 1e-12 OR p.cov_yy <= 1e-12
                            OR ({p_cell}) <= 0 THEN 1 ELSE 0 END) AS bad
           FROM tree t JOIN params p USING (level, node) GROUP BY 1, 2)
    SELECT p.level, p.node, p.n_cells, p.mass,
           round(p.mu_x, 6) AS mu_x, round(p.mu_y, 6) AS mu_y,
           round(p.cov_xx, 6) AS cov_xx, round(p.cov_xy, 6) AS cov_xy,
           round(p.cov_yy, 6) AS cov_yy, round(p.log_z, 6) AS log_z,
           round(CASE WHEN lo.bad = 0 THEN lo.s - p.W * p.log_z END, 6) AS loss
    FROM zc p JOIN lo ON lo.level = p.level AND lo.node = p.node
"""


def _q_eaglemine_stitch(spark, sf_dir):
    """EagleMine post-stitch (eaglemine_model.py:377-460): same-level
    islands whose Gaussian fits pass the reference's closeness rule and
    a likelihood-ratio criterion (per-point pooled-fit log-likelihood
    decrease <= 0.2, the deterministic substitute for the scipy
    hypothesis test) stitch into one cluster. DuckDB replays the round
    value-exactly."""
    from spartan2_spark.operators.histogram import (
        hist2d_log,
        stitch_islands,
        water_level_tree,
    )

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    tree = water_level_tree(hist, min_hcubes=4, smooth=True).drop("parent")
    return stitch_islands(tree, stitch_threshold=0.2)


_EAGLEMINE_STITCH_SQL = _EAGLEMINE_TREE_CTES + """
    , tree AS (SELECT o.level, c.bin_x, c.bin_y, c.cnt, o.node
               FROM surv o JOIN c ON c.cid = o.cid),
    m AS (SELECT level, node, sum(cnt) AS mass,
                 sum(CAST(cnt AS DOUBLE)) AS W,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5)) AS sx,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5)) AS sy,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_x + 0.5)) AS sxx,
                 sum(CAST(cnt AS DOUBLE) * (bin_x + 0.5) * (bin_y + 0.5)) AS sxy,
                 sum(CAST(cnt AS DOUBLE) * (bin_y + 0.5) * (bin_y + 0.5)) AS syy
          FROM tree GROUP BY 1, 2),
    params AS (SELECT level, node, mass, W, sx, sy, sxx, sxy, syy,
                      sx / W AS mu_x, sy / W AS mu_y,
                      sxx / W - (sx / W) * (sx / W) AS cov_xx,
                      sxy / W - (sx / W) * (sy / W) AS cov_xy,
                      syy / W - (sy / W) * (sy / W) AS cov_yy
               FROM m),
    ownl AS (SELECT t.level, t.node,
                    sum(CASE WHEN p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy > 1e-12 THEN
                          CAST(t.cnt AS DOUBLE) * (
                            -ln(2 * pi())
                            - 0.5 * ln(p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)
                            - 0.5 * ((p.cov_yy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_x + 0.5 - p.mu_x)
                                      - 2 * p.cov_xy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_y + 0.5 - p.mu_y)
                                      + p.cov_xx * (t.bin_y + 0.5 - p.mu_y) * (t.bin_y + 0.5 - p.mu_y))
                                     / (p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)))
                        ELSE NULL END) AS loss
             FROM tree t JOIN params p ON p.level = t.level AND p.node = t.node
             GROUP BY 1, 2),
    isl AS (SELECT params.*, ownl.loss
            FROM params JOIN ownl ON ownl.level = params.level AND ownl.node = params.node),
    prs AS (SELECT a.level, a.node AS u, b.node AS v,
                   a.loss + b.loss AS sep_loss,
                   a.mass + b.mass AS pmass,
                   a.W + b.W AS W, a.sx + b.sx AS sx, a.sy + b.sy AS sy,
                   a.sxx + b.sxx AS sxx, a.sxy + b.sxy AS sxy, a.syy + b.syy AS syy
            FROM isl a JOIN isl b ON a.level = b.level AND a.node < b.node
            WHERE sqrt((a.mu_x - b.mu_x) * (a.mu_x - b.mu_x)
                       + (a.mu_y - b.mu_y) * (a.mu_y - b.mu_y))
                  < 2 * greatest(1.0, sqrt(a.cov_xx) + sqrt(b.cov_xx),
                                      sqrt(a.cov_yy) + sqrt(b.cov_yy))),
    ppar AS (SELECT level, u, v, sep_loss, pmass,
                    sx / W AS mu_x, sy / W AS mu_y,
                    sxx / W - (sx / W) * (sx / W) AS cov_xx,
                    sxy / W - (sx / W) * (sy / W) AS cov_xy,
                    syy / W - (sy / W) * (sy / W) AS cov_yy
             FROM prs),
    pl AS (SELECT p.level, p.u, p.v,
                  sum(CASE WHEN p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy > 1e-12 THEN
                        CAST(t.cnt AS DOUBLE) * (
                          -ln(2 * pi())
                          - 0.5 * ln(p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)
                          - 0.5 * ((p.cov_yy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_x + 0.5 - p.mu_x)
                                    - 2 * p.cov_xy * (t.bin_x + 0.5 - p.mu_x) * (t.bin_y + 0.5 - p.mu_y)
                                    + p.cov_xx * (t.bin_y + 0.5 - p.mu_y) * (t.bin_y + 0.5 - p.mu_y))
                                   / (p.cov_xx * p.cov_yy - p.cov_xy * p.cov_xy)))
                      ELSE NULL END) AS pooled_loss
           FROM tree t JOIN ppar p
           ON t.level = p.level AND (t.node = p.u OR t.node = p.v)
           GROUP BY 1, 2, 3),
    scored AS (SELECT p.level, p.u, p.v,
                      CAST(round(-((p.sep_loss - pl.pooled_loss) / p.pmass) * 1e6, 0) AS BIGINT) AS gq
               FROM ppar p JOIN pl ON pl.level = p.level AND pl.u = p.u AND pl.v = p.v
               WHERE (p.sep_loss - pl.pooled_loss) / p.pmass <= 0.2),
    cand AS (SELECT level, u AS node, v AS partner, gq FROM scored
             UNION ALL SELECT level, v AS node, u AS partner, gq FROM scored),
    best AS (SELECT DISTINCT level, least(node, partner) AS cu, greatest(node, partner) AS cv
             FROM (SELECT *, row_number() OVER
                       (PARTITION BY level, node ORDER BY gq DESC, partner ASC) AS rn
                   FROM cand) t
             WHERE rn = 1),
    e3 AS (SELECT level, cu AS x, cv AS y FROM best
           UNION ALL SELECT level, cv AS x, cu AS y FROM best),
    reach2(level, n, lbl) AS (
      SELECT level, x, x FROM e3
      UNION
      SELECT e3.level, e3.y, r.lbl FROM reach2 r
      JOIN e3 ON e3.level = r.level AND e3.x = r.n),
    comp2 AS (SELECT level, n AS node, min(lbl) AS stitched
              FROM reach2 GROUP BY 1, 2)
    SELECT t.level, t.bin_x, t.bin_y, t.cnt, t.node,
           coalesce(c2.stitched, t.node) AS stitched
    FROM tree t LEFT JOIN comp2 c2 ON c2.level = t.level AND c2.node = t.node
"""

# DuckDB inlines non-MATERIALIZED CTEs at every reference; the stitch
# twin references `tree` (and through it the recursive water-level
# sweep) from several join sides, which re-evaluates the whole
# recursion per reference — >15 min at sf0.01. Materializing the
# shared relations makes it 0.1 s with identical results.
for _cte in ("c AS (", "alive AS (", "e AS (", "lab AS (", "surv AS (",
             "tree AS (", "isl AS (", "ppar AS ("):
    _EAGLEMINE_STITCH_SQL = _EAGLEMINE_STITCH_SQL.replace(
        _cte, _cte.replace("AS (", "AS MATERIALIZED (")
    )


def _q_eaglemine_gof(spark, sf_dir):
    """EagleMine island GOF acceptance (eaglemine_model.py:280-336
    accept-or-descend BFS; desc/truncate_norm_gof.py AD statistics):
    per-island normality statistic + the BFS that selects the accepted
    frontier of the water-level tree. The engine's statistic is the
    log2-value-weighted two-axis Jarque-Bera sum (raw-moment arithmetic, so
    the DuckDB twin is value-exact) in place of the reference's
    Monte-Carlo AD test — documented divergence in
    operators/histogram.py:gof_islands."""
    from spartan2_spark.operators.histogram import (
        gof_accept_tree,
        hist2d_log,
        water_level_tree,
    )

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    tree = water_level_tree(hist, min_hcubes=4, smooth=True)
    g = gof_accept_tree(tree)
    return g.select(
        "level",
        "node",
        "mass",
        F.round("gof_stat", 6).alias("gof_stat"),
        "accepted",
        "visited",
        "selected",
    )


_EAGLEMINE_GOF_SQL = _EAGLEMINE_TREE_CTES + """
    , tree AS (SELECT o.level, o.node, o.parent, c.bin_x, c.bin_y, c.cnt,
                      round(log2(CAST(c.cnt AS DOUBLE) + 1.0) * 100.0, 0) AS wv
               FROM surv o JOIN c ON c.cid = o.cid),
    mom AS (SELECT level, node, min(parent) AS parent,
                   CAST(sum(cnt) AS BIGINT) AS mass,
                   sum(wv) AS W,
                   sum(wv * (bin_x + 0.5)) AS sx,
                   sum(wv * (bin_x + 0.5) * (bin_x + 0.5)) AS sxx,
                   sum(wv * (bin_x + 0.5) * (bin_x + 0.5) * (bin_x + 0.5)) AS sxxx,
                   sum(wv * (bin_x + 0.5) * (bin_x + 0.5) * (bin_x + 0.5) * (bin_x + 0.5)) AS sx4,
                   sum(wv * (bin_y + 0.5)) AS sy,
                   sum(wv * (bin_y + 0.5) * (bin_y + 0.5)) AS syy,
                   sum(wv * (bin_y + 0.5) * (bin_y + 0.5) * (bin_y + 0.5)) AS syyy,
                   sum(wv * (bin_y + 0.5) * (bin_y + 0.5) * (bin_y + 0.5) * (bin_y + 0.5)) AS sy4
            FROM tree GROUP BY 1, 2),
    mu AS (SELECT *, sx / W AS mu_x, sy / W AS mu_y FROM mom),
    cmo AS (SELECT level, node, parent, mass, W,
                   sxx / W - mu_x * mu_x AS m2x,
                   sxxx / W - 3.0 * mu_x * (sxx / W) + 2.0 * mu_x * mu_x * mu_x AS m3x,
                   sx4 / W - 4.0 * mu_x * (sxxx / W) + 6.0 * mu_x * mu_x * (sxx / W)
                     - 3.0 * mu_x * mu_x * mu_x * mu_x AS m4x,
                   syy / W - mu_y * mu_y AS m2y,
                   syyy / W - 3.0 * mu_y * (syy / W) + 2.0 * mu_y * mu_y * mu_y AS m3y,
                   sy4 / W - 4.0 * mu_y * (syyy / W) + 6.0 * mu_y * mu_y * (syy / W)
                     - 3.0 * mu_y * mu_y * mu_y * mu_y AS m4y
            FROM mu),
    jb AS (SELECT level, node, parent, mass,
                  CASE WHEN m2x > 1e-12 AND m2y > 1e-12 THEN
                    W / 100.0 / 6.0 * ((m3x * m3x) / (m2x * m2x * m2x)
                               + (m4x / (m2x * m2x) - 3.0) * (m4x / (m2x * m2x) - 3.0) / 4.0)
                    + W / 100.0 / 6.0 * ((m3y * m3y) / (m2y * m2y * m2y)
                                 + (m4y / (m2y * m2y) - 3.0) * (m4y / (m2y * m2y) - 3.0) / 4.0)
                  END AS gof_stat
           FROM cmo),
    st AS (SELECT *, (gof_stat IS NULL OR gof_stat <= 9.4877) AS accepted FROM jb),
    lvls AS (SELECT DISTINCT level FROM st),
    nx AS (SELECT x.level, min(y.level) AS nl
           FROM lvls x JOIN lvls y ON y.level > x.level GROUP BY 1),
    sth AS (SELECT s.*,
                   EXISTS (SELECT 1 FROM st ch, nx
                           WHERE nx.level = s.level AND ch.level = nx.nl
                             AND ch.parent = s.node) AS has_child
            FROM st s),
    walk(level, node, is_open) AS (
      SELECT level, node, (NOT accepted AND has_child) FROM sth
      WHERE level = (SELECT min(level) FROM sth)
      UNION ALL
      SELECT s.level, s.node, (NOT s.accepted AND s.has_child)
      FROM sth s
      JOIN walk w ON s.parent = w.node AND w.is_open
      JOIN nx ON nx.level = w.level AND s.level = nx.nl)
    SELECT s.level, s.node, s.mass, round(s.gof_stat, 6) AS gof_stat,
           s.accepted,
           (w.node IS NOT NULL) AS visited,
           (w.node IS NOT NULL AND (s.accepted OR NOT s.has_child)) AS selected
    FROM sth s LEFT JOIN walk w ON w.level = s.level AND w.node = s.node
"""

for _cte in ("c AS (", "alive AS (", "e AS (", "lab AS (", "surv AS (",
             "tree AS (", "st AS (", "sth AS ("):
    _EAGLEMINE_GOF_SQL = _EAGLEMINE_GOF_SQL.replace(
        _cte, _cte.replace("AS (", "AS MATERIALIZED ("), 1
    )


def _q_eaglemine_anderson(spark, sf_dir):
    """EagleMine Anderson-Darling island normality check
    (desc/statistic_hypothesis_test.py:45-80 _gaussian_anderson_ /
    _gaussian_check): eigen-axis projection, population
    standardization, and the A-D statistic computed from grouped
    cumulative multiplicities (ceil-log2 expansion, never
    materialized), against scipy's size-adjusted 3-decimal critical
    values at strictness 4. Shared A&S-7.1.26 erf polynomial on both
    engines; round(6) discipline on the A^2 chains."""
    from spartan2_spark.operators.histogram import (
        anderson_islands,
        hist2d_log,
        water_level_tree,
    )

    li = _lineitem(spark, sf_dir)
    hist = hist2d_log(li, "l_quantity", "l_extendedprice", bins_per_decade=4)
    tree = water_level_tree(hist, min_hcubes=4, smooth=True)
    d = anderson_islands(tree, strictness=4)
    return d.select(
        "level",
        "node",
        "mass",
        "n",
        F.round("a2_1", 6).alias("a2_1"),
        F.round("a2_2", 6).alias("a2_2"),
        "crit",
        "accepted",
    )


def _anderson_sql(cells: str) -> str:
    """The A-D CTEs and final SELECT over ``cells``, a relation of
    (level, node, bin_x, bin_y, cnt): the twin of
    histogram.anderson_islands for any island tree."""
    phi_pos = _PHI_SQL.format(z="z.z")
    phi_neg = _PHI_SQL.format(z="-z.z")
    return f"""tree AS (SELECT level, node, bin_x, bin_y, cnt,
                      round(log2(CAST(cnt AS DOUBLE) + 1.0) * 100.0, 0) AS wv
               FROM {cells}),
    m AS (SELECT level, node, CAST(sum(cnt) AS BIGINT) AS mass,
                 sum(wv) AS W,
                 sum(wv * (bin_x + 0.5)) AS sx,
                 sum(wv * (bin_y + 0.5)) AS sy,
                 sum(wv * (bin_x + 0.5) * (bin_x + 0.5)) AS sxx,
                 sum(wv * (bin_x + 0.5) * (bin_y + 0.5)) AS sxy,
                 sum(wv * (bin_y + 0.5) * (bin_y + 0.5)) AS syy
          FROM tree GROUP BY 1, 2),
    prm AS (SELECT level, node, mass,
                   sxx / W - (sx / W) * (sx / W) AS a,
                   sxy / W - (sx / W) * (sy / W) AS b,
                   syy / W - (sy / W) * (sy / W) AS cc
            FROM m),
    eg AS (SELECT *,
                  ((a + cc) + sqrt((a - cc) * (a - cc) + 4.0 * b * b)) / 2.0 AS l1,
                  ((a + cc) - sqrt((a - cc) * (a - cc) + 4.0 * b * b)) / 2.0 AS l2,
                  (abs(b) <= 1e-12) AS aligned
           FROM prm),
    axes AS (
      SELECT level, node, 1 AS axis,
             CASE WHEN aligned THEN (CASE WHEN a >= cc THEN 1.0 ELSE 0.0 END)
                  ELSE b END AS vx,
             CASE WHEN aligned THEN (CASE WHEN a >= cc THEN 0.0 ELSE 1.0 END)
                  ELSE l1 - a END AS vy
      FROM eg
      UNION ALL
      SELECT level, node, 2 AS axis,
             CASE WHEN aligned THEN (CASE WHEN a >= cc THEN 0.0 ELSE 1.0 END)
                  ELSE b END AS vx,
             CASE WHEN aligned THEN (CASE WHEN a >= cc THEN 1.0 ELSE 0.0 END)
                  ELSE l2 - a END AS vy
      FROM eg),
    cells AS (SELECT level, node, bin_x + 0.5 AS cx, bin_y + 0.5 AS cy,
                     CAST(ceil(wv / 100.0) AS BIGINT) AS c
              FROM tree),
    proj AS (SELECT t.level, t.node, x.axis, t.c,
                    (t.cx * x.vx + t.cy * x.vy) / (x.vx * x.vx + x.vy * x.vy) AS p
             FROM cells t JOIN axes x ON x.level = t.level AND x.node = t.node),
    grp AS (SELECT level, node, axis, p, CAST(sum(c) AS BIGINT) AS c
            FROM proj GROUP BY 1, 2, 3, 4),
    st AS (SELECT level, node, axis, CAST(sum(c) AS BIGINT) AS n,
                  sum(c * p) AS sp, sum(c * p * p) AS spp
           FROM grp GROUP BY 1, 2, 3),
    zed AS (SELECT g.level, g.node, g.axis, g.p, g.c, s.n,
                   CASE WHEN s.spp / s.n - (s.sp / s.n) * (s.sp / s.n) > 0
                        THEN (g.p - s.sp / s.n)
                             / sqrt(s.spp / s.n - (s.sp / s.n) * (s.sp / s.n))
                        ELSE 0.0 END AS z
            FROM grp g JOIN st s
              ON s.level = g.level AND s.node = g.node AND s.axis = g.axis),
    zc AS (SELECT *, CAST(sum(c) OVER (PARTITION BY level, node, axis
                                       ORDER BY p
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
           FROM zed),
    pa AS (SELECT z.level, z.node, z.axis, z.n,
                  sum(CAST(z.c AS DOUBLE) * (2.0 * z.e - z.c) * ln({phi_pos})
                      + CAST(z.c AS DOUBLE) * (2.0 * (z.n - z.e) + z.c)
                        * ln({phi_neg})) AS s
           FROM zc z GROUP BY 1, 2, 3, 4),
    scored AS (SELECT level, node, axis, n,
                      -CAST(n AS DOUBLE) - s / n AS a2,
                      round(1.092 / (1.0 + 4.0 / n - 25.0 / (CAST(n AS DOUBLE) * n)), 3)
                        AS crit
               FROM pa),
    fin AS (SELECT level, node, max(n) AS n,
                   max(CASE WHEN axis = 1 THEN a2 END) AS a2_1,
                   max(CASE WHEN axis = 2 THEN a2 END) AS a2_2,
                   max(crit) AS crit,
                   min(CASE WHEN a2 <= crit THEN 1 ELSE 0 END) AS ok
            FROM scored GROUP BY 1, 2)
    SELECT f.level, f.node, p.mass, f.n,
           round(f.a2_1, 6) AS a2_1, round(f.a2_2, 6) AS a2_2,
           f.crit, (f.ok = 1) AS accepted
    FROM fin f JOIN prm p ON p.level = f.level AND p.node = f.node
"""


_EAGLEMINE_ANDERSON_SQL = _EAGLEMINE_TREE_CTES + "\n    , " + _anderson_sql(
    "(SELECT o.level, o.node, c.bin_x, c.bin_y, c.cnt"
    " FROM surv o JOIN c ON c.cid = o.cid)"
)
for _cte in ("c AS (", "alive AS (", "lab AS (", "surv AS (", "tree AS (",
             "grp AS (", "st AS ("):
    _EAGLEMINE_ANDERSON_SQL = _EAGLEMINE_ANDERSON_SQL.replace(
        _cte, _cte.replace("AS (", "AS MATERIALIZED ("), 1
    )


def _q_specgreedy(spark, sf_dir):
    """SpecGreedy-style spectrally-seeded densest block
    (SpecGreedy.py:19-257): power-iteration seeding + parallel
    Charikar-style refinement — iterative fixpoint, rows-only check."""
    from spartan2_spark.operators.spectral import specgreedy_subgraph

    edges = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .select("src", "dst")
    )
    res = specgreedy_subgraph(edges, n_iter=6, refine_rounds=4)
    su = res["src_nodes"].select(
        F.col("node").cast("string").alias("node"), F.lit("src").alias("side")
    )
    sv = res["dst_nodes"].select(
        F.col("node").cast("string").alias("node"), F.lit("dst").alias("side")
    )
    return su.unionByName(sv).withColumn(
        "density", F.round(F.lit(res["density"]), 6)
    )


def _q_kgrass(spark, sf_dir):
    """kGrass-style k-supernode summarization (kGS/kGrass.py:14-216):
    MinHash-signature bucketing into k supernodes + the reference's
    reconstruction-error objective. Portable-hash mode -> value-exact
    oracle-checked."""
    from spartan2_spark.operators.spectral import kgrass_summarize

    li = _lineitem(spark, sf_dir).select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    res = kgrass_summarize(li, k=8)
    return res["superedges"].select(
        "sn_src",
        "sn_dst",
        "multiplicity",
        "size_src",
        "size_dst",
        F.round("err_term", 6).alias("err_term"),
    )


def _kgrass_sql(k: int = 8) -> str:
    nbr = _POLY_SQL_BASE.format(col="CAST(d AS VARCHAR)")
    slf = _POLY_SQL_BASE.format(col="CAST(node AS VARCHAR)")
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS s, l_suppkey AS d FROM lineitem),
    src_sig AS (SELECT s AS node, min((({nbr} + 7) % 2147483647)) AS h0
                FROM e0 GROUP BY 1),
    an AS (SELECT DISTINCT node FROM
             (SELECT s AS node FROM e0 UNION ALL SELECT d FROM e0)),
    sinks AS (SELECT an.node, (({slf} + 7) % 2147483647) AS h0
              FROM an WHERE NOT EXISTS (SELECT 1 FROM src_sig WHERE src_sig.node = an.node)),
    sig AS (SELECT node, ((h0 * 31 + 17) % 2147483647) % {k} AS supernode
            FROM (SELECT * FROM src_sig UNION ALL SELECT * FROM sinks)),
    sizes AS (SELECT supernode, count(*) AS size FROM sig GROUP BY 1),
    se AS (SELECT a1.supernode AS sn_src, a2.supernode AS sn_dst,
                  count(*) AS multiplicity
           FROM e0 JOIN sig a1 ON a1.node = e0.s JOIN sig a2 ON a2.node = e0.d
           GROUP BY 1, 2),
    sz AS (SELECT se.sn_src, se.sn_dst, se.multiplicity,
                  a.size AS size_src, b.size AS size_dst
           FROM se JOIN sizes a ON a.supernode = se.sn_src
           JOIN sizes b ON b.supernode = se.sn_dst)
    SELECT sn_src, sn_dst, multiplicity, size_src, size_dst,
           round(multiplicity * (1.0 - multiplicity::DOUBLE / (size_src * size_dst)), 6) AS err_term
    FROM sz
"""


def _q_kgrass_merge_refine(spark, sf_dir):
    """kGrass within-bucket merge round (kGS/kGrass.py:82-168): every
    within-MinHash-bucket pair scored with the unit-supernode
    reconstruction-error increase — which reduces to the PURE-INTEGER
    neighbourhood symmetric difference |N(u)|+|N(v)|-2|N(u)&N(v)| —
    min-loss partner matching, union-find collapse per bucket. The
    DuckDB twin replays the round bit-identically (no floats
    anywhere)."""
    from spartan2_spark.operators.spectral import kgrass_merge_round

    li = _lineitem(spark, sf_dir).select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    res = kgrass_merge_round(li, k=8, max_group=500)
    return res["assign"]


def _kgrass_merge_sql(k: int = 8) -> str:
    nbr = _POLY_SQL_BASE.format(col="CAST(d AS VARCHAR)")
    return f"""
    WITH RECURSIVE
    e0 AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS s, l_suppkey AS d FROM lineitem),
    src_sig AS (SELECT s AS node, min((({nbr} + 7) % 2147483647)) AS h0
                FROM e0 GROUP BY 1),
    grp0 AS (SELECT node, ((h0 * 31 + 17) % 2147483647) % {k} AS g FROM src_sig),
    ok AS (SELECT g FROM grp0 GROUP BY g HAVING count(*) BETWEEN 2 AND 500),
    grp AS (SELECT grp0.node, grp0.g FROM grp0 JOIN ok USING (g)),
    deg AS (SELECT s AS node, count(*) AS d FROM e0 GROUP BY 1),
    nd AS (SELECT grp.node, grp.g, deg.d FROM grp JOIN deg USING (node)),
    pairs AS (SELECT a.g, a.node AS u, b.node AS v, a.d + b.d AS dsum
              FROM nd a JOIN nd b ON a.g = b.g AND a.node < b.node),
    adjg AS (SELECT e0.s AS node, e0.d AS nei, grp.g
             FROM e0 JOIN grp ON grp.node = e0.s),
    dots AS (SELECT a.node AS u, b.node AS v, count(*) AS c
             FROM adjg a JOIN adjg b
             ON a.g = b.g AND a.nei = b.nei AND a.node < b.node
             GROUP BY 1, 2),
    gains AS (SELECT g, u, v, -(dsum - 2 * coalesce(c, 0)) AS gq
              FROM pairs LEFT JOIN dots USING (u, v)),
    cand AS (SELECT g, u AS node, v AS partner, gq FROM gains
             UNION ALL SELECT g, v AS node, u AS partner, gq FROM gains),
    best AS (SELECT DISTINCT least(node, partner) AS cu, greatest(node, partner) AS cv
             FROM (SELECT *, row_number() OVER
                       (PARTITION BY node ORDER BY gq DESC, partner ASC) AS rn
                   FROM cand) t
             WHERE rn = 1),
    e2 AS (SELECT cu AS x, cv AS y FROM best UNION ALL SELECT cv AS x, cu AS y FROM best),
    reach(n, lbl) AS (
      SELECT x, x FROM e2
      UNION
      SELECT e2.y, r.lbl FROM reach r JOIN e2 ON e2.x = r.n),
    comp AS (SELECT n AS node, min(lbl) AS supernode FROM reach GROUP BY n),
    alln AS (SELECT DISTINCT l_partkey AS node FROM lineitem)
    SELECT a.node, coalesce(c2.supernode, a.node) AS supernode
    FROM alln a LEFT JOIN comp c2 USING (node)
"""


def _kcore_sql(k: int = 34, rounds: int = 24) -> str:
    """Unrolled k-core oracle: the peel converges to a fixpoint, after
    which every further round is a no-op — so a fixed unroll >= the
    convergence depth computes the exact same k-core as the iterative
    Spark loop (kcore's early-stop is an optimization, not a semantic)."""
    parts = [
        "e0 AS MATERIALIZED (SELECT 'p' || l_partkey AS s, 's' || l_suppkey AS d FROM lineitem)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT n, count(*) AS degree FROM "
            f"(SELECT s AS n FROM e{i} UNION ALL SELECT d FROM e{i}) GROUP BY n)"
        )
        parts.append(f"k{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE degree >= {k})")
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.s, e.d FROM e{i} e "
            f"JOIN k{i} a ON e.s = a.n JOIN k{i} b ON e.d = b.n)"
        )
    return (
        "WITH " + ",\n    ".join(parts) + f"\n    SELECT n AS node, count(*) AS degree FROM "
        f"(SELECT s AS n FROM e{rounds} UNION ALL SELECT d FROM e{rounds}) GROUP BY n"
    )


def _q_score_level_users(spark, sf_dir):
    """HoloScope's score_level_objects (holoscopeFraudDect.py:16-38):
    keep objects whose score is at/above the p-quantile of all scores.
    Quantile is exact nearest-rank (row_number == ceil(p*n) on the
    sorted scores, ties broken by user id) so DuckDB's quantile_disc
    matches bit-for-bit."""
    counts = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score")
    )
    n = counts.count()
    import math

    target = math.ceil(0.9 * n)
    # nearest-rank threshold WITHOUT sorting all objects into one
    # window: collapse to the (tiny) distinct-score histogram first,
    # cumulative-sum it, take the smallest score whose cumulative
    # count reaches the target rank — the target row's SCORE is
    # uniquely determined by rank regardless of tie order, so this
    # equals the row_number formulation the oracle uses.
    cum = (
        counts.groupBy("score")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "cum",
            # unpartitioned on purpose: the frame is the distinct-score
            # histogram (bounded by the score range, not the data), so
            # the WindowExec single-partition WARN is expected/harmless
            F.sum("c").over(
                W.orderBy("score").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    thr = (
        cum.filter(F.col("cum") >= target)
        .orderBy("score")
        .limit(1)
        .select(F.col("score").alias("thr"))
    )
    return (
        counts.crossJoin(F.broadcast(thr))
        .filter(F.col("score") >= F.col("thr"))
        .select("user_id", "score")
    )


_SCORE_LEVEL_SQL = """
    WITH c AS (SELECT user_id, count(*) AS score FROM events GROUP BY 1),
    t AS (SELECT score AS thr FROM
            (SELECT score, row_number() OVER (ORDER BY score ASC, user_id ASC) AS rn,
                    count(*) OVER () AS n
             FROM c)
          WHERE rn = CAST(ceil(0.9 * n) AS BIGINT))
    SELECT user_id, score FROM c, t WHERE score >= thr
"""


def _q_gorilla_roundtrip(spark, sf_dir):
    """North-rule storage codec, proven end-to-end: 1m tier -> Gorilla
    blocks (delta-of-delta ts + XOR doubles, per-url Arrow kernel) ->
    decode -> points. The codec is lossless for float64, so the decoded
    points must equal the plain SQL rollup bit-for-bit — the oracle
    checks the whole encode/decode path, not just the rollup."""
    from spartan2_spark.operators.gorilla import decode_blocks, encode_tier_blocks

    pts = _event_points(spark, sf_dir)
    t1m = R.rollup_from_points(pts, "1m")
    # chunk fat series on aligned 4096-minute ranges so encode
    # parallelism scales with data volume, not url cardinality (chunks
    # don't overlap in time, so the decoded union is the same point set)
    view = R.tier_view(t1m).withColumn(
        "chunk", F.floor(F.unix_timestamp("bucket_ts") / (60 * 4096))
    )
    blocks = encode_tier_blocks(
        view, "1m", value_col="vmean", extra_group_cols=("chunk",)
    )
    return decode_blocks(blocks, value_col="value").select(
        "url", F.col("ts").alias("ts_s"), "value"
    )


_GORILLA_SQL = """
    SELECT event_type AS url,
           CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ts_s,
           sum(round(value * 100)) / count(*) AS value
    FROM events GROUP BY 1, 2
"""


_HTML_PREFIX = (
    "<html><head><style>p{c:1}</style>"
    "<script>var x='<b>no</b>';</script></head>"
    "<!-- c --><body><p>A &amp; B </p>"
)


def _q_html_extract(spark, sf_dir):
    """html -> text extraction (operators/text.py extract_text): wrap
    each document's text in a deterministic html shell (tags + script/
    style/comment blocks + entities), extract with the JVM-side
    regexp/replace chain, and hash the result. The DuckDB twin runs the
    IDENTICAL RE2-compatible pipeline, so the md5s match value-exact —
    proving the extraction is engine-portable and deterministic (the
    north rule's byte-identical-extracted-text invariant at the
    operator level; the synthetic-pages byte-roundtrip is
    tests/test_text_extract.py)."""
    from spartan2_spark.operators.text import extract_text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.encode(
        F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit("</body></html>")),
        "UTF-8",
    )
    pages = d.select("doc_id", html.alias("html"))
    return (
        extract_text(pages)
        .select(
            "doc_id",
            F.md5(F.encode(F.col("extracted_text"), "UTF-8")).alias("extract_md5"),
        )
        .orderBy("doc_id")
    )


_HTML_EXTRACT_SQL = f"""
    SELECT doc_id,
           md5(
             replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 '{_HTML_PREFIX.replace("'", "''")}' || text || '</body></html>',
                 '(?s)<script[^>]*>.*?</script>', '', 'g'),
                 '(?s)<style[^>]*>.*?</style>', '', 'g'),
                 '(?s)<!--.*?-->', '', 'g'),
                 '<[^>]*>', '', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&amp;', '&')
           ) AS extract_md5
    FROM documents ORDER BY doc_id
"""


def _q_gorilla_read_range(spark, sf_dir):
    """Serving read path over Gorilla blocks with block-level pruning
    (operators/gorilla.py read_points): only blocks whose
    [start_ts, end_ts] overlaps the requested window reach the Python
    decode kernel, then decoded points are trimmed to the window. The
    oracle is the plain SQL rollup WHERE-filtered to the same window,
    so the check proves prune + decode + trim returns exactly the
    stored points of the range — the query a tier consumer runs."""
    from spartan2_spark.operators.gorilla import encode_tier_blocks, read_points

    t0, t1 = 1704844800, 1705708799  # 2024-01-10 .. 2024-01-20 (excl) UTC
    pts = _event_points(spark, sf_dir)
    t1m = R.rollup_from_points(pts, "1m")
    view = R.tier_view(t1m).withColumn(
        "chunk", F.floor(F.unix_timestamp("bucket_ts") / (60 * 4096))
    )
    blocks = encode_tier_blocks(
        view, "1m", value_col="vmean", extra_group_cols=("chunk",)
    )
    return read_points(blocks, t0=t0, t1=t1).select(
        "url", F.col("ts").alias("ts_s"), "value"
    )


_GORILLA_READ_RANGE_SQL = """
    SELECT * FROM (
        SELECT event_type AS url,
               CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ts_s,
               sum(round(value * 100)) / count(*) AS value
        FROM events GROUP BY 1, 2
    ) WHERE ts_s BETWEEN 1704844800 AND 1705708799
"""


def _q_xcorr(spark, sf_dir):
    """Lagged cross-correlation between the per-minute click and
    purchase count series, lags 0..5: exact BIGINT raw moments over the
    zero-filled dense minute axis + the Pearson r they imply (IEEE
    div/sqrt of exact sub-2^53 integers — bit-identical cross-engine)."""
    return TS.cross_correlogram(
        _events(spark, sf_dir), "click", "purchase", max_lag=5
    )


_XCORR_SQL = """
    WITH ca AS (SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60
                  AS b, count(*)::BIGINT AS x
                FROM events WHERE event_type = 'click' GROUP BY 1),
    cb AS (SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60
             AS b, count(*)::BIGINT AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
    bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM
               (SELECT b FROM ca UNION ALL SELECT b FROM cb)),
    lags AS (SELECT unnest(range(0, 6)) AS lag),
    axis AS (SELECT lag, unnest(generate_series(lo, hi - lag)) AS t
             FROM bounds, lags WHERE hi - lag >= lo),
    j AS (SELECT lag, coalesce(x, 0) AS x, coalesce(y, 0) AS y
          FROM axis LEFT JOIN ca ON ca.b = axis.t
                    LEFT JOIN cb ON cb.b = axis.t + axis.lag),
    m AS (SELECT lag, count(*)::BIGINT AS n,
                 sum(x)::BIGINT AS sum_x, sum(y)::BIGINT AS sum_y,
                 sum(x * y)::BIGINT AS sum_xy,
                 sum(x * x)::BIGINT AS sum_xx,
                 sum(y * y)::BIGINT AS sum_yy
          FROM j GROUP BY lag)
    SELECT lag, n, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
           CASE WHEN n * sum_xx - sum_x * sum_x > 0
                 AND n * sum_yy - sum_y * sum_y > 0
                THEN (n * sum_xy - sum_x * sum_y)
                     / sqrt(CAST(n * sum_xx - sum_x * sum_x AS DOUBLE)
                            * CAST(n * sum_yy - sum_y * sum_y AS DOUBLE))
           END AS pearson_r
    FROM m
"""


def _q_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction: top-100 NON-edges of the sampled
    co-part supplier graph by summed 1/ln(deg) over common neighbors
    (1e-6-quantized BEFORE the sum — order-independent integers)."""
    from spartan2_spark.operators.graph import adamic_adar

    return adamic_adar(_sampled_copart_edges(spark, sf_dir), top_k=100)


# the sampled co-part edge CTE — MUST mirror _sampled_copart_edges
# (same construction as the e CTE inside _TRIANGLES_SQL / _KTRUSS_SQL)
_COPART_E_CTE = """
    li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok AS (SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) <= 200),
    lf AS (SELECT li.* FROM li JOIN ok USING (l_partkey)),
    ep AS (SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v
           FROM lf x JOIN lf y USING (l_partkey)
           WHERE x.l_suppkey < y.l_suppkey),
    rate AS (SELECT GREATEST(2, FLOOR(150 / sqrt(count(DISTINCT
             l_suppkey)))::BIGINT) AS r FROM lf),
    e AS MATERIALIZED (SELECT u, v FROM ep
          WHERE (u::BIGINT * 48271 + v) * 48271 % 2147483647 % 100
          < (SELECT r FROM rate))
"""

_ADAMIC_ADAR_SQL = f"""
    WITH {_COPART_E_CTE},
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS z, count(*)::BIGINT AS d FROM sym GROUP BY 1),
    wz AS (SELECT z, CAST(round(1000000.0 / ln(d)) AS BIGINT) AS w FROM deg),
    wed AS (SELECT a.v AS u, b.v AS v, wz.w
            FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v
            JOIN wz ON wz.z = a.u),
    ne AS (SELECT wed.u, wed.v, wed.w FROM wed
           ANTI JOIN e ON e.u = wed.u AND e.v = wed.v),
    sc AS (SELECT u, v, count(*)::BIGINT AS n_common,
                  sum(w)::BIGINT AS score_q
           FROM ne GROUP BY u, v)
    SELECT u, v, n_common, score_q / 1000000.0 AS aa_score
    FROM sc ORDER BY score_q DESC, u, v LIMIT 100
"""


def _q_theilsen(spark, sf_dir):
    """Per-user Theil–Sen robust trend: median pairwise slope
    (1e6-quantized exact integers) + median-residual intercept; the
    breakdown-resistant twin of linear_trend."""
    return TS.theilsen_trend(_events_series(spark, sf_dir),
                             order_cols=("event_id",))


_THEILSEN_SQL = """
    WITH q AS (
      SELECT user_id AS key,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 1 AS i,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    p AS (SELECT a.key,
                 CAST(round((b.y - a.y) * 1000000.0 / (b.i - a.i)) AS BIGINT)
                   AS slope_q
          FROM q a JOIN q b ON a.key = b.key AND a.i < b.i),
    ms AS (SELECT key, count(*)::BIGINT AS n_pairs,
                  quantile_cont(slope_q, 0.5) AS mslope
           FROM p GROUP BY key),
    r AS (SELECT q.key, n_pairs, mslope,
                 q.y * 2000000 - CAST(2.0 * mslope AS BIGINT) * q.i AS r2
          FROM q JOIN ms USING (key))
    SELECT key, count(*)::BIGINT AS n, max(n_pairs) AS n_pairs,
           max(mslope) / 100000000.0 AS slope,
           quantile_cont(r2, 0.5) / 200000000.0 AS intercept
    FROM r GROUP BY key
"""


def _q_changepoint(spark, sf_dir):
    """Per-user single best level-shift (binary-segmentation step one):
    argmax over split points of the between-segment prefix-sum score;
    scores are IEEE ops on exact integers, tie-break on smaller t."""
    return TS.changepoint_binary(_events_series(spark, sf_dir),
                                 order_cols=("event_id",))


_CHANGEPOINT_SQL = """
    WITH q AS (
      SELECT user_id AS key,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS t,
             sum(CAST(round(value * 100) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sl
      FROM events),
    tot AS (SELECT key, CAST(max(t) AS BIGINT) AS n, max_by(sl, t) AS s
            FROM q GROUP BY key),
    c AS (SELECT q.key, t, n,
                 CAST(sl * sl AS DOUBLE) / t
                   + CAST((s - sl) * (s - sl) AS DOUBLE) / (n - t) AS score,
                 CAST(s * s AS DOUBLE) / n AS base
          FROM q JOIN tot USING (key) WHERE t < n),
    pick AS (SELECT key, n, CAST(t AS BIGINT) AS change_t,
                    (score - base) / 10000.0 AS gain,
                    row_number() OVER (PARTITION BY key
                                       ORDER BY score DESC, t ASC) AS rk
             FROM c)
    SELECT key, n, change_t, gain FROM pick WHERE rk = 1
"""


def _q_mix_alpha(spark, sf_dir):
    """Temperature-scaled source-mixing weights
    (partitioning.mix_alpha_weights, the mT5/XGLM alpha-sampling
    design): per event-type stratum, p ~ n^alpha with the weight
    quantized to a 1e6 BIGINT before the integer-normalizer sum;
    p and epochs raw single divides, quota an exact integer division."""
    from spartan2_spark.operators.partitioning import mix_alpha_weights

    ev = _events(spark, sf_dir).select(F.col("event_type").alias("source"))
    return mix_alpha_weights(ev, "source", alpha=0.3, target_total=100_000)


_MIX_ALPHA_SQL = """
    WITH per AS (SELECT source AS stratum, count(*)::BIGINT AS n
                 FROM (SELECT event_type AS source FROM events) GROUP BY 1),
    w AS (SELECT stratum, n,
                 CAST(round(exp(0.3 * ln(CAST(n AS DOUBLE))) * 1e6) AS BIGINT)
                   AS wq
          FROM per),
    t AS (SELECT CAST(sum(wq) AS BIGINT) AS wq_total FROM w),
    q AS (SELECT stratum, n, wq,
                 CAST(wq AS DOUBLE) / wq_total AS p,
                 CAST(CAST(wq AS HUGEINT) * 100000 // wq_total AS BIGINT) AS quota
          FROM w CROSS JOIN t)
    SELECT stratum, n, wq, p, quota,
           CAST(quota AS DOUBLE) / n AS epochs
    FROM q
"""


def _q_source_mix(spark, sf_dir):
    """Deterministic proportional source-mixing sample (training-data
    mixture weights): 60 docs at 0.4/0.35/0.25 across src0/1/2 by
    lowest-md5 rank per stratum — distributed global ranking, no
    per-stratum window."""
    from spartan2_spark.operators.partitioning import source_mix_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_mix_sample(
        d, {"src0": 0.4, "src1": 0.35, "src2": 0.25}, total=60
    )


# quotas = allocate_quotas({src0: .4, src1: .35, src2: .25}, 60)
# = {src0: 24, src1: 21, src2: 15} (all integral — no remainder seats)
_SOURCE_MIX_SQL = """
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(source || ':' || doc_id), doc_id) AS rank
      FROM documents WHERE source IN ('src0', 'src1', 'src2'))
    SELECT source, doc_id, rank FROM ranked
    WHERE (source = 'src0' AND rank <= 24)
       OR (source = 'src1' AND rank <= 21)
       OR (source = 'src2' AND rank <= 15)
"""


def _q_compaction_plan(spark, sf_dir):
    """Iceberg binpack-style compaction PLAN over 1m-tier block
    descriptors (per-(url, hour) point counts, 64B header + 16B/point):
    order-preserving greedy byte-binning at 4 KiB via the two-phase
    distributed cumsum — one row per planned rewrite group."""
    from spartan2_spark.operators.compaction import compaction_plan

    blocks = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("url"),
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
                "start_s"
            ),
        )
        .agg((F.lit(64) + F.lit(16) * F.count(F.lit(1))).alias("bytes"))
        .withColumn("tier", F.lit("1m"))
    )
    return compaction_plan(
        blocks,
        bytes_col="bytes",
        target_bytes=4096,
        part_cols=("tier",),
        order_cols=("url", "start_s"),
    ).select("tier", "grp", "n_blocks", "total_bytes")


_COMPACTION_PLAN_SQL = """
    WITH b AS (
      SELECT event_type AS url,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS start_s,
             64 + 16 * count(*) AS bytes
      FROM events GROUP BY 1, 2),
    c AS (SELECT url, start_s, bytes,
                 sum(bytes) OVER (ORDER BY url, start_s
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM b)
    SELECT '1m' AS tier, (cum - bytes) // 4096 AS grp,
           count(*)::BIGINT AS n_blocks, sum(bytes)::BIGINT AS total_bytes
    FROM c GROUP BY 1, 2
"""


def _q_counter_rate(spark, sf_dir):
    """PromQL-style increase() with counter-reset detection per user:
    negative deltas mark a restart and contribute the post-reset value.
    Samples are deduplicated to one per (key, ts) via max so the lag
    ordering is deterministic. Exact BIGINT arithmetic end-to-end."""
    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("key"), "ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("value"))
    )
    return TS.counter_rate(s)


_COUNTER_RATE_SQL = """
    WITH s AS (SELECT user_id AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v
               FROM events GROUP BY 1, 2),
    d AS (SELECT key, ts, v,
                 lag(v) OVER (PARTITION BY key ORDER BY ts) AS pv
          FROM s),
    i AS (SELECT key, ts,
                 CASE WHEN pv IS NULL THEN 0
                      WHEN v - pv < 0 THEN v ELSE v - pv END AS inc,
                 CASE WHEN pv IS NOT NULL AND v - pv < 0
                      THEN 1 ELSE 0 END AS reset
          FROM d)
    SELECT key, CAST(sum(inc) AS BIGINT) AS increase,
           CAST(sum(reset) AS BIGINT) AS n_resets,
           count(*)::BIGINT AS n_samples,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
    FROM i GROUP BY key
"""


def _q_twa(spark, sf_dir):
    """LOCF time-weighted average of the centi gauge per event class:
    the honest mean for irregular sampling (arithmetic mean over-weights
    burst periods). Exact decimal weighted sum; one correctly-rounded
    double conversion at the end."""
    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("key"), "ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("value"))
    )
    return TS.time_weighted_avg(s)


_TWA_SQL = """
    WITH s AS (SELECT event_type AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v
               FROM events GROUP BY 1, 2),
    d AS (SELECT key, epoch_us(ts) AS t_us, v,
                 lead(epoch_us(ts)) OVER (PARTITION BY key ORDER BY ts)
                   AS nt
          FROM s),
    g AS (SELECT key, t_us, v * coalesce(nt - t_us, 0) AS wv FROM d)
    SELECT key, count(*)::BIGINT AS n_samples,
           CAST(max(t_us) - min(t_us) AS BIGINT) AS dur_us,
           CAST(sum(wv) AS DOUBLE) AS wsum,
           CASE WHEN max(t_us) - min(t_us) > 0
                THEN CAST(sum(wv) AS DOUBLE)
                     / CAST(max(t_us) - min(t_us) AS DOUBLE)
           END AS twa_centi
    FROM g GROUP BY key
"""


def _q_counter_rate_buckets(spark, sf_dir):
    """The tier form of counter_rate (timeseries.counter_rate_buckets):
    reset-aware PromQL increase() per (user, hour bucket), with
    cross-bucket deltas attributed to the later sample's bucket so the
    buckets re-aggregate exactly to the whole-series increase — the
    continuous-aggregate discipline applied to counters. Exact BIGINT
    end-to-end; single shuffle (the hour grouping reuses the lag
    window's hash(key) partitioning)."""
    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("key"), "ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("value"))
    )
    return TS.counter_rate_buckets(s, bucket="hour").select(
        "key",
        F.unix_micros(F.col("bucket")).alias("bucket_us"),
        "increase",
        "n_resets",
        "n_samples",
    )


_COUNTER_RATE_BUCKETS_SQL = """
    WITH s AS (SELECT user_id AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v
               FROM events GROUP BY 1, 2),
    d AS (SELECT key, ts, v,
                 lag(v) OVER (PARTITION BY key ORDER BY ts) AS pv
          FROM s),
    i AS (SELECT key, date_trunc('hour', ts) AS bucket,
                 CASE WHEN pv IS NULL THEN 0
                      WHEN v - pv < 0 THEN v ELSE v - pv END AS inc,
                 CASE WHEN pv IS NOT NULL AND v - pv < 0
                      THEN 1 ELSE 0 END AS reset
          FROM d)
    SELECT key, epoch_us(bucket) AS bucket_us,
           CAST(sum(inc) AS BIGINT) AS increase,
           CAST(sum(reset) AS BIGINT) AS n_resets,
           count(*)::BIGINT AS n_samples
    FROM i GROUP BY key, bucket
"""


def _q_peak_window(spark, sf_dir):
    """Crawl-politeness audit (timeseries.peak_window_count): per
    derived domain, the max number of fetches in ANY trailing sliding
    24h window (window ends anchored at event times — where every
    sliding maximum is attained), flagged against a 30-fetch daily
    quota. Exact-integer RANGE frame — tumbling day buckets would miss
    boundary-straddling peaks, and at sf0.01 the quota splits domains
    into both flag branches."""
    reqs = _events(spark, sf_dir).select(
        F.concat(F.lit("d"), F.col("user_id") % 20).alias("key"), "ts"
    )
    return TS.peak_window_count(reqs, window_us=86_400_000_000, limit=30)


_PEAK_WINDOW_SQL = """
    WITH r AS (SELECT 'd' || (user_id % 20) AS key, epoch_us(ts) AS t_us
               FROM events),
    w AS (SELECT key,
                 count(*) OVER (PARTITION BY key ORDER BY t_us
                                RANGE BETWEEN 86399999999 PRECEDING
                                AND CURRENT ROW) AS wc
          FROM r)
    SELECT key, count(*)::BIGINT AS n_events,
           CAST(max(wc) AS BIGINT) AS peak_count,
           CAST(max(wc) > 30 AS INT) AS over_limit
    FROM w GROUP BY key
"""


def _q_burn_rate(spark, sf_dir):
    """Multi-window multi-burn-rate SLO alerting (timeseries.
    burn_rate_alerts, the Google SRE workbook pattern): per event
    class, hourly error counts re-aggregated into aligned 6h windows;
    alert when BOTH burn faster than 6x a 2% error budget. The error
    bit is a deterministic synthetic burst (every-3rd event in hours
    divisible by 5, every-50th otherwise) so both the fire and the
    long-window-suppression branches are exercised. Cross-multiplied
    BIGINT comparisons — no float."""
    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        "ts",
        F.when(
            F.hour("ts") % 5 == 0, (F.col("event_id") % 3 == 0).cast("int")
        )
        .otherwise((F.col("event_id") % 50 == 0).cast("int"))
        .alias("is_error"),
    )
    return TS.burn_rate_alerts(
        ev, budget_ppm=20_000, short_bucket="hour", long_factor=6,
        burn_threshold=6,
    ).select(
        "key",
        F.unix_micros(F.col("bucket")).alias("bucket_us"),
        "err_s",
        "tot_s",
        "err_l",
        "tot_l",
        "alert",
    )


_BURN_RATE_SQL = """
    WITH e AS (SELECT event_type AS key, ts,
                      CASE WHEN hour(ts) % 5 = 0
                           THEN CAST(event_id % 3 = 0 AS INT)
                           ELSE CAST(event_id % 50 = 0 AS INT) END
                        AS is_error
               FROM events),
    s AS (SELECT key, date_trunc('hour', ts) AS bucket,
                 CAST(sum(is_error) AS BIGINT) AS err_s,
                 count(*)::BIGINT AS tot_s
          FROM e GROUP BY 1, 2),
    s2 AS (SELECT *, to_timestamp((epoch(bucket)::BIGINT // 21600)
                                  * 21600) AS lbucket
           FROM s),
    l AS (SELECT key, lbucket, CAST(sum(err_s) AS BIGINT) AS err_l,
                 CAST(sum(tot_s) AS BIGINT) AS tot_l
          FROM s2 GROUP BY 1, 2)
    SELECT s2.key, epoch_us(s2.bucket) AS bucket_us,
           s2.err_s, s2.tot_s, l.err_l, l.tot_l,
           CAST(s2.err_s * 1000000 > 120000 * s2.tot_s
                AND l.err_l * 1000000 > 120000 * l.tot_l AS INT) AS alert
    FROM s2 JOIN l ON s2.key = l.key AND s2.lbucket = l.lbucket
"""


def _q_frontcode(spark, sf_dir):
    """Front-coding savings plan for sorted url keys (compaction.
    url_frontcode_plan — the Parquet DELTA_BYTE_ARRAY decision): per
    derived domain, bytes saved by storing each url as its suffix
    after the longest common prefix with its sorted predecessor.
    Prefix length via the monotone count-of-matching-prefixes trick —
    exact BIGINT byte accounting on both engines."""
    pages = _events(spark, sf_dir).select(
        F.concat(F.lit("d"), F.col("user_id") % 50, F.lit(".example"))
        .alias("domain"),
        F.concat(
            F.lit("d"), F.col("user_id") % 50, F.lit(".example/"),
            F.col("event_type"), F.lit("/"), F.col("event_id"),
        ).alias("url"),
    )
    return CP.url_frontcode_plan(pages)


_FRONTCODE_SQL = """
    WITH p AS (SELECT DISTINCT
                 'd' || (user_id % 50) || '.example' AS domain,
                 'd' || (user_id % 50) || '.example/' || event_type
                   || '/' || event_id AS url
               FROM events),
    d AS (SELECT domain, url,
                 lag(url) OVER (PARTITION BY domain ORDER BY url) AS pu
          FROM p),
    g AS (SELECT domain, strlen(url)::BIGINT AS len,
                 CASE WHEN pu IS NULL
                        OR least(strlen(url), strlen(pu)) < 1 THEN 0
                      ELSE len(list_filter(
                             range(1, 1 + least(strlen(url), strlen(pu))),
                             i -> url[1:i] = pu[1:i]))
                 END::BIGINT AS lcp
          FROM d)
    SELECT domain, count(*)::BIGINT AS n_urls,
           sum(len)::BIGINT AS raw_bytes, sum(lcp)::BIGINT AS saved_bytes,
           (sum(len) - sum(lcp))::BIGINT AS coded_bytes,
           CAST(sum(lcp) AS DOUBLE) / CAST(sum(len) AS DOUBLE)
             AS saved_ratio
    FROM g GROUP BY domain
"""


def _q_recrawl_plan(spark, sf_dir):
    """Re-crawl scheduler work list (rollup.recrawl_plan): top-3 urls
    per domain by expected missed changes — observed change rate
    (distinct text versions per span) x staleness against a pinned
    'now'. Exact integer numerator/denominator, one IEEE divide,
    deterministic (cold, -score, url) ranking; WindowGroupLimit keeps
    the per-domain shuffle at ~k rows."""
    pages = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("props").alias("text"),
    )
    now_us = 1735689600000000  # 2025-01-01 UTC, after every testdata ts
    return R.recrawl_plan(pages, now_us=now_us, k_per_domain=3)


_RECRAWL_PLAN_SQL = """
    WITH p AS (SELECT 'u' || user_id || '/' || event_type AS url,
                      ts, props AS text
               FROM events),
    c AS (SELECT url, count(*)::BIGINT AS n_snapshots,
                 count(DISTINCT md5(text))::BIGINT AS n_versions,
                 epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
          FROM p GROUP BY url),
    s AS (SELECT split_part(url, '/', 1) AS domain, url, n_versions,
                 1735689600000000 - last_us AS staleness_us,
                 last_us - first_us AS span_us,
                 CASE WHEN n_snapshots > 1 AND last_us > first_us
                      THEN CAST((n_versions - 1)
                                * (1735689600000000 - last_us) AS DOUBLE)
                           / CAST(last_us - first_us AS DOUBLE)
                 END AS score
          FROM c),
    s2 AS (SELECT *, CASE WHEN score IS NULL THEN 1 ELSE 0 END AS cold
           FROM s),
    r AS (SELECT *, row_number() OVER (PARTITION BY domain
                   ORDER BY cold ASC, score DESC, url ASC) AS rnk
          FROM s2)
    SELECT domain, url, n_versions, staleness_us, span_us, score, cold,
           CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3
"""


def _q_rle_plan(spark, sf_dir):
    """RLE codec decision for status channels (gorilla.rle_plan): the
    per-minute error-count series per key is collapsed into
    gaps-and-islands runs; sparse error channels report runs_per_point
    near 0 (store RLE), dense gauges near 1 (store XOR track). Pure
    BIGINT run accounting, one IEEE ratio; single shuffle on the key
    (both downstream aggregates reuse the window's hash(key)
    partitioning)."""
    from spartan2_spark.operators.gorilla import rle_plan

    pts = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("url"),
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.sum((F.col("event_id") % 50 == 0).cast("int"))
            .cast("double")
            .alias("value")
        )
    )
    return rle_plan(pts, quantize=1).withColumnRenamed("key", "url")


_RLE_PLAN_SQL = """
    WITH p AS (SELECT event_type AS key,
                      CAST(epoch(date_trunc('minute', ts)) AS BIGINT)
                        AS t_s,
                      CAST(round(CAST(sum(CAST(event_id % 50 = 0 AS INT))
                                      AS DOUBLE) * 1) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    d AS (SELECT key, t_s, v,
                 CASE WHEN lag(v) OVER w IS NULL
                        OR v != lag(v) OVER w THEN 1 ELSE 0 END AS chg
          FROM p WINDOW w AS (PARTITION BY key ORDER BY t_s, v)),
    r AS (SELECT key,
                 sum(chg) OVER (PARTITION BY key ORDER BY t_s, v
                                ROWS UNBOUNDED PRECEDING) AS run_id
          FROM d),
    g AS (SELECT key, run_id, count(*)::BIGINT AS run_len
          FROM r GROUP BY 1, 2)
    SELECT key AS url, sum(run_len)::BIGINT AS n_points,
           count(*)::BIGINT AS n_runs,
           max(run_len)::BIGINT AS longest_run,
           CAST(count(*) AS DOUBLE) / CAST(sum(run_len) AS DOUBLE)
             AS runs_per_point
    FROM g GROUP BY key
"""


def _q_roaring_plan(spark, sf_dir):
    """Roaring container sizing for position-delete vectors
    (compaction.roaring_container_plan): three synthetic delete-vector
    shapes derived from event ids — 'dv_run' (dense ids with periodic
    holes: run containers win), 'dv_array' (ids scattered across many
    containers: sorted-short arrays win), 'dv_bitmap' (one container
    saturated with scattered ids: the 8 KiB bitmap wins). Container
    keys, run breaks and the three RoaringBitmap byte formulas are
    exact BIGINT on both engines."""
    from spartan2_spark.operators.compaction import roaring_container_plan

    e = _events(spark, sf_dir)
    dv = (
        e.filter(F.col("event_id") % 7 != 0)
        .select(F.lit("dv_run").alias("table_name"),
                F.col("event_id").alias("pos"))
        .unionAll(
            e.select(F.lit("dv_array").alias("table_name"),
                     (F.col("event_id") * 131).alias("pos"))
        )
        .unionAll(
            e.select(
                F.lit("dv_bitmap").alias("table_name"),
                ((F.col("event_id") * 2654435761) % 65536).alias("pos"),
            )
        )
    )
    return roaring_container_plan(dv)


_ROARING_PLAN_SQL = """
    WITH dv AS (
      SELECT 'dv_run' AS grp, event_id AS id FROM events
      WHERE event_id % 7 != 0
      UNION ALL
      SELECT 'dv_array', event_id * 131 FROM events
      UNION ALL
      SELECT 'dv_bitmap', (event_id * 2654435761) % 65536 FROM events
    ),
    ids AS (SELECT DISTINCT grp, id // 65536 AS cont, id % 65536 AS low
            FROM dv),
    d AS (SELECT grp, cont, low,
                 CASE WHEN lag(low) OVER w IS NULL
                        OR low != lag(low) OVER w + 1 THEN 1 ELSE 0 END
                   AS brk
          FROM ids WINDOW w AS (PARTITION BY grp, cont ORDER BY low)),
    c AS (SELECT grp, cont, count(*)::BIGINT AS n,
                 sum(brk)::BIGINT AS n_runs
          FROM d GROUP BY 1, 2),
    e AS (SELECT grp, n,
                 CASE WHEN n <= 4096 THEN n * 2 ELSE 8192 END AS bytes_ab,
                 2 + n_runs * 4 AS bytes_run
          FROM c),
    f AS (SELECT grp, n, bytes_ab,
                 CASE WHEN bytes_run < bytes_ab
                      THEN bytes_run ELSE bytes_ab END AS bytes_best,
                 CASE WHEN bytes_run < bytes_ab THEN 'run'
                      WHEN n <= 4096 THEN 'array'
                      ELSE 'bitmap' END AS layout
          FROM e)
    SELECT grp, count(*)::BIGINT AS n_containers,
           sum(n)::BIGINT AS n_values,
           sum(CASE WHEN layout = 'array' THEN 1 ELSE 0 END)::BIGINT
             AS n_array,
           sum(CASE WHEN layout = 'bitmap' THEN 1 ELSE 0 END)::BIGINT
             AS n_bitmap,
           sum(CASE WHEN layout = 'run' THEN 1 ELSE 0 END)::BIGINT
             AS n_run,
           sum(bytes_ab)::BIGINT AS bytes_no_run,
           sum(bytes_best)::BIGINT AS bytes_best,
           CAST(sum(bytes_best) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
             AS bytes_per_value
    FROM f GROUP BY grp
"""


def _q_snapshot_expiry(spark, sf_dir):
    """Iceberg expire_snapshots planning (retention.
    snapshot_expiry_plan): the snapshot log is one synthetic commit
    per (table, day) — committed_us = the day's max event time, file/
    row counts from the day's data; policy keeps the 3 most recent
    commits per table plus everything at/after the pinned horizon
    2024-01-24 (now=2024-01-31 minus a 7-day time-travel window — a
    constant, never a wall-clock read). Ranks are row_number over
    (committed_us DESC, snap_id DESC), so the cut is
    engine-deterministic; all reclaim accounting is BIGINT."""
    from spartan2_spark.operators.retention import snapshot_expiry_plan

    snaps = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("table_name"),
            F.expr(
                "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)"
                " DIV 86400"
            ).alias("snap_id"),
        )
        .agg(
            F.unix_micros(F.max("ts").cast("timestamp")).alias(
                "committed_us"
            ),
            F.countDistinct("user_id").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return snapshot_expiry_plan(
        snaps, keep_last=3, horizon_us=1706054400000000
    )


_SNAPSHOT_EXPIRY_SQL = """
    WITH s AS (SELECT event_type AS table_name,
                      CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                        AS snap_id,
                      epoch_us(max(ts)) AS committed_us,
                      count(DISTINCT user_id)::BIGINT AS n_files,
                      count(*)::BIGINT AS n_rows
               FROM events GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY table_name
                      ORDER BY committed_us DESC, snap_id DESC)
                      AS recency_rank
          FROM s),
    p AS (SELECT *, CASE WHEN recency_rank <= 3
                           OR committed_us >= 1706054400000000
                         THEN 'keep' ELSE 'expire' END AS action
          FROM r),
    t AS (SELECT table_name,
                 sum(CASE WHEN action = 'expire' THEN 1 ELSE 0 END)::BIGINT
                   AS tbl_expired,
                 sum(CASE WHEN action = 'expire' THEN n_files
                          ELSE 0 END)::BIGINT AS tbl_files_reclaimed,
                 sum(CASE WHEN action = 'expire' THEN n_rows
                          ELSE 0 END)::BIGINT AS tbl_rows_reclaimed
          FROM p GROUP BY 1)
    SELECT p.table_name, p.snap_id, p.committed_us, p.n_files, p.n_rows,
           CAST(p.recency_rank AS INT) AS recency_rank, p.action,
           t.tbl_expired, t.tbl_files_reclaimed, t.tbl_rows_reclaimed
    FROM p JOIN t USING (table_name)
"""


def _q_bucket_coverage(spark, sf_dir):
    """Tier completeness audit (rollup.bucket_coverage): per url, the
    1m tier's distinct buckets vs the arithmetic bucket count of its
    own [first, last] span — missing buckets are exactly the gap-fill
    serve-time workload. Span math is integer DIV on aligned bucket
    seconds; coverage is the single IEEE divide."""
    s1m = R.rollup_from_points(_event_points(spark, sf_dir), "1m")
    return R.bucket_coverage(s1m, 60)




def _boiler_pages(spark, sf_dir):
    """documents + a planted per-source nav header and copyright
    footer line around each doc's own text — the repeated-across-the-
    site structure real crawled pages carry, built IDENTICALLY in the
    DuckDB twin so detection must separate plant from content."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source",
        "doc_id",
        F.concat(
            F.lit("HOME | ABOUT | CONTACT\n"),
            F.col("text"),
            F.lit("\nCopyright "),
            F.col("source"),
            F.lit(" all rights reserved"),
        ).alias("text"),
    )


def _q_boiler_lines(spark, sf_dir):
    """Site-level boilerplate detection (text.boilerplate_lines,
    CCNet/jusText family): trimmed lines present in >= 50% of a
    source's docs (min 2 docs) are flagged; the verdict is the integer
    cross-multiply doc_freq*1000 >= 500*n_docs, never a float
    compare."""
    from spartan2_spark.operators.text import boilerplate_lines

    return boilerplate_lines(_boiler_pages(spark, sf_dir))


_BOILER_LINES_SQL = """
    WITH p AS (SELECT source AS grp, doc_id AS id,
                      'HOME | ABOUT | CONTACT' || chr(10) || text
                        || chr(10) || 'Copyright ' || source
                        || ' all rights reserved' AS text
               FROM documents),
    l AS (SELECT grp, id,
                 trim(unnest(string_split(text, chr(10)))) AS line
          FROM p),
    f AS (SELECT grp, id, line FROM l WHERE line != '' GROUP BY 1, 2, 3),
    d AS (SELECT grp, line, count(*)::BIGINT AS doc_freq
          FROM f GROUP BY 1, 2),
    n AS (SELECT source AS grp, count(DISTINCT doc_id)::BIGINT AS n_docs
          FROM documents GROUP BY 1)
    SELECT d.grp, d.line, d.doc_freq, n.n_docs,
           CAST(d.doc_freq AS DOUBLE) / CAST(n.n_docs AS DOUBLE)
             AS df_ratio,
           CAST(d.doc_freq * 1000 >= 500 * n.n_docs
                AND n.n_docs >= 2 AS INT) AS is_boiler
    FROM d JOIN n USING (grp)
"""


def _q_boiler_strip(spark, sf_dir):
    """Boilerplate removal (text.boilerplate_strip): rebuild each
    doc's text with its source's flagged lines removed, kept lines in
    original order byte-identically — the cleaning complement of
    boilerplate_lines, recovering exactly the pre-plant document
    text."""
    from spartan2_spark.operators.text import boilerplate_strip

    return boilerplate_strip(_boiler_pages(spark, sf_dir))


_BOILER_STRIP_SQL = """
    WITH p AS (SELECT source AS grp, doc_id AS id,
                      'HOME | ABOUT | CONTACT' || chr(10) || text
                        || chr(10) || 'Copyright ' || source
                        || ' all rights reserved' AS text
               FROM documents),
    l AS (SELECT grp, id,
                 trim(unnest(string_split(text, chr(10)))) AS line
          FROM p),
    f AS (SELECT grp, id, line FROM l WHERE line != '' GROUP BY 1, 2, 3),
    d AS (SELECT grp, line, count(*)::BIGINT AS doc_freq
          FROM f GROUP BY 1, 2),
    n AS (SELECT source AS grp, count(DISTINCT doc_id)::BIGINT AS n_docs
          FROM documents GROUP BY 1),
    b AS (SELECT d.grp, d.line FROM d JOIN n USING (grp)
          WHERE d.doc_freq * 1000 >= 500 * n.n_docs AND n.n_docs >= 2),
    ls AS (SELECT grp, id, string_split(text, chr(10)) AS arr FROM p),
    pl AS (SELECT grp, id, unnest(arr) AS raw,
                  unnest(generate_series(1, len(arr))) AS pos
           FROM ls),
    k AS (SELECT pl.grp, pl.id, pl.pos, pl.raw
          FROM pl LEFT JOIN b
            ON b.grp = pl.grp AND b.line = trim(pl.raw)
          WHERE b.line IS NULL)
    SELECT grp, id, string_agg(raw, chr(10) ORDER BY pos) AS text_clean
    FROM k GROUP BY 1, 2
"""


_BUCKET_COVERAGE_SQL = """
    WITH p AS (SELECT event_type AS url, date_trunc('minute', ts) AS b
               FROM events
               WHERE value IS NOT NULL
                 AND round(value * 100) IS NOT NULL),
    g AS (SELECT url, CAST(epoch(b) AS BIGINT) AS b_s
          FROM p GROUP BY 1, 2)
    SELECT url, count(*)::BIGINT AS present,
           min(b_s) AS first_s, max(b_s) AS last_s,
           ((max(b_s) - min(b_s)) // 60 + 1)::BIGINT AS expected,
           ((max(b_s) - min(b_s)) // 60 + 1 - count(*))::BIGINT AS missing,
           CAST(count(*) AS DOUBLE)
             / CAST((max(b_s) - min(b_s)) // 60 + 1 AS DOUBLE) AS coverage
    FROM g GROUP BY url
"""


def _q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide duplicated-paragraph removal (dedup.paragraph_dedup
    — the CCNet paragraph-hash rule): documents get a planted
    syndicated footer ("Share this article" after a blank line, built
    IDENTICALLY in the DuckDB twin); dedup must keep exactly the
    globally-first site of every repeated paragraph — including any
    natural cross-doc repeats in the corpus text itself — while blank
    structural lines survive everywhere byte-identically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n\nShare this article")
        ).alias("text"),
    )
    from spartan2_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(docs, text_col="text", id_col="doc_id")


_PARAGRAPH_DEDUP_SQL = """
    WITH p AS (SELECT doc_id AS id,
                      text || chr(10) || chr(10) || 'Share this article'
                        AS text
               FROM documents),
    ls AS (SELECT id, string_split(text, chr(10)) AS arr FROM p),
    l AS (SELECT id, unnest(arr) AS raw,
                 unnest(generate_series(1, len(arr))) AS pos
          FROM ls),
    s AS (SELECT id, pos, raw,
                 CASE WHEN length(trim(raw)) >= 1 THEN md5(trim(raw)) END
                   AS h
          FROM l),
    f AS (SELECT h, id AS fid, pos AS fpos
          FROM (SELECT h, id, pos,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY id, pos) AS rn
                FROM s WHERE h IS NOT NULL)
          WHERE rn = 1),
    k AS (SELECT s.id, s.pos, s.raw
          FROM s LEFT JOIN f ON s.h = f.h
          WHERE s.h IS NULL OR (s.id = f.fid AND s.pos = f.fpos)),
    n AS (SELECT id, count(*)::BIGINT AS n_paras FROM s GROUP BY 1)
    SELECT k.id AS doc_id,
           string_agg(k.raw, chr(10) ORDER BY k.pos) AS text_clean,
           min(n.n_paras) AS n_paras,
           count(*)::BIGINT AS n_kept
    FROM k JOIN n ON n.id = k.id
    GROUP BY k.id
"""


def _q_partition_split_plan(spark, sf_dir):
    """Balanced range-partition boundary plan
    (partitioning.partition_split_plan): the 7 exact split rows that
    divide events into 8 equal-count ranges under the (ts, event_id)
    total order — boundary ranks are 1-based (i*n) DIV 8, boundary
    timestamps surface as exact epoch-us BIGINT. The pinned-boundary
    complement of repartitionByRange's reservoir sample."""
    from spartan2_spark.operators.partitioning import partition_split_plan

    ev = _events(spark, sf_dir).select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    return partition_split_plan(ev, ["ts_us", "event_id"], 8).select(
        F.col("split_idx").cast("long").alias("split_idx"),
        "rank",
        "rows_in_bucket",
        "ts_us",
        "event_id",
    )


_PARTITION_SPLIT_SQL = """
    WITH o AS (SELECT epoch_us(ts) AS ts_us, event_id::BIGINT AS event_id,
                      row_number() OVER (ORDER BY epoch_us(ts), event_id)
                        AS rn
               FROM events),
    c AS (SELECT count(*)::BIGINT AS n FROM events),
    r AS (SELECT i::BIGINT AS split_idx, (i * c.n) // 8 AS rank
          FROM range(1, 8) t(i), c),
    r2 AS (SELECT split_idx, rank,
                  rank - coalesce(lag(rank) OVER (ORDER BY split_idx), 0)
                    AS rows_in_bucket
           FROM r)
    SELECT r2.split_idx, r2.rank, r2.rows_in_bucket, o.ts_us, o.event_id
    FROM r2 JOIN o ON o.rn = r2.rank
"""


def _q_dict_encoding_plan(spark, sf_dir):
    """Parquet dictionary-encoding decision
    (compaction.dict_encoding_plan) over two columns with opposite
    right answers: documents.lang (a handful of distinct values —
    dictionary must win) and documents.text (near-unique — the dict
    page would roughly double storage, plain must win); exact BIGINT
    byte formulas, bin()-length bit widths, integer-compare verdict."""
    from spartan2_spark.operators.compaction import dict_encoding_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = []
    for col in ("lang", "text"):
        out.append(
            dict_encoding_plan(docs, "source", col).withColumn(
                "column", F.lit(col)
            )
        )
    both = out[0].unionByName(out[1])
    return both.withColumn("use_dict", F.col("use_dict").cast("long"))


_DICT_ENCODING_SQL = """
    WITH pv AS (SELECT 'lang' AS col, source AS grp, lang AS v,
                       count(*)::BIGINT AS cnt
                FROM documents GROUP BY 1, 2, 3
                UNION ALL
                SELECT 'text' AS col, source AS grp, text AS v,
                       count(*)::BIGINT AS cnt
                FROM documents GROUP BY 1, 2, 3),
    g AS (SELECT col, grp,
                 sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)::BIGINT
                   AS n_values,
                 sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END)::BIGINT
                   AS n_null,
                 count(v)::BIGINT AS n_distinct,
                 sum(CASE WHEN v IS NOT NULL
                          THEN (strlen(v) + 4) * cnt ELSE 0 END)::BIGINT
                   AS plain_bytes,
                 sum(CASE WHEN v IS NOT NULL
                          THEN strlen(v) + 4 ELSE 0 END)::BIGINT
                   AS dict_page_bytes
          FROM pv GROUP BY 1, 2),
    w AS (SELECT *,
                 (CASE WHEN n_distinct <= 1 THEN 1
                       ELSE length(bin(n_distinct - 1)) END)::BIGINT
                   AS index_bits
          FROM g),
    d AS (SELECT *,
                 dict_page_bytes + (n_values * index_bits + 7) // 8
                   AS dict_bytes
          FROM w)
    SELECT grp, n_values, n_null, n_distinct, plain_bytes, dict_bytes,
           index_bits,
           (CASE WHEN dict_bytes < plain_bytes THEN 1 ELSE 0 END)::BIGINT
             AS use_dict,
           plain_bytes - dict_bytes AS savings_bytes,
           col AS "column"
    FROM d
"""


def _q_pow2_quantile(spark, sf_dir):
    """Long-tail p90 served from a DDSketch-style power-of-two bucket
    sketch (histogram.pow2_histogram -> histogram.histogram_quantile):
    <= 64 buckets per key regardless of value range, relative error
    bounded by the bucket ratio. Bucket index is length(bin(v)) —
    never a float log2; selection predicate stays in integers."""
    from spartan2_spark.operators.histogram import (
        histogram_quantile,
        pow2_histogram,
    )

    v = F.round(F.col("value") * 100).cast("long")
    pts = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"), v.alias("v")
    )
    return histogram_quantile(pow2_histogram(pts), q_num=9, q_den=10)


_POW2_QUANTILE_SQL = """
    WITH p AS (SELECT event_type AS key,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    h AS (SELECT key,
                 CASE WHEN v = 0 THEN 0
                      ELSE length(bin(v))::INT END AS b,
                 count(*)::BIGINT AS cnt
          FROM p WHERE v >= 0 GROUP BY 1, 2),
    e AS (SELECT key,
                 CASE WHEN b = 0 THEN 0
                      ELSE (1::BIGINT << (b - 1)) END AS lo,
                 CASE WHEN b = 0 THEN 0
                      ELSE (1::BIGINT << b) - 1 END AS hi,
                 cnt
          FROM h),
    c AS (SELECT key, lo, hi, cnt,
                 sum(cnt) OVER (PARTITION BY key ORDER BY lo
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER (PARTITION BY key) AS total
          FROM e),
    hit AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY lo)
              AS rn
            FROM c WHERE 10 * cum >= 9 * total AND total > 0)
    SELECT key, CAST(total AS BIGINT) AS total,
           lo AS bucket_lo, hi AS bucket_hi,
           lo + (hi - lo) * (CAST(9 * total - 10 * (cum - cnt) AS DOUBLE)
                             / CAST(10 * cnt AS DOUBLE)) AS quantile
    FROM hit WHERE rn = 1
"""


def _q_url_versions(spark, sf_dir):
    """SCD2 page-version validity intervals
    (rollup.url_version_intervals): events model crawl snapshots —
    version text derives deterministically from the value channel
    (centi-value DIV 500, built IDENTICALLY in the twin) so a url's
    timeline has real A->B->A recurrences; run semantics must emit one
    interval per consecutive run, half-open bounds in exact epoch-us,
    NULL valid_to on the live version."""
    from spartan2_spark.operators.rollup import url_version_intervals

    pages = _events(spark, sf_dir).select(
        F.col("event_type").alias("url"),
        F.col("ts").alias("warc_ts"),
        F.concat(
            F.lit("v"),
            F.expr("CAST(CAST(round(value * 100) AS BIGINT) DIV 500 AS STRING)"),
        ).alias("text"),
    )
    return url_version_intervals(pages)


_URL_VERSIONS_SQL = """
    WITH p AS (SELECT event_type AS url, epoch_us(ts) AS t_us,
                      md5('v' || CAST(CAST(round(value * 100) AS BIGINT)
                                      // 500 AS VARCHAR)) AS ver
               FROM events),
    c AS (SELECT url, t_us, ver,
                 CASE WHEN lag(ver) OVER (PARTITION BY url ORDER BY t_us)
                        IS NOT DISTINCT FROM ver
                      THEN 0 ELSE 1 END AS chg
          FROM p),
    r AS (SELECT url, t_us, ver,
                 sum(chg) OVER (PARTITION BY url ORDER BY t_us
                                ROWS UNBOUNDED PRECEDING) AS run
          FROM c),
    g AS (SELECT url, run, min_by(ver, t_us) AS version_md5,
                 min(t_us) AS valid_from_us,
                 count(*)::BIGINT AS n_snapshots
          FROM r GROUP BY 1, 2)
    SELECT url, version_md5, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY url ORDER BY run)
             AS valid_to_us,
           n_snapshots
    FROM g
"""


def _q_neighbor_jaccard(spark, sf_dir):
    """Neighbor-set Jaccard node similarity (graph.neighbor_jaccard)
    on the sampled co-part supplier graph: top-100 co-neighbor pairs
    by exact-integer common/union counts + one IEEE divide, total
    order (jaccard DESC, u, v) so the cut is engine-deterministic."""
    from spartan2_spark.operators.graph import neighbor_jaccard

    return neighbor_jaccard(_sampled_copart_edges(spark, sf_dir), top_k=100)


_NEIGHBOR_JACCARD_SQL = f"""
    WITH {_COPART_E_CTE},
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS n, count(*)::BIGINT AS d FROM sym GROUP BY 1),
    pr AS (SELECT a.v AS u, b.v AS v, count(*)::BIGINT AS n_common
           FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v
           GROUP BY 1, 2),
    sc AS (SELECT pr.u, pr.v, pr.n_common,
                  du.d + dv.d - pr.n_common AS n_union,
                  CAST(pr.n_common AS DOUBLE)
                    / CAST(du.d + dv.d - pr.n_common AS DOUBLE) AS jaccard
           FROM pr JOIN deg du ON du.n = pr.u
                   JOIN deg dv ON dv.n = pr.v)
    SELECT * FROM sc ORDER BY jaccard DESC, u, v LIMIT 100
"""


def _q_outlink_graph(spark, sf_dir):
    """Outlink domain graph (text.outlink_domain_graph): documents get
    deterministic planted markup — one cross-domain link fanned by
    doc_id % 7, one relative link (must drop), one same-domain
    absolute link (self-loop, must stay) — built IDENTICALLY in the
    DuckDB twin; host extraction is the same single RE2-portable
    regexp on both engines, never parse_url."""
    from spartan2_spark.operators.text import outlink_domain_graph

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"), did
        ).alias("url"),
        F.concat(
            F.lit("<html><body>"),
            F.col("text"),
            F.lit('<a href="https://site'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('.example/p">x</a><a href="/relative/path">y</a>'),
            F.lit('<a href="https://'),
            F.col("source"),
            F.lit('.example/other">z</a></body></html>'),
        ).alias("html"),
    )
    return outlink_domain_graph(pages)


_OUTLINK_GRAPH_SQL = """
    WITH p AS (SELECT 'https://' || source || '.example/doc/'
                        || CAST(doc_id AS VARCHAR) AS url,
                      '<html><body>' || text
                        || '<a href="https://site'
                        || CAST(doc_id % 7 AS VARCHAR)
                        || '.example/p">x</a><a href="/relative/path">y</a>'
                        || '<a href="https://' || source
                        || '.example/other">z</a></body></html>' AS html
               FROM documents),
    h AS (SELECT regexp_extract(url, '^https?://([^/?#]+)', 1)
                   AS src_domain,
                 unnest(regexp_extract_all(html, 'href="([^"]+)"', 1))
                   AS href
          FROM p),
    e AS (SELECT src_domain,
                 regexp_extract(href, '^https?://([^/?#]+)', 1)
                   AS dst_domain
          FROM h)
    SELECT src_domain, dst_domain, count(*)::BIGINT AS n_links
    FROM e WHERE src_domain != '' AND dst_domain != ''
    GROUP BY 1, 2
"""


def _q_late_repair(spark, sf_dir):
    """Out-of-order ingest repair plan: the (tier, url, bucket) work-
    list dirtied by rows that arrived after the seal cut (last 20% of
    a hash-derived ingest sequence — event_id itself is ts-ordered in
    the testdata, so a real arrival log is modeled by the deterministic
    LCG permutation (event_id*48271) % 99991) but whose event time
    falls before the 7-day watermark."""
    pts = _events(spark, sf_dir).select(
        F.col("event_type").alias("url"),
        "ts",
        ((F.col("event_id") * 48271) % 99991).alias("seq"),
    )
    return R.late_repair_plan(pts, seq_col="seq")


_LATE_REPAIR_SQL = """
    WITH p AS (SELECT event_type AS url, ts,
                      (event_id * 48271) % 99991 AS seq
               FROM events),
    b AS (SELECT max(seq) AS mseq,
                 date_trunc('day', max(ts)) - INTERVAL 7 DAY AS wm
          FROM p),
    l AS (SELECT url, ts, seq FROM p, b
          WHERE seq > (mseq * 8) // 10 AND ts < wm),
    t AS (SELECT '1m' AS tier, url,
                 CAST(epoch(date_trunc('minute', ts)) AS BIGINT)
                   AS bucket_s, seq FROM l
          UNION ALL
          SELECT '1h', url,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT), seq FROM l
          UNION ALL
          SELECT '1d', url,
                 CAST(epoch(date_trunc('day', ts)) AS BIGINT), seq FROM l)
    SELECT tier, url, bucket_s, count(*)::BIGINT AS n_late,
           min(seq)::BIGINT AS first_seq, max(seq)::BIGINT AS last_seq
    FROM t GROUP BY 1, 2, 3
"""


def _q_url_churn(spark, sf_dir):
    """Per-url content churn across crawl snapshots (distinct text
    versions / fetches) on the pages shape derived from events — the
    re-crawl scheduling signal; exact distinct counts + one IEEE
    divide."""
    pages = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("props").alias("text"),
    )
    return R.url_churn(pages)


_URL_CHURN_SQL = """
    WITH p AS (SELECT 'u' || user_id || '/' || event_type AS url,
                      ts, props AS text
               FROM events)
    SELECT url, count(*)::BIGINT AS n_snapshots,
           count(DISTINCT md5(text))::BIGINT AS n_versions,
           epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us,
           CASE WHEN count(*) > 1
                THEN CAST(count(DISTINCT md5(text)) - 1 AS DOUBLE)
                     / CAST(count(*) - 1 AS DOUBLE)
           END AS churn
    FROM p GROUP BY url
"""


def _q_ppr(spark, sf_dir):
    """Personalized PageRank (6 rounds, d=0.85, integer fixed-point)
    from the every-50th-customer seed set on the symmetrized
    customer<->supplier purchase graph — the seed-neighborhood
    expansion probe; value-exact fixed-unroll twin."""
    from spartan2_spark.operators.graph import ppr_fixedpoint

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    eo = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    e = eo.unionAll(eo.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        o.filter(F.col("o_custkey") % 50 == 0)
        .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("node"))
        .distinct()
    )
    return ppr_fixedpoint(e, seeds, rounds=6)


def _ppr_sql(rounds: int = 6, num: int = 85, den: int = 100,
             scale_bits: int = 30) -> str:
    scale = 1 << scale_bits
    parts = [
        "eo AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS u, "
        "'s' || l_suppkey AS v FROM orders JOIN lineitem "
        "ON o_orderkey = l_orderkey)",
        "e AS MATERIALIZED (SELECT u, v FROM eo UNION ALL SELECT v, u FROM eo)",
        "nodes AS (SELECT DISTINCT u AS node FROM e)",
        "od AS (SELECT u AS node, count(*)::BIGINT AS outdeg FROM e GROUP BY 1)",
        "sd AS (SELECT node, CASE WHEN node LIKE 'c%' AND "
        "CAST(substr(node, 2) AS BIGINT) % 50 = 0 THEN 1 ELSE 0 END"
        " AS is_seed FROM nodes)",
        f"x0 AS (SELECT node, CAST(is_seed * {scale} AS BIGINT) AS rank_mass"
        " FROM sd)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.v AS node, "
            f"CAST(sum(x.rank_mass // od.outdeg) AS BIGINT) AS in_mass "
            f"FROM e JOIN x{k-1} x ON x.node = e.u "
            f"JOIN od ON od.node = e.u GROUP BY 1)"
        )
        parts.append(
            f"x{k} AS MATERIALIZED (SELECT sd.node, "
            f"CAST((sd.is_seed * {(den - num) * scale}::BIGINT "
            f"+ {num} * coalesce(c{k}.in_mass, 0)) // {den} AS BIGINT)"
            f" AS rank_mass FROM sd LEFT JOIN c{k} USING (node))"
        )
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT node, rank_mass FROM x{rounds}"
            " WHERE rank_mass > 0")


def _q_hist_quantile(spark, sf_dir):
    """PromQL histogram_quantile(0.9) served from a fixed-width centi
    bucket histogram per event class — quantiles FROM the aggregated
    tier, never from raw points. Integer bucket selection + one
    fixed-order IEEE interpolation."""
    from spartan2_spark.operators.histogram import histogram_quantile

    v = F.round(F.col("value") * 100).cast("long")
    hist = (
        _events(spark, sf_dir)
        .select(F.col("event_type").alias("key"), v.alias("v"))
        .groupBy("key", F.expr("v div 5000").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "key",
            (F.col("b") * 5000).cast("long").alias("lo"),
            (F.col("b") * 5000 + 5000).cast("long").alias("hi"),
            "cnt",
        )
    )
    return histogram_quantile(hist, q_num=9, q_den=10)


_HIST_QUANTILE_SQL = """
    WITH h AS (SELECT event_type AS key,
                      CAST(round(value * 100) AS BIGINT) // 5000 AS b,
                      count(*)::BIGINT AS cnt
               FROM events GROUP BY 1, 2),
    c AS (SELECT key, b * 5000 AS lo, b * 5000 + 5000 AS hi, cnt,
                 sum(cnt) OVER (PARTITION BY key ORDER BY b
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER (PARTITION BY key) AS total
          FROM h),
    hit AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY lo)
              AS rn
            FROM c WHERE 10 * cum >= 9 * total AND total > 0)
    SELECT key, CAST(total AS BIGINT) AS total,
           lo AS bucket_lo, hi AS bucket_hi,
           lo + (hi - lo) * (CAST(9 * total - 10 * (cum - cnt) AS DOUBLE)
                             / CAST(10 * cnt AS DOUBLE)) AS quantile
    FROM hit WHERE rn = 1
"""


def _q_shard_pack(spark, sf_dir):
    """Training-shard packing plan: pack documents into fixed
    token-budget shards per source in doc_id order — the same
    order-preserving greedy binning kernel as tier_compaction_plan,
    applied to the LLM-data axis (token budgets instead of file
    bytes)."""
    from spartan2_spark.operators.compaction import compaction_plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    dd = d.select("source", "doc_id", toks.cast("long").alias("n_tokens"))
    out = compaction_plan(
        dd,
        bytes_col="n_tokens",
        target_bytes=2000,
        part_cols=("source",),
        order_cols=("doc_id",),
    )
    return out.select(
        "source",
        F.col("grp").alias("shard"),
        F.col("n_blocks").alias("n_docs"),
        F.col("total_bytes").alias("total_tokens"),
    )


_SHARD_PACK_SQL = """
    WITH d AS (SELECT source, doc_id,
                      CAST(len(regexp_split_to_array(trim(lower(text)),
                                                     ' +')) AS BIGINT)
                        AS n_tokens
               FROM documents),
    c AS (SELECT source, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
    SELECT source, (cum - n_tokens) // 2000 AS shard,
           count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
    FROM c GROUP BY 1, 2
"""


def _q_uptime(spark, sf_dir):
    """SLA availability per event class: gaps > 1h between consecutive
    heartbeats are outages, the whole gap is downtime; exact BIGINT gap
    arithmetic + one IEEE ratio."""
    s = _events(spark, sf_dir).select(F.col("event_type").alias("key"), "ts")
    return TS.uptime_sla(s, gap_threshold_us=3_600_000_000)


_UPTIME_SQL = """
    WITH s AS (SELECT event_type AS key, epoch_us(ts) AS t_us FROM events),
    g AS (SELECT key, t_us,
                 t_us - lag(t_us) OVER (PARTITION BY key ORDER BY t_us)
                   AS gap
          FROM s)
    SELECT key, count(*)::BIGINT AS n_samples,
           CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outages,
           CAST(sum(CASE WHEN gap > 3600000000 THEN gap ELSE 0 END)
                AS BIGINT) AS downtime_us,
           max(gap) AS longest_gap_us,
           CAST(max(t_us) - min(t_us) AS BIGINT) AS span_us,
           CASE WHEN max(t_us) - min(t_us) > 0
                THEN 1.0 - CAST(sum(CASE WHEN gap > 3600000000
                                         THEN gap ELSE 0 END) AS DOUBLE)
                           / CAST(max(t_us) - min(t_us) AS DOUBLE)
           END AS uptime_ratio
    FROM g GROUP BY key
"""


def _q_dod_stats(spark, sf_dir):
    """Gorilla timestamp-track compression planning: classify every
    delta-of-delta of the per-url 1m bucket grid into the codec's code
    classes and report implied bits/point — decides the 1-bit fast
    path BEFORE paying the encode."""
    from spartan2_spark.operators.gorilla import dod_bitwidth_stats

    b = (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("url"),
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
        )
        .distinct()
    )
    return dod_bitwidth_stats(b)


_DOD_STATS_SQL = """
    WITH b AS (SELECT DISTINCT event_type AS key,
                      CAST(epoch(date_trunc('minute', ts)) AS BIGINT)
                        AS t_s
               FROM events),
    d AS (SELECT key, t_s,
                 t_s - lag(t_s) OVER (PARTITION BY key ORDER BY t_s)
                   AS delta
          FROM b),
    dd AS (SELECT key,
                  delta - lag(delta) OVER (PARTITION BY key ORDER BY t_s)
                    AS dod
           FROM d),
    c AS (SELECT key,
                 CASE WHEN dod = 0 THEN 0
                      WHEN dod BETWEEN -63 AND 64 THEN 1
                      WHEN dod BETWEEN -255 AND 256 THEN 2
                      WHEN dod BETWEEN -2047 AND 2048 THEN 3
                      ELSE 4 END AS c
          FROM dd WHERE dod IS NOT NULL),
    w AS (SELECT key, c,
                 CASE c WHEN 0 THEN 1 WHEN 1 THEN 9 WHEN 2 THEN 12
                        WHEN 3 THEN 16 ELSE 68 END AS b
          FROM c)
    SELECT key, count(*)::BIGINT AS n_dod,
           CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_zero,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_7b,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c_9b,
           CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c_12b,
           CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c_64b,
           CAST(sum(b) AS BIGINT) AS bits_total,
           CAST(sum(b) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS bits_per_point
    FROM w GROUP BY key
"""


def _q_purge_plan(spark, sf_dir):
    """Right-to-be-forgotten work-list across the retention tiers
    (rollup.purge_plan): for a deterministic ~2/16 url forget set
    (md5 hex prefix '0'/'1' on the pages-shape url), one row per
    (tier, url) with the state rows to delete, buckets spanned, raw
    points represented, and the bucket span — the Iceberg
    equality-delete planning input. n_points is tier-invariant per
    url, so the plan cross-checks the tier chain while planning."""
    pts = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url"),
        F.col("ts"),
        F.round(F.col("value") * 100).alias("value"),
    )
    forget = F.substring(F.md5(F.col("url")), 1, 1).isin("0", "1")
    return R.purge_plan(pts, forget)


_PURGE_PLAN_SQL = """
    WITH p AS (SELECT 'u' || user_id || '/' || event_type AS url, ts,
                      round(value * 100) AS v
               FROM events
               WHERE substr(md5('u' || user_id || '/' || event_type),
                            1, 1) IN ('0', '1')),
    s1m AS (SELECT url, date_trunc('minute', ts) AS b,
                   CAST(v AS BIGINT) AS bin, count(*)::BIGINT AS cnt
            FROM p WHERE v IS NOT NULL GROUP BY 1, 2, 3),
    s1h AS (SELECT url, date_trunc('hour', b) AS b, bin,
                   sum(cnt)::BIGINT AS cnt
            FROM s1m GROUP BY 1, 2, 3),
    s1d AS (SELECT url, date_trunc('day', b) AS b, bin,
                   sum(cnt)::BIGINT AS cnt
            FROM s1h GROUP BY 1, 2, 3),
    t AS (SELECT '1m' AS tier, * FROM s1m
          UNION ALL SELECT '1h', * FROM s1h
          UNION ALL SELECT '1d', * FROM s1d)
    SELECT tier, url,
           count(*)::BIGINT AS n_state_rows,
           count(DISTINCT b)::BIGINT AS n_buckets,
           sum(cnt)::BIGINT AS n_points,
           CAST(epoch(min(b)) AS BIGINT) AS first_bucket_s,
           CAST(epoch(max(b)) AS BIGINT) AS last_bucket_s
    FROM t GROUP BY 1, 2
"""


def _q_tier_audit(spark, sf_dir):
    """Continuous-aggregate re-aggregability audit
    (rollup.consistency_audit): the 1h tier recomputed directly from
    raw vs tiered-up from stored 1m state, full-outer-joined on
    (url, bucket, bin) with null-safe field comparison; per url the
    audit reports keys checked, keys disagreeing (healthy chain: 0
    everywhere — proven here against an independent engine), and
    points covered."""
    return R.consistency_audit(
        _event_points(spark, sf_dir), "1m", "1h"
    )


_TIER_AUDIT_SQL = """
    WITH p AS (SELECT event_type AS url, ts, round(value * 100) AS v
               FROM events WHERE value IS NOT NULL),
    d AS (SELECT url, date_trunc('hour', ts) AS b,
                 CAST(v AS BIGINT) AS bin, count(*)::BIGINT AS cnt,
                 sum(v) AS vsum, min(v) AS vmin, max(v) AS vmax
          FROM p GROUP BY 1, 2, 3),
    m AS (SELECT url, date_trunc('minute', ts) AS b,
                 CAST(v AS BIGINT) AS bin, count(*)::BIGINT AS cnt,
                 sum(v) AS vsum, min(v) AS vmin, max(v) AS vmax
          FROM p GROUP BY 1, 2, 3),
    t AS (SELECT url, date_trunc('hour', b) AS b, bin,
                 sum(cnt)::BIGINT AS cnt, sum(vsum) AS vsum,
                 min(vmin) AS vmin, max(vmax) AS vmax
          FROM m GROUP BY 1, 2, 3),
    j AS (SELECT coalesce(d.url, t.url) AS url,
                 CASE WHEN d.cnt IS DISTINCT FROM t.cnt
                        OR d.vsum IS DISTINCT FROM t.vsum
                        OR d.vmin IS DISTINCT FROM t.vmin
                        OR d.vmax IS DISTINCT FROM t.vmax
                      THEN 1 ELSE 0 END AS mm,
                 coalesce(d.cnt, 0) AS cnt
          FROM d FULL JOIN t
            ON d.url = t.url AND d.b = t.b AND d.bin = t.bin)
    SELECT url, count(*)::BIGINT AS n_keys,
           sum(mm)::BIGINT AS n_mismatch,
           sum(cnt)::BIGINT AS n_points
    FROM j GROUP BY url
"""


def _q_gauge_delta(spark, sf_dir):
    """PromQL gauge family delta()/idelta()/changes() per user: last -
    first, last - second-to-last, and flap count over time-ordered
    centi-quantized samples (timeseries.gauge_delta) — the gauge
    complement of counter_rate. Samples deduplicated to one per
    (key, ts) via max so the lag ordering is deterministic. Pure
    BIGINT end-to-end."""
    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("key"), "ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("value"))
    )
    return TS.gauge_delta(s)


_GAUGE_DELTA_SQL = """
    WITH s AS (SELECT user_id AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v
               FROM events GROUP BY 1, 2),
    g AS (SELECT key, epoch_us(ts) AS t_us, v,
                 lag(v) OVER (PARTITION BY key ORDER BY ts) AS pv
          FROM s)
    SELECT key, count(*)::BIGINT AS n_samples,
           CAST(max_by(v, t_us) - min_by(v, t_us) AS BIGINT) AS delta,
           CAST(max_by(v, t_us) - max_by(pv, t_us) AS BIGINT) AS idelta,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v <> pv
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
           max(t_us) - min(t_us) AS span_us
    FROM g GROUP BY key
"""


def _q_predict_linear(spark, sf_dir):
    """PromQL predict_linear()/deriv() per user: exact-integer OLS over
    (epoch-second, centi value) with per-key centered timestamps (all
    five regression sums DECIMAL(38,0); DuckDB twin widens to HUGEINT
    identically) and the value extrapolated 1 hour past the last
    sample. Only the closing slope/predict arithmetic is float, in one
    fixed expression order mirrored by the twin."""
    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("key"), "ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("value"))
    )
    return TS.predict_linear(s, horizon_s=3600)


_PREDICT_LINEAR_SQL = """
    WITH s AS (SELECT user_id AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v
               FROM events GROUP BY 1, 2),
    g AS (SELECT key, CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                        AS t_s, v FROM s),
    c AS (SELECT key, t_s, v,
                 t_s - min(t_s) OVER (PARTITION BY key) AS tc
          FROM g),
    a AS (SELECT key,
                 CAST(count(*) AS HUGEINT) AS n,
                 sum(CAST(tc AS HUGEINT)) AS st,
                 sum(CAST(v AS HUGEINT)) AS sv,
                 sum(CAST(tc AS HUGEINT) * CAST(tc AS HUGEINT)) AS stt,
                 sum(CAST(tc AS HUGEINT) * CAST(v AS HUGEINT)) AS stv,
                 CAST(max(tc) AS HUGEINT) AS tc_last,
                 max(t_s) AS last_t_s
          FROM c GROUP BY key)
    SELECT key, CAST(n AS BIGINT) AS n_samples, last_t_s,
           CASE WHEN n * stt - st * st <> 0 THEN
             CAST(n * stv - st * sv AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE)
           END AS slope_per_s,
           CASE WHEN n * stt - st * st <> 0 THEN
             CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
             + (CAST(n * stv - st * sv AS DOUBLE)
                  / CAST(n * stt - st * st AS DOUBLE))
               * ((CAST(tc_last AS DOUBLE) + 3600.0)
                    - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
           END AS predicted
    FROM a
"""


def _q_xor_stats(spark, sf_dir):
    """Gorilla VALUE-track compression planning: per event_type, XOR
    consecutive per-minute vsum values of the 1m tier and report the
    meaningful-bit histogram and the codec's no-reuse upper bound
    bits/point (gorilla.xor_bitwidth_stats) — the value-plane
    companion of dod_bitwidth_stats."""
    from spartan2_spark.operators.gorilla import xor_bitwidth_stats

    b = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("url"),
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("v")
        )
    )
    return xor_bitwidth_stats(b, value_col="v")


_XOR_STATS_SQL = """
    WITH b AS (SELECT event_type AS key,
                      date_trunc('minute', ts) AS bt,
                      CAST(sum(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    g AS (SELECT key, CAST(epoch(bt) AS BIGINT) AS t_s, v FROM b),
    l AS (SELECT key, v,
                 lag(v) OVER (PARTITION BY key ORDER BY t_s, v) AS pv
          FROM g),
    x AS (SELECT key, xor(v, pv) AS x FROM l WHERE pv IS NOT NULL),
    m AS (SELECT key, x,
                 CASE WHEN x = 0 THEN 0
                      ELSE 64
                        - (CASE WHEN x < 0 THEN 0
                                ELSE 64 - length(bin(x)) END)
                        - (length(bin(x))
                             - length(regexp_replace(bin(x), '0+$', '')))
                 END AS mbits
          FROM x)
    SELECT key, count(*)::BIGINT AS n_xor,
           CAST(sum(CASE WHEN mbits = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS c_zero,
           CAST(max(mbits) AS BIGINT) AS max_mbits,
           CAST(sum(mbits) AS BIGINT) AS mbits_total,
           CAST(sum(CASE WHEN mbits = 0 THEN 1
                         ELSE 13 + mbits END) AS BIGINT) AS bits_total,
           CAST(sum(CASE WHEN mbits = 0 THEN 1 ELSE 13 + mbits END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bits_per_point
    FROM m GROUP BY key
"""


def _q_matrix_profile(spark, sf_dir):
    """STOMP matrix-profile discords (timeseries.matrix_profile_discords):
    per event_type, the 3 most anomalous day-length (m=24) windows of
    the hourly event-count series by z-normalized nearest-neighbor
    distance. Float-iterative kernel -> rows-only oracle by contract;
    exactness evidence is the brute-force-parity + planted-discord
    pytests (tests/test_timeseries_ops.py)."""
    s = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("ts"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return TS.matrix_profile_discords(s, m=24, k=3)


def _q_matrix_motifs(spark, sf_dir):
    """STOMP matrix-profile motifs (timeseries.matrix_profile_motifs):
    per event_type, the 3 most similar day-length (m=24) window pairs
    of the hourly event-count series — the repeated-pattern complement
    of the discord query on the same profile. Rows-only oracle by
    contract; planted-motif pytest is the exactness evidence."""
    s = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("ts"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return TS.matrix_profile_motifs(s, m=24, k=3)


def _q_tier_mode(spark, sf_dir):
    """Per-bucket mode served FROM the 1h rollup tier's sparse
    histogram (rollup.tier_mode): highest count wins, ties toward the
    smallest bin — one scalar hash aggregate over state, the
    categorical complement of histogram_quantile on the same rows."""
    pts = _events(spark, sf_dir).select(
        F.col("event_type").alias("url"),
        F.col("ts"),
        F.round(F.col("value") * 100).alias("value"),
    )
    s1m = R.rollup_from_points(pts, "1m")
    s1h = R.rollup_tier_up(s1m, "1h")
    return R.tier_mode(s1h).select(
        "url",
        F.unix_timestamp(F.col("bucket_ts").cast("timestamp")).alias(
            "bucket_s"
        ),
        "cnt_total",
        "mode_bin",
        "mode_cnt",
    )


_TIER_MODE_SQL = """
    WITH p AS (SELECT event_type AS url, ts, round(value * 100) AS v
               FROM events WHERE value IS NOT NULL),
    s AS (SELECT url, date_trunc('hour', ts) AS b,
                 CAST(v AS BIGINT) AS bin, count(*)::BIGINT AS cnt
          FROM p GROUP BY 1, 2, 3),
    r AS (SELECT url, b, bin, cnt,
                 sum(cnt) OVER (PARTITION BY url, b) AS total,
                 row_number() OVER (PARTITION BY url, b
                                    ORDER BY cnt DESC, bin ASC) AS rk
          FROM s)
    SELECT url, CAST(epoch(b) AS BIGINT) AS bucket_s,
           CAST(total AS BIGINT) AS cnt_total,
           bin AS mode_bin, cnt AS mode_cnt
    FROM r WHERE rk = 1
"""


def _q_heavy_change(spark, sf_dir):
    """Heavy-change top-k (anomaly.heavy_change_topk): split the span
    at its integer-µs midpoint, count per-url events in each half, and
    return the 25 urls whose absolute count change is largest under a
    total (abs delta, delta, key) order — drift triage that localizes
    psi_drift's distribution movement to keys."""
    from spartan2_spark.operators.anomaly import heavy_change_topk

    ev = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("key"),
        F.col("ts"),
    )
    return heavy_change_topk(ev, k=25)


_HEAVY_CHANGE_SQL = """
    WITH p AS (SELECT 'u' || user_id || '/' || event_type AS key,
                      epoch_us(ts) AS t_us
               FROM events),
    b AS (SELECT (min(t_us) + max(t_us)) // 2 AS mid FROM p),
    c AS (SELECT key,
                 sum(CASE WHEN t_us < mid THEN 1 ELSE 0 END)::BIGINT
                   AS cnt_before,
                 sum(CASE WHEN t_us >= mid THEN 1 ELSE 0 END)::BIGINT
                   AS cnt_after
          FROM p, b GROUP BY key)
    SELECT key, cnt_before, cnt_after,
           cnt_after - cnt_before AS delta
    FROM c
    ORDER BY abs(cnt_after - cnt_before) DESC,
             cnt_after - cnt_before DESC, key ASC
    LIMIT 25
"""


def _q_tier_serving_plan(spark, sf_dir):
    """Error-budget tier selection (rollup.tier_serving_plan): per url
    the worst per-bucket value spread at 1m/1h/1d and the coarsest
    tier whose spread stays within eps=500 centi-units — the dashboard
    router's 'touch 1/1440th of the data' decision."""
    pts = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url"),
        F.col("ts"),
        F.round(F.col("value") * 100).alias("value"),
    )
    return R.tier_serving_plan(pts, eps=500.0)


_TIER_SERVING_SQL = """
    WITH p AS (SELECT 'u' || user_id || '/' || event_type AS url, ts,
                      round(value * 100) AS v
               FROM events WHERE value IS NOT NULL),
    m AS (SELECT url, max(sp) AS spread_1m
          FROM (SELECT url, date_trunc('minute', ts) AS b,
                       max(v) - min(v) AS sp
                FROM p GROUP BY 1, 2) GROUP BY url),
    h AS (SELECT url, max(sp) AS spread_1h
          FROM (SELECT url, date_trunc('hour', ts) AS b,
                       max(v) - min(v) AS sp
                FROM p GROUP BY 1, 2) GROUP BY url),
    d AS (SELECT url, max(sp) AS spread_1d
          FROM (SELECT url, date_trunc('day', ts) AS b,
                       max(v) - min(v) AS sp
                FROM p GROUP BY 1, 2) GROUP BY url)
    SELECT url, spread_1m, spread_1h, spread_1d,
           CASE WHEN spread_1d <= 500 THEN '1d'
                WHEN spread_1h <= 500 THEN '1h'
                WHEN spread_1m <= 500 THEN '1m'
                ELSE 'raw' END AS serve_tier
    FROM m JOIN h USING (url) JOIN d USING (url)
"""


def _q_tier_freshness(spark, sf_dir):
    """Continuous-aggregate watermark audit (rollup.tier_freshness):
    per retention tier, how far behind the per-url raw frontier the
    last SEALED bucket is, under a 90-minute ingest watermark — urls
    tracked, urls too young to serve from the tier, sealed state
    buckets, max/total serving lag. Exact epoch-microsecond BIGINTs."""
    pts = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url"),
        F.col("ts"),
        F.lit(1.0).alias("value"),
    )
    return R.tier_freshness(pts, watermark_lag_s=5400)


_TIER_FRESHNESS_SQL = """
    WITH p AS (SELECT 'u' || user_id || '/' || event_type AS url, ts
               FROM events),
    f AS (SELECT url, epoch_us(max(ts)) AS raw_max_us FROM p GROUP BY 1),
    gb AS (SELECT epoch_us(max(ts)) - 5400000000 AS wm_us FROM p),
    b1m AS (SELECT DISTINCT url, date_trunc('minute', ts) AS b FROM p),
    b1h AS (SELECT DISTINCT url, date_trunc('hour', b) AS b FROM b1m),
    b1d AS (SELECT DISTINCT url, date_trunc('day', b) AS b FROM b1m),
    s1m AS (SELECT url, count(*)::BIGINT AS n_sealed,
                   max(epoch_us(b) + 60000000) AS mat
            FROM b1m, gb WHERE epoch_us(b) + 60000000 <= wm_us
            GROUP BY url),
    s1h AS (SELECT url, count(*)::BIGINT AS n_sealed,
                   max(epoch_us(b) + 3600000000) AS mat
            FROM b1h, gb WHERE epoch_us(b) + 3600000000 <= wm_us
            GROUP BY url),
    s1d AS (SELECT url, count(*)::BIGINT AS n_sealed,
                   max(epoch_us(b) + 86400000000) AS mat
            FROM b1d, gb WHERE epoch_us(b) + 86400000000 <= wm_us
            GROUP BY url)
    SELECT '1m' AS tier, count(*)::BIGINT AS n_urls,
           CAST(sum(CASE WHEN s.n_sealed IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmaterialized,
           CAST(sum(coalesce(s.n_sealed, 0)) AS BIGINT)
             AS n_sealed_buckets,
           max(CASE WHEN s.mat IS NOT NULL
                    THEN greatest(0, f.raw_max_us - s.mat) END)
             AS max_lag_us,
           CAST(sum(CASE WHEN s.mat IS NOT NULL
                         THEN greatest(0, f.raw_max_us - s.mat) END)
                AS BIGINT) AS sum_lag_us
    FROM f LEFT JOIN s1m s USING (url)
    UNION ALL
    SELECT '1h', count(*)::BIGINT,
           CAST(sum(CASE WHEN s.n_sealed IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(coalesce(s.n_sealed, 0)) AS BIGINT),
           max(CASE WHEN s.mat IS NOT NULL
                    THEN greatest(0, f.raw_max_us - s.mat) END),
           CAST(sum(CASE WHEN s.mat IS NOT NULL
                         THEN greatest(0, f.raw_max_us - s.mat) END)
                AS BIGINT)
    FROM f LEFT JOIN s1h s USING (url)
    UNION ALL
    SELECT '1d', count(*)::BIGINT,
           CAST(sum(CASE WHEN s.n_sealed IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(coalesce(s.n_sealed, 0)) AS BIGINT),
           max(CASE WHEN s.mat IS NOT NULL
                    THEN greatest(0, f.raw_max_us - s.mat) END),
           CAST(sum(CASE WHEN s.mat IS NOT NULL
                         THEN greatest(0, f.raw_max_us - s.mat) END)
                AS BIGINT)
    FROM f LEFT JOIN s1d s USING (url)
"""


def _q_hysteresis(spark, sf_dir):
    """Flap-suppressed alert firing intervals (timeseries.
    hysteresis_intervals, Schmitt-trigger semantics): per event class
    the half-open [on, off) epoch-us intervals where the centi-value
    held above the hi=70.00 trigger without falling to the lo=35.00
    release — the (lo, hi) dead band never retriggers. Thresholds
    bracket the sf0.01 value quartiles so every key both fires and
    flaps; pure integer comparisons, dead-band samples dropped before
    the single shuffle."""
    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.col("ts"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return TS.hysteresis_intervals(ev, hi=7000, lo=3500)


_HYSTERESIS_SQL = """
    WITH p AS (SELECT event_type AS key, epoch_us(ts) AS t_us,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    x AS (SELECT key, t_us, v,
                 CASE WHEN v >= 7000 THEN 1 ELSE 0 END AS state
          FROM p WHERE v >= 7000 OR v <= 3500),
    l AS (SELECT key, t_us, v, state,
                 lag(state) OVER (PARTITION BY key ORDER BY t_us, v)
                   AS prev
          FROM x),
    ch AS (SELECT key, t_us, v, state FROM l
           WHERE (prev IS NULL AND state = 1)
              OR (prev IS NOT NULL AND state != prev)),
    o AS (SELECT key, t_us, state,
                 lead(t_us) OVER (PARTITION BY key ORDER BY t_us, v)
                   AS t_next
          FROM ch)
    SELECT key, t_us AS fired_from_us, t_next AS fired_to_us
    FROM o WHERE state = 1
"""


def _q_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift per event class
    (timeseries.ks_drift): reference = first half of the span, current
    = second half (integer-us midpoint split, the heavy_change_topk
    discipline); D carried as the exact fraction d_num/(n0*n1), float
    only in the one mirrored closing divide; the c(0.05) verdict is a
    squared cross-multiply in DECIMAL(38,0) (HUGEINT in the twin) —
    the bin-free complement of psi_drift."""
    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        _usec("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    b = ev.agg(
        F.min("t_us").alias("mn"), F.max("t_us").alias("mx")
    ).select(F.expr("(mn + mx) div 2").alias("mid"))
    tagged = ev.crossJoin(F.broadcast(b)).select(
        "key",
        "v",
        (F.col("t_us") >= F.col("mid")).cast("int").alias("sample"),
    )
    return TS.ks_drift(tagged)


_KS_DRIFT_SQL = """
    WITH p AS (SELECT event_type AS key, epoch_us(ts) AS t_us,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    b AS (SELECT (min(t_us) + max(t_us)) // 2 AS mid FROM p),
    x AS (SELECT key, v,
                 CASE WHEN t_us >= mid THEN 1 ELSE 0 END AS s
          FROM p, b),
    c AS (SELECT key,
                 sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY key ORDER BY v
                         RANGE BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS c0,
                 sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY key ORDER BY v
                         RANGE BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS c1,
                 sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY key) AS n0,
                 sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY key) AS n1
          FROM x),
    a AS (SELECT key, CAST(max(n0) AS BIGINT) AS n_ref,
                 CAST(max(n1) AS BIGINT) AS n_cur,
                 CAST(max(abs(c0 * n1 - c1 * n0)) AS BIGINT) AS d_num
          FROM c GROUP BY key)
    SELECT key, n_ref, n_cur, d_num,
           CAST(n_ref * n_cur AS BIGINT) AS d_den,
           CAST(d_num AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE) AS ks,
           CAST(CAST(d_num AS HUGEINT) * CAST(d_num AS HUGEINT)
                  * 10000000
                > CAST(18444397 AS HUGEINT) * (n_ref + n_cur)
                  * n_ref * n_cur AS INT) AS drift
    FROM a
"""



def _q_apdex(spark, sf_dir):
    """Apdex SLI per event class: satisfied <= 30.00, tolerating
    <= 120.00, frustrated above; exact centi-unit BIGINT counts, score
    = (2*sat + tol) / (2*total) in one IEEE divide. The value-axis
    complement of uptime_sla on the same feed."""
    from spartan2_spark.operators.timeseries import apdex_score

    s = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.round(F.col("value") * 100).cast("long").alias("value"),
    )
    return apdex_score(s, threshold=3000)


_APDEX_SQL = """
    WITH s AS (SELECT event_type AS key,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    a AS (SELECT key, count(*)::BIGINT AS n_total,
                 sum(CASE WHEN v <= 3000 THEN 1 ELSE 0 END)::BIGINT
                   AS n_satisfied,
                 sum(CASE WHEN v > 3000 AND v <= 12000 THEN 1 ELSE 0
                     END)::BIGINT AS n_tolerating,
                 sum(CASE WHEN v > 12000 THEN 1 ELSE 0 END)::BIGINT
                   AS n_frustrated
          FROM s GROUP BY key)
    SELECT key, n_total, n_satisfied, n_tolerating, n_frustrated,
           CAST(2 * n_satisfied + n_tolerating AS DOUBLE)
             / CAST(2 * n_total AS DOUBLE) AS apdex
    FROM a
"""


def _q_first_seen(spark, sf_dir):
    """Crawl-frontier novelty per day: fetches vs distinct urls vs
    urls first seen that day; the discovery-vs-refresh split of the
    crawl schedule (reach complement of url_churn's content churn)."""
    from spartan2_spark.operators.rollup import first_seen_rate

    s = _events(spark, sf_dir).select(
        F.concat_ws(
            "/", F.col("event_type"), (F.col("user_id") % 97).cast("string")
        ).alias("url"),
        "ts",
    )
    r = first_seen_rate(s)
    return r.select(
        F.unix_timestamp(F.col("day").cast("timestamp"))
        .cast("long")
        .alias("day_s"),
        "fetches",
        "distinct_urls",
        "novel_urls",
        "novelty_ratio",
    )


_FIRST_SEEN_SQL = """
    WITH p AS (SELECT event_type || '/' ||
                        CAST(user_id % 97 AS VARCHAR) AS url,
                      date_trunc('day', ts) AS day
               FROM events),
    per_day AS (SELECT day, count(*)::BIGINT AS fetches,
                       count(DISTINCT url)::BIGINT AS distinct_urls
                FROM p GROUP BY day),
    nov AS (SELECT day, count(*)::BIGINT AS novel_urls
            FROM (SELECT url, min(day) AS day FROM p GROUP BY url)
            GROUP BY day)
    SELECT CAST(epoch(d.day) AS BIGINT) AS day_s, d.fetches, d.distinct_urls,
           coalesce(n.novel_urls, 0)::BIGINT AS novel_urls,
           CAST(coalesce(n.novel_urls, 0) AS DOUBLE)
             / CAST(d.distinct_urls AS DOUBLE) AS novelty_ratio
    FROM per_day d LEFT JOIN nov n ON d.day = n.day
"""


def _q_postings(spark, sf_dir):
    """Inverted-index posting-list sizing over the corpus vocabulary:
    delta + LEB128-varint byte cost vs plain 8-byte ids per term
    (df >= 2) — the text-index leg of the per-column codec decision
    family (dod/xor/rle plans)."""
    from spartan2_spark.operators.compaction import postings_plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return postings_plan(d, min_df=2)


_POSTINGS_SQL = """
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS term
      FROM documents),
    td AS (SELECT term, doc_id AS doc, count(*)::BIGINT AS hits
           FROM tok GROUP BY term, doc_id),
    d AS (SELECT term, hits,
                 coalesce(doc - lag(doc) OVER
                            (PARTITION BY term ORDER BY doc), doc)
                   AS delta
          FROM td),
    g AS (SELECT term, hits, (length(bin(delta)) + 6) // 7 AS vb
          FROM d),
    a AS (SELECT term, count(*)::BIGINT AS df, sum(hits)::BIGINT AS tf,
                 sum(vb)::BIGINT AS varint_bytes,
                 (count(*) * 8)::BIGINT AS plain_bytes
          FROM g GROUP BY term HAVING count(*) >= 2)
    SELECT term, df, tf, varint_bytes, plain_bytes,
           CAST(varint_bytes < plain_bytes AS INT) AS varint_wins
    FROM a
"""



def _q_bloom_plan(spark, sf_dir):
    """Bloom-filter sizing per source partition: next-pow2 m bits from
    the binary rendering (never float log2), integer-rounded ln2*b
    hash count — the Parquet/Iceberg bloom_filter decision next to the
    dict/rle/postings codec plans."""
    from spartan2_spark.operators.compaction import bloom_filter_plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bloom_filter_plan(d, "source", "doc_id", bits_per_key=10)


_BLOOM_PLAN_SQL = """
    WITH g AS (SELECT source AS grp,
                      count(DISTINCT doc_id)::BIGINT AS n_keys
               FROM documents GROUP BY source),
    m AS (SELECT grp, n_keys,
                 CASE WHEN n_keys * 10 <= 64 THEN 64
                      WHEN ((n_keys * 10) & (n_keys * 10 - 1)) = 0
                        THEN n_keys * 10
                      ELSE (CAST(1 AS BIGINT)
                            << length(bin(n_keys * 10)))
                 END AS m_bits
          FROM g)
    SELECT grp, n_keys, CAST(m_bits AS BIGINT) AS m_bits,
           CAST(7 AS BIGINT) AS k_hashes,
           CAST(m_bits // 8 AS BIGINT) AS bloom_bytes,
           CAST(m_bits AS DOUBLE) / CAST(n_keys AS DOUBLE)
             AS actual_bits_per_key
    FROM m
"""


def _q_crawl_budget(spark, sf_dir):
    """Largest-remainder apportionment of a 10,000-fetch crawl budget
    across urls weighted by observed fetch volume: quotas sum EXACTLY
    to the budget, leftover +1s decided by a distributed global
    ranking (never a single-partition window)."""
    from spartan2_spark.operators.rollup import crawl_budget_apportion

    g = (
        _events(spark, sf_dir)
        .groupBy(
            F.concat_ws(
                "/",
                F.col("event_type"),
                (F.col("user_id") % 97).cast("string"),
            ).alias("domain")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return crawl_budget_apportion(g, budget=10_000)


_CRAWL_BUDGET_SQL = """
    WITH g AS (SELECT event_type || '/' ||
                        CAST(user_id % 97 AS VARCHAR) AS key,
                      count(*)::BIGINT AS w
               FROM events GROUP BY 1),
    t AS (SELECT sum(w)::BIGINT AS wsum FROM g),
    b AS (SELECT key, w,
                 (CAST(10000 AS BIGINT) * w) // wsum AS base,
                 CAST(10000 AS BIGINT) * w
                   - ((CAST(10000 AS BIGINT) * w) // wsum) * wsum AS rem
          FROM g, t),
    l AS (SELECT 10000 - sum(base) AS leftover FROM b),
    r AS (SELECT key, w, base, rem,
                 row_number() OVER (ORDER BY rem DESC, key) AS rnk
          FROM b)
    SELECT key, CAST(w AS BIGINT) AS w, CAST(base AS BIGINT) AS base,
           CAST(rem AS BIGINT) AS rem,
           CAST(base + CASE WHEN rnk <= (SELECT leftover FROM l)
                            THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM r
"""


def _q_rolling_median(spark, sf_dir):
    """Exact trailing 7-row LOWER median per user — the robust
    centerline rolling_stats' mean can't give; every output is an
    exact input centi value (no interpolation, no floats)."""
    from spartan2_spark.operators.timeseries import rolling_median

    ev = _events_series(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100).cast("long")
    )
    out = rolling_median(ev, 7, order_cols=("event_id",))
    return out.select(
        "key",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "value",
        "w_n",
        "w_median",
    )


_ROLLING_MEDIAN_SQL = """
    WITH q AS (SELECT user_id AS key, ts, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v FROM events)
    SELECT key, epoch_us(ts) AS ts_us, event_id, v AS value,
           CAST(count(*) OVER w AS BIGINT) AS w_n,
           CAST((list_sort(list(v) OVER w))
                  [CAST((count(*) OVER w + 1) // 2 AS INT)] AS BIGINT)
             AS w_median
    FROM q
    WINDOW w AS (PARTITION BY key ORDER BY ts, event_id, v
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def _q_counter_changes(spark, sf_dir):
    """PromQL changes()/resets() audit per user counter: transition and
    restart counts plus first/last values — the flap/health complement
    of counter_rate's integral. Samples deduped to one per (key, ts)
    so the lag order is deterministic; all-integer."""
    from spartan2_spark.operators.timeseries import counter_changes

    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("key"), "ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("value"))
    )
    return counter_changes(s)


_COUNTER_CHANGES_SQL = """
    WITH s AS (SELECT user_id AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v
               FROM events GROUP BY 1, 2),
    d AS (SELECT key, ts, v,
                 lag(v) OVER (PARTITION BY key ORDER BY ts, v) AS pv
          FROM s),
    c AS (SELECT key, ts, v,
                 CASE WHEN pv IS NULL THEN 0
                      WHEN v != pv THEN 1 ELSE 0 END AS chg,
                 CASE WHEN pv IS NOT NULL AND v < pv
                      THEN 1 ELSE 0 END AS rst
          FROM d)
    SELECT key, CAST(sum(chg) AS BIGINT) AS n_changes,
           CAST(sum(rst) AS BIGINT) AS n_resets,
           count(*)::BIGINT AS n_samples,
           CAST(arg_min(v, ts) AS BIGINT) AS first_value,
           CAST(arg_max(v, ts) AS BIGINT) AS last_value
    FROM c GROUP BY key
"""


def _q_dedup_keep_best(spark, sf_dir):
    """Quality-aware keep-one-per-cluster dedup: near-dup clusters from
    the value-exact minhash->CC pipeline, canonical = LONGEST member
    (tie-break min id) — the C4/RefinedWeb keep rule, vs
    dedup_clusters' min-id pick."""
    from spartan2_spark.operators.dedup import dedup_keep_best

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_keep_best(
        d, k=32, bands=8, jaccard_threshold=0.2
    )


def _dedup_keep_best_sql(k: int = 32, bands: int = 8, shingle_n: int = 5,
                         threshold: float = 0.2, max_bucket: int = 1000) -> str:
    """Keep-best twin: the minhash pair prelude + recursive min-label
    closure (same as _dedup_clusters_sql), then a (quality DESC, id)
    window picks the canonical member per cluster."""
    prelude = _minhash_prelude(k, bands, shingle_n, max_bucket)
    return f"""
    WITH RECURSIVE {prelude},
    p AS MATERIALIZED (SELECT id_a, id_b FROM j WHERE jac >= {threshold}),
    e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
                       UNION SELECT id_b, id_a FROM p),
    cc(node, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT e.u, cc.lbl FROM e JOIN cc ON cc.node = e.v),
    comp AS (SELECT node, min(lbl) AS component FROM cc GROUP BY node),
    docs AS (SELECT doc_id AS id, max(length(text))::BIGINT AS quality
             FROM documents GROUP BY doc_id),
    lab AS (SELECT d.id, coalesce(comp.component, d.id) AS cluster,
                   d.quality
            FROM docs d LEFT JOIN comp ON comp.node = d.id)
    SELECT id, cluster, quality,
           CAST(row_number() OVER (PARTITION BY cluster
                                   ORDER BY quality DESC, id) = 1
                AS BIGINT) AS keep
    FROM lab
"""


_DEDUP_KEEP_BEST_SQL = _dedup_keep_best_sql()


def _q_degree_assortativity(spark, sf_dir):
    """Newman degree assortativity of the sampled co-part supplier
    graph: Pearson correlation of endpoint degrees, collapsed by
    symmetry to a ratio of two exact BIGINT sums — ONE IEEE divide,
    no sqrt, bit-identical cross-engine."""
    from spartan2_spark.operators.graph import degree_assortativity

    return degree_assortativity(_sampled_copart_edges(spark, sf_dir))


_DEGREE_ASSORT_SQL = f"""
    WITH {_COPART_E_CTE},
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS n, count(*)::BIGINT AS d FROM sym GROUP BY 1),
    jd AS (SELECT a.d AS du, b.d AS dv
           FROM sym JOIN deg a ON a.n = sym.u JOIN deg b ON b.n = sym.v),
    agg AS (SELECT count(*)::BIGINT AS m,
                   CAST(sum(du) AS BIGINT) AS sx,
                   CAST(sum(du * dv) AS BIGINT) AS sxy,
                   CAST(sum(du * du) AS BIGINT) AS sxx
            FROM jd)
    SELECT m, sx, sxy, sxx,
           CAST(m * sxy - sx * sx AS BIGINT) AS r_num,
           CAST(m * sxx - sx * sx AS BIGINT) AS r_den,
           CAST(m * sxy - sx * sx AS DOUBLE)
             / CAST(m * sxx - sx * sx AS DOUBLE) AS assortativity
    FROM agg
"""


def _q_frontier_interleave(spark, sf_dir):
    """Politeness-ordered crawl frontier: per-domain priority ranking
    interleaved round-robin into one global fetch order (round 1 =
    every domain's best url, ...) — position assigned by the
    DISTRIBUTED global ranking helper, never a single-partition sort."""
    from spartan2_spark.operators.rollup import frontier_interleave

    g = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("domain"),
            F.concat_ws(
                "/", F.col("event_type"), (F.col("user_id") % 997).cast("string")
            ).alias("url"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("priority"))
    )
    return frontier_interleave(g)


_FRONTIER_INTERLEAVE_SQL = """
    WITH g AS (SELECT event_type AS domain,
                      event_type || '/' ||
                        CAST(user_id % 997 AS VARCHAR) AS url,
                      count(*)::BIGINT AS priority
               FROM events GROUP BY 1, 2),
    r AS (SELECT url, domain,
                 CAST(row_number() OVER (PARTITION BY domain
                                         ORDER BY priority DESC, url)
                      AS BIGINT) AS rank_in_domain
          FROM g)
    SELECT url, domain, rank_in_domain,
           CAST(row_number() OVER (ORDER BY rank_in_domain, domain, url)
                AS BIGINT) AS position
    FROM r
"""


def _q_phrase_match(spark, sf_dir):
    """Exact phrase search ("hash join") via positional-postings
    intersection — the query-side primitive of the inverted index
    postings_plan sizes; term filter lands inside the explode, joins
    align (doc, pos - i). All-integer 1-based positions."""
    from spartan2_spark.operators.text import phrase_match

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return phrase_match(d, ["hash", "join"])


_PHRASE_MATCH_SQL = """
    WITH tok AS (SELECT doc_id AS id,
                        string_split_regex(trim(lower(text)), ' +') AS tk
                 FROM documents),
    hits AS (SELECT id,
                    list_filter(range(1, greatest(len(tk) - 1, 0) + 1),
                                i -> tk[i] = 'hash' AND tk[i+1] = 'join')
                      AS pos
             FROM tok)
    SELECT id, CAST(len(pos) AS BIGINT) AS n_hits,
           CAST(pos[1] AS BIGINT) AS first_pos
    FROM hits WHERE len(pos) > 0
"""


def _q_ohlc_bars(spark, sf_dir):
    """Open/high/low/close + exact-VWAP candle rollup per event class
    per hour — the first/last continuous-aggregate family the
    cnt/sum/min/max tier state can't express; ONE hash aggregation,
    re-aggregable state (see the tier-up parity pytest). Samples
    deduped to one per (key, ts) so endpoint picks are deterministic."""
    from spartan2_spark.operators.rollup import ohlc_bars

    s = (
        _events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("key"), "ts")
        .agg(
            F.max(F.round(F.col("value") * 100).cast("long")).alias("value"),
            F.max((F.col("user_id") % 7 + 1).cast("long")).alias("qty"),
        )
    )
    return ohlc_bars(s, tier="1h", qty_col="qty").withColumn(
        "bucket_s", F.unix_timestamp(F.col("bucket_ts").cast("timestamp"))
    ).drop("bucket_ts")


_OHLC_SQL = """
    WITH s AS (SELECT event_type AS key, ts,
                      max(CAST(round(value * 100) AS BIGINT)) AS v,
                      max(CAST(user_id % 7 + 1 AS BIGINT)) AS q
               FROM events GROUP BY 1, 2),
    b AS (SELECT key, date_trunc('hour', ts) AS bucket,
                 epoch_us(ts) AS t_us, v, q
          FROM s)
    SELECT key, count(*)::BIGINT AS cnt,
           CAST(min(t_us) AS BIGINT) AS open_ts_us,
           CAST(arg_min(v, t_us) AS BIGINT) AS "open",
           CAST(max(t_us) AS BIGINT) AS close_ts_us,
           CAST(arg_max(v, t_us) AS BIGINT) AS "close",
           CAST(min(v) AS BIGINT) AS low,
           CAST(max(v) AS BIGINT) AS high,
           CAST(sum(q) AS BIGINT) AS volume,
           CAST(sum(v * q) AS BIGINT) AS pvsum,
           CAST(sum(v * q) AS BIGINT)::DOUBLE
             / CAST(sum(q) AS BIGINT)::DOUBLE AS vwap,
           CAST(epoch(bucket) AS BIGINT) AS bucket_s
    FROM b GROUP BY key, bucket
"""


def _q_url_path_rollup(spark, sf_dir):
    """Sitemap-tree rollup: fetch counts + value bytes per url path
    prefix (depth <= 3) — each fetch contributes one row per ancestor,
    so sibling subtrees sum exactly into their parent; one explode +
    ONE map-side-combinable hash aggregate."""
    from spartan2_spark.operators.rollup import url_path_rollup

    u = _events(spark, sf_dir).select(
        F.concat_ws(
            "/",
            F.col("event_type"),
            (F.col("user_id") % 31).cast("string"),
            (F.col("event_id") % 13).cast("string"),
        ).alias("url"),
        F.round(F.col("value") * 100).cast("long").alias("nbytes"),
    )
    return url_path_rollup(u, max_depth=3, bytes_col="nbytes")


_URL_PATH_ROLLUP_SQL = """
    WITH u AS (SELECT event_type || '/' ||
                        CAST(user_id % 31 AS VARCHAR) || '/' ||
                        CAST(event_id % 13 AS VARCHAR) AS url,
                      CAST(round(value * 100) AS BIGINT) AS b
               FROM events),
    p AS (SELECT unnest(list_transform(
                   range(1, least(3, len(string_split(url, '/'))) + 1),
                   i -> array_to_string((string_split(url, '/'))[1:i], '/')))
                 AS prefix,
                 b
          FROM u)
    SELECT prefix, count(*)::BIGINT AS fetches,
           CAST(sum(b) AS BIGINT) AS bytes,
           CAST(len(string_split(prefix, '/')) AS BIGINT) AS depth
    FROM p GROUP BY prefix
"""


def _q_dup_rate_by_source(spark, sf_dir):
    """Exact-duplicate-rate audit per corpus source. The testdata has
    no natural exact dups, so the query plants them: every doc_id % 10
    == 0 document re-enters under a new id (+100000) and source
    'mirror' — the audit must then attribute duplicate membership to
    BOTH the original sources and the mirror."""
    from spartan2_spark.operators.dedup import dup_rate_by_source

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    base = d.select("doc_id", "text", "source").unionByName(planted)
    return dup_rate_by_source(base)


_DUP_RATE_SQL = """
    WITH base AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, 'mirror' FROM documents
      WHERE doc_id % 10 = 0),
    k AS (SELECT source AS grp, doc_id AS id, md5(text) AS h FROM base),
    c AS (SELECT h, count(*)::BIGINT AS n_copies, min(id) AS canonical
          FROM k GROUP BY h),
    j AS (SELECT k.grp, k.id, c.n_copies, c.canonical
          FROM k JOIN c USING (h))
    SELECT grp, count(*)::BIGINT AS n_docs,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(CASE WHEN n_copies > 1 AND id = canonical
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_canonicals,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS dup_ratio
    FROM j GROUP BY grp
"""


def _q_ngram_novelty(spark, sf_dir):
    """Vocabulary-growth curve: per (synthetic) corpus day, distinct
    word 3-grams vs grams globally first seen that day — the n-gram
    analogue of first_seen_rate's url novelty (the dataset-growth
    stopping signal)."""
    from spartan2_spark.operators.text import ngram_novelty

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") % 5).cast("long").alias("day"), "text"
    )
    return ngram_novelty(d, n=3, day_col="day")


_NGRAM_NOVELTY_SQL = """
    WITH g AS (
      SELECT doc_id % 5 AS day,
             list_distinct(list_transform(
               generate_series(1, greatest(
                 len(string_split_regex(trim(lower(text)), ' +')) - 2, 1)),
               i -> array_to_string(
                 (string_split_regex(trim(lower(text)), ' +'))[i:i+2],
                 ' '))) AS ng
      FROM documents),
    f AS (SELECT DISTINCT day, unnest(ng) AS gram FROM g),
    fe AS (SELECT day, gram FROM f WHERE gram != ''),
    per_day AS (SELECT day, count(*)::BIGINT AS distinct_grams
                FROM fe GROUP BY day),
    nov AS (SELECT day, count(*)::BIGINT AS novel_grams
            FROM (SELECT gram, min(day) AS day FROM fe GROUP BY gram)
            GROUP BY day)
    SELECT CAST(p.day AS BIGINT) AS day, p.distinct_grams,
           coalesce(n.novel_grams, 0)::BIGINT AS novel_grams,
           CAST(coalesce(n.novel_grams, 0) AS DOUBLE)
             / CAST(p.distinct_grams AS DOUBLE) AS novelty_ratio
    FROM per_day p LEFT JOIN nov n ON p.day = n.day
"""


def _q_interval_concurrency(spark, sf_dir):
    """In-flight concurrency timeline per event class from synthetic
    half-open [start, start + (centi+1)s) intervals: sweep-line
    boundary events, (key, t) delta aggregate, ONE running-frame
    window — ends processed before starts at an instant."""
    from spartan2_spark.operators.timeseries import interval_concurrency

    iv = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        _usec("ts").alias("start_us"),
        (
            _usec("ts")
            + (F.round(F.col("value") * 100).cast("long") + 1) * 1_000_000
        ).alias("end_us"),
    )
    return interval_concurrency(iv)


_INTERVAL_CONCURRENCY_SQL = """
    WITH iv AS (SELECT event_type AS key, epoch_us(ts) AS s,
                       epoch_us(ts)
                         + (CAST(round(value * 100) AS BIGINT) + 1)
                           * 1000000 AS e
                FROM events),
    ev AS (SELECT key, s AS t_us, 1 AS sd, 0 AS ed FROM iv
           UNION ALL SELECT key, e, 0, 1 FROM iv),
    pt AS (SELECT key, t_us, CAST(sum(sd) AS BIGINT) AS starts,
                  CAST(sum(ed) AS BIGINT) AS ends
           FROM ev GROUP BY key, t_us)
    SELECT key, t_us, starts, ends,
           CAST(sum(starts - ends) OVER (
                  PARTITION BY key ORDER BY t_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS concurrent
    FROM pt
"""


def _q_weighted_percentiles(spark, sf_dir):
    """Exact weighted p50/p95 per event class (lower rule, integer
    cross-multiplied reach test 100*cumw >= q*W) with per-sample
    weights — the latency percentile weighted by request volume that
    unweighted exact_percentiles can't express."""
    from spartan2_spark.operators.timeseries import weighted_percentiles

    s = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.round(F.col("value") * 100).cast("long").alias("value"),
        (F.col("user_id") % 7 + 1).cast("long").alias("weight"),
    )
    return weighted_percentiles(s, percents=(50, 95))


_WEIGHTED_PCT_SQL = """
    WITH d AS (SELECT event_type AS key,
                      CAST(round(value * 100) AS BIGINT) AS v,
                      CAST(user_id % 7 + 1 AS BIGINT) AS w
               FROM events),
    g AS (SELECT key, v, CAST(sum(w) AS BIGINT) AS w FROM d GROUP BY key, v),
    c AS (SELECT key, v,
                 CAST(sum(w) OVER (PARTITION BY key ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cumw,
                 CAST(sum(w) OVER (PARTITION BY key) AS BIGINT) AS total_w
          FROM g)
    SELECT key, CAST(max(total_w) AS BIGINT) AS total_w,
           CAST(min(CASE WHEN 100 * cumw >= 50 * total_w THEN v END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN 100 * cumw >= 95 * total_w THEN v END)
                AS BIGINT) AS p95
    FROM c GROUP BY key
"""


def _q_graph_reciprocity(spark, sf_dir):
    """Reciprocity of a synthetic directed graph (u = user_id mod 50
    -> v = event_id mod 50, loops dropped): fraction of deduped edges
    whose reverse also exists — one distinct + one swapped-key
    semi-join + counts."""
    from spartan2_spark.operators.graph import graph_reciprocity

    e = _events(spark, sf_dir).select(
        (F.col("user_id") % 50).alias("src"),
        (F.col("event_id") % 50).alias("dst"),
    )
    return graph_reciprocity(e)


_RECIPROCITY_SQL = """
    WITH e AS (SELECT DISTINCT user_id % 50 AS u, event_id % 50 AS v
               FROM events WHERE user_id % 50 != event_id % 50),
    r AS (SELECT a.u, a.v FROM e a SEMI JOIN e b
          ON b.u = a.v AND b.v = a.u)
    SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges,
           (SELECT count(*) FROM r)::BIGINT AS n_reciprocal,
           (SELECT count(*) FROM r)::DOUBLE
             / (SELECT count(*) FROM e)::DOUBLE AS reciprocity
"""


def _q_hll_tier_distinct(spark, sf_dir):
    """Distinct users per event class per DAY via the mergeable HLL
    register TIER: hour-bucket register state tiered up to day by
    register-wise max (the COUNT DISTINCT continuous aggregate the
    cnt/sum/min/max ladder can't express), beside the exact per-day
    distinct. The DuckDB twin computes the day registers DIRECTLY from
    raw — equality with the Spark hour->day tier path IS the
    re-aggregability proof, oracle-checked."""
    from spartan2_spark.functions.sketches import (
        hll_tier,
        hll_tier_estimate,
        hll_tier_up,
    )

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        "ts",
        F.col("user_id").cast("string").alias("item"),
    )
    st_h = hll_tier(ev, tier="1h", m=256)
    st_d = hll_tier_up(st_h, "1d")
    est = hll_tier_estimate(st_d, m=256)
    exact = ev.groupBy(
        "key", F.date_trunc("day", F.col("ts")).alias("bucket_ts")
    ).agg(F.count_distinct("item").cast("long").alias("exact_distinct"))
    return (
        est.join(exact, ["key", "bucket_ts"])
        .select(
            "key",
            F.unix_timestamp(F.col("bucket_ts").cast("timestamp"))
            .cast("long")
            .alias("day_s"),
            "n_occupied",
            "z_sum",
            "hll_estimate",
            "exact_distinct",
        )
    )


_HLL_TIER_SQL = """
    WITH ev AS (SELECT event_type AS key, date_trunc('day', ts) AS b,
                       user_id::VARCHAR AS item
                FROM events),
    h0 AS (SELECT key, b,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(item, ''),
                                   c -> ascii(c)::BIGINT)),
                    (a, x) -> (a * 31 + x) % 2147483647) AS h
           FROM ev),
    h AS (SELECT key, b,
                 h * 48271 % 2147483647 * 48271 % 2147483647 AS h
          FROM h0),
    rw AS (SELECT key, b, h % 256 AS reg, (h - h % 256) // 256 AS w
           FROM h),
    rho AS (SELECT key, b, reg,
                   CASE WHEN w > 0 THEN 24 - length(bin(w))
                        ELSE 24 END AS rho
            FROM rw),
    regs AS (SELECT key, b, reg, CAST(max(rho) AS BIGINT) AS max_rho
             FROM rho GROUP BY key, b, reg),
    z AS (SELECT key, b, count(*)::BIGINT AS n_occupied,
                 sum(1.0 / (1::BIGINT << max_rho))
                   + CAST(256 - count(*) AS DOUBLE) AS z_sum
          FROM regs GROUP BY key, b),
    ex AS (SELECT key, b, count(DISTINCT item)::BIGINT AS exact_distinct
           FROM ev GROUP BY key, b)
    SELECT z.key, CAST(epoch(z.b) AS BIGINT) AS day_s, z.n_occupied,
           z.z_sum,
           0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / z.z_sum
             AS hll_estimate,
           ex.exact_distinct
    FROM z JOIN ex ON z.key = ex.key AND z.b = ex.b
"""


def _q_bm25(spark, sf_dir):
    """Okapi BM25 top-100 ranking of the corpus against the query bag
    {hash, join, spark}: per-(doc,term) partial scores quantized to
    1e-6 BIGINTs BEFORE the per-doc sum (order-independent reduction,
    the adamic_adar discipline), postings-sized relations only."""
    from spartan2_spark.operators.text import bm25_scores

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_scores(d, ["hash", "join", "spark"], top_k=100)


_BM25_SQL = """
    WITH toks AS (SELECT doc_id AS id,
                         string_split_regex(trim(lower(text)), ' +') AS tok
                  FROM documents),
    dl AS (SELECT id, len(tok)::BIGINT AS dl FROM toks),
    stats AS (SELECT count(*)::BIGINT AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (SELECT id, term, count(*)::BIGINT AS tf
           FROM (SELECT id, unnest(tok) AS term FROM toks)
           WHERE term IN ('hash', 'join', 'spark') GROUP BY id, term),
    dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    part AS (SELECT tf.id,
                    CAST(round(
                      (1000000.0
                       * ln(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
                              + 0.5) / (CAST(df AS DOUBLE) + 0.5)) + 1.0))
                      * ((CAST(tf AS DOUBLE) * ((120.0 / 100.0) + 1.0))
                         / (CAST(tf AS DOUBLE)
                            + (120.0 / 100.0)
                              * (1.0 - (75.0 / 100.0)
                                 + (75.0 / 100.0) * CAST(dl AS DOUBLE)
                                   / (CAST(sum_dl AS DOUBLE)
                                      / CAST(n_docs AS DOUBLE)))))
                    ) AS BIGINT) AS sq
             FROM tf JOIN dfq USING (term) JOIN dl USING (id), stats),
    sc AS (SELECT id, CAST(sum(sq) AS BIGINT) AS score_q,
                  count(*)::BIGINT AS n_terms_hit
           FROM part GROUP BY id)
    SELECT id, n_terms_hit, score_q, score_q / 1000000.0 AS bm25
    FROM sc ORDER BY score_q DESC, id LIMIT 100
"""


def _q_url_template(spark, sf_dir):
    """Crawler-trap census: digit runs collapsed to N per synthetic
    url; per template fetches / distinct urls / max depth / min
    example — a calendar trap shows as one template with a huge
    distinct-url count."""
    from spartan2_spark.operators.text import url_template_stats

    u = _events(spark, sf_dir).select(
        F.concat_ws(
            "/",
            F.col("event_type"),
            (F.col("user_id") % 31).cast("string"),
            F.concat(F.lit("p"), (F.col("event_id") % 13).cast("string")),
        ).alias("url")
    )
    return url_template_stats(u, min_urls=2)


_URL_TEMPLATE_SQL = """
    WITH u AS (SELECT event_type || '/' ||
                        CAST(user_id % 31 AS VARCHAR) || '/' ||
                        'p' || CAST(event_id % 13 AS VARCHAR) AS url
               FROM events),
    b AS (SELECT regexp_replace(url, '[0-9]+', 'N', 'g') AS template,
                 url,
                 CAST(len(string_split(url, '/')) AS BIGINT) AS depth
          FROM u)
    SELECT template, count(*)::BIGINT AS fetches,
           count(DISTINCT url)::BIGINT AS distinct_urls,
           CAST(max(depth) AS BIGINT) AS max_depth,
           min(url) AS example_url
    FROM b GROUP BY template HAVING count(DISTINCT url) >= 2
"""


def _q_rolling_corr(spark, sf_dir):
    """Trailing 6-hour Pearson correlation between an event class's
    hourly volume and its hourly mean level
    (timeseries.rolling_corr): exact BIGINT moment sums in ONE
    key-partitioned running window; the only floats are the final
    num / (sqrt(dx)*sqrt(dy)) — the tier-state co-movement monitor."""
    from spartan2_spark.operators.timeseries import rolling_corr

    b = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
        )
        .select(
            "key",
            F.unix_timestamp("bucket_ts").alias("t_s"),
            "x",
            F.floor(F.col("sc").cast("double") / F.col("x").cast("double"))
            .cast("long")
            .alias("y"),
        )
    )
    return rolling_corr(
        b, key_col="key", order_col="t_s", x_col="x", y_col="y",
        window=6, step_s=3600,
    )


_ROLLING_CORR_SQL = """
    WITH b AS (SELECT event_type AS key,
                      CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t_s,
                      count(*)::BIGINT AS x,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
               FROM events GROUP BY 1, 2),
    m AS (SELECT key, t_s, x, sc // x AS y FROM b),
    w AS (SELECT key, t_s,
                 CAST(count(*) OVER win AS BIGINT) AS n,
                 CAST(sum(x) OVER win AS BIGINT) AS sx,
                 CAST(sum(y) OVER win AS BIGINT) AS sy,
                 CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
                 CAST(sum(y * y) OVER win AS BIGINT) AS syy,
                 CAST(sum(x * y) OVER win AS BIGINT) AS sxy
          FROM m
          WINDOW win AS (PARTITION BY key ORDER BY t_s
                         RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)),
    d AS (SELECT key, t_s, n, sx, sy,
                 n * sxx - sx * sx AS dx,
                 n * syy - sy * sy AS dy,
                 n * sxy - sx * sy AS num
          FROM w)
    SELECT key, t_s, n, sx, sy, dx, dy, num,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                THEN CAST(num AS DOUBLE)
                     / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
           END AS corr
    FROM d
"""


def _q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test over each event class's daily-sum
    series (timeseries.mann_kendall): S and the pair count are pure
    integer pairwise aggregation (one key-partitioned self-join), tau
    is one IEEE divide — the distribution-free drift triage for tier
    capacity."""
    from spartan2_spark.operators.timeseries import mann_kendall

    d = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("day", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .select("key", F.unix_timestamp("bucket_ts").alias("t_s"), "v")
    )
    return mann_kendall(d, key_col="key", order_col="t_s", value_col="v")


_MANN_KENDALL_SQL = """
    WITH d AS (SELECT event_type AS key,
                      CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS t,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    p AS (SELECT a.key AS key,
                 CAST(sum(CASE WHEN b.v > a.v THEN 1
                               WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat,
                 count(*)::BIGINT AS n_pairs
          FROM d a JOIN d b ON a.key = b.key AND a.t < b.t
          GROUP BY 1)
    SELECT key, s_stat, n_pairs,
           CAST(s_stat AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS tau
    FROM p
"""


def _q_forecast_backtest(spark, sf_dir):
    """Seasonal-naive (24h) vs naive (1h) backtest per event class on
    the hourly-sum tier (timeseries.forecast_backtest): gap-correct
    shifted equi-joins, exact BIGINT error sums, three single-divide
    ratios (mae / wmape / skill) — the scoreboard that validates the
    ses/holt_winters forecasters."""
    from spartan2_spark.operators.timeseries import forecast_backtest

    h = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .select("key", F.unix_timestamp("bucket_ts").alias("t_s"), "v")
    )
    return forecast_backtest(
        h, key_col="key", order_col="t_s", value_col="v",
        season_s=86400, step_s=3600,
    )


_FORECAST_BACKTEST_SQL = """
    WITH h AS (SELECT event_type AS key,
                      CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    j AS (SELECT a.key AS key, a.v AS v,
                 s.v AS f_seasonal, n.v AS f_naive
          FROM h a
          JOIN h s ON a.key = s.key AND a.t = s.t + 86400
          JOIN h n ON a.key = n.key AND a.t = n.t + 3600),
    g AS (SELECT key, count(*)::BIGINT AS n_eval,
                 CAST(sum(abs(v - f_seasonal)) AS BIGINT) AS sae_seasonal,
                 CAST(sum(abs(v - f_naive)) AS BIGINT) AS sae_naive,
                 CAST(sum(abs(v)) AS BIGINT) AS sum_abs_actual
          FROM j GROUP BY 1)
    SELECT key, n_eval, sae_seasonal, sae_naive, sum_abs_actual,
           CAST(sae_seasonal AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae,
           CASE WHEN sum_abs_actual > 0
                THEN CAST(sae_seasonal AS DOUBLE) / CAST(sum_abs_actual AS DOUBLE)
           END AS wmape,
           CASE WHEN sae_naive > 0
                THEN 1.0 - CAST(sae_seasonal AS DOUBLE) / CAST(sae_naive AS DOUBLE)
           END AS skill
    FROM g
"""


def _q_readability(spark, sf_dir):
    """Flesch reading-ease + FK grade per document
    (text.readability_scores): exact BIGINT regexp-run counts
    (words / vowel-group syllables / clamped sentences) feeding two
    fixed-order IEEE score expressions — per-row projection, no
    shuffle, whole-stage codegen."""
    from spartan2_spark.operators.text import readability_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return readability_scores(docs, id_col="doc_id", text_col="text")


_READABILITY_SQL = """
    WITH c AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                        AS words,
                      greatest(CAST(1 AS BIGINT),
                        CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                        AS sentences,
                      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                        AS syllables
               FROM documents)
    SELECT doc_id, words, sentences, syllables,
           CASE WHEN words > 0
                THEN 206.835
                     - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                     - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
           END AS flesch,
           CASE WHEN words > 0
                THEN 0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                     + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                     - 15.59
           END AS fk_grade
    FROM c
"""


def _q_politeness_plan(spark, sf_dir):
    """Politeness-constrained crawl-window feasibility per domain
    (rollup.politeness_plan): serialized (fetches-1)*delay_ms wall
    clock vs a 10-minute window at 500 ms crawl-delay; all-BIGINT,
    the ppm share is an explicit floor — one domain hash aggregate
    plus a broadcast scalar total."""
    from spartan2_spark.operators.rollup import politeness_plan

    pages = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url")
    )
    return politeness_plan(pages, delay_ms=500, deadline_s=600)


_POLITENESS_SQL = """
    WITH p AS (SELECT split_part('u' || user_id || '/' || event_type, '/', 1)
                        AS domain
               FROM events),
    per AS (SELECT domain, count(*)::BIGINT AS fetches,
                   CAST((count(*) - 1) * 500 AS BIGINT) AS crawl_ms
            FROM p GROUP BY 1),
    t AS (SELECT *, CAST(sum(crawl_ms) OVER () AS BIGINT) AS total_ms FROM per)
    SELECT domain, fetches, crawl_ms,
           CAST(600000 - crawl_ms AS BIGINT) AS slack_ms,
           CAST(CASE WHEN crawl_ms <= 600000 THEN 1 ELSE 0 END AS INT)
             AS feasible,
           CASE WHEN total_ms > 0
                THEN CAST(crawl_ms * 1000000 // total_ms AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS share_ppm
    FROM t
"""


def _q_snapshot_diff(spark, sf_dir):
    """Iceberg-style snapshot diff between two partition manifests
    (manifest.snapshot_diff): added/removed/changed/same per
    (event_type, day) partition from all-BIGINT counts + content CRCs;
    ONE manifest-sized full-outer join — the lineage primitive behind
    resume-without-recompute."""
    from spartan2_spark.operators.manifest import snapshot_diff

    part = F.concat(
        F.col("event_type"), F.lit("/"), F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    crc = F.sum(F.round(F.col("value") * 100).cast("long")).alias("crc")

    def manifest(df):
        return df.groupBy(part.alias("part")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"), crc
        )

    ev = _events(spark, sf_dir)
    snap_a = manifest(ev.filter(F.col("event_id") % 31 != 0))
    snap_b = manifest(
        ev.filter((F.col("event_id") % 37 != 0) & (F.dayofmonth("ts") > 2))
    )
    return snapshot_diff(snap_a, snap_b)


_SNAPSHOT_DIFF_SQL = """
    WITH a AS (SELECT event_type || '/' || strftime(ts, '%Y-%m-%d') AS part,
                      count(*)::BIGINT AS rows_a,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                        AS crc_a
               FROM events WHERE event_id % 31 <> 0 GROUP BY 1),
    b AS (SELECT event_type || '/' || strftime(ts, '%Y-%m-%d') AS part,
                 count(*)::BIGINT AS rows_b,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS crc_b
          FROM events WHERE event_id % 37 <> 0 AND day(ts) > 2 GROUP BY 1)
    SELECT coalesce(a.part, b.part) AS part, rows_a, rows_b, crc_a, crc_b,
           CASE WHEN rows_a IS NULL THEN 'added'
                WHEN rows_b IS NULL THEN 'removed'
                WHEN rows_a <> rows_b OR crc_a <> crc_b THEN 'changed'
                ELSE 'same' END AS status,
           CAST(coalesce(rows_b, 0) - coalesce(rows_a, 0) AS BIGINT)
             AS delta_rows
    FROM a FULL OUTER JOIN b ON a.part = b.part
"""


def _q_join_strategy_plan(spark, sf_dir):
    """Cost-based join layout decision (partitioning.join_strategy_plan):
    top-20 fact keys with exact ppm shares + ceil salt factors, dim
    measured with exact octet accounting, broadcast-vs-shuffle CASE —
    the engine's own salting/broadcast rules as an assertable
    relation."""
    from spartan2_spark.operators.partitioning import join_strategy_plan

    fact = _events(spark, sf_dir).select(
        (F.col("user_id") % 41).cast("long").alias("jkey")
    )
    dim = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return join_strategy_plan(
        fact, dim, key_col="jkey",
        broadcast_bytes=256 * 1024 * 1024,
        rows_per_task=500, skew_ppm=30_000, top_k=20,
    )


_JOIN_STRATEGY_SQL = """
    WITH pk AS (SELECT user_id % 41 AS key, count(*)::BIGINT AS cnt
                FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS fact_rows FROM pk),
    d AS (SELECT count(*)::BIGINT AS dim_rows,
                 -- typed byte model: INTEGER nation/region keys are 4 B
                 -- each (r5 per-type accounting), strings exact octets
                 CAST(sum(strlen(n_name) + 4 + 4) AS BIGINT) AS dim_bytes
          FROM nation),
    r AS (SELECT key, cnt,
                 row_number() OVER (ORDER BY cnt DESC, key ASC) AS rnk
          FROM pk)
    SELECT CAST(r.key AS VARCHAR) AS key, cnt, CAST(rnk AS INT) AS rnk,
           fact_rows, dim_rows, dim_bytes,
           CAST(cnt * 1000000 // fact_rows AS BIGINT) AS share_ppm,
           CAST((cnt + 499) // 500 AS BIGINT) AS salt_parts,
           CAST(CASE WHEN cnt * 1000000 // fact_rows > 30000
                     THEN 1 ELSE 0 END AS INT) AS salted,
           CASE WHEN dim_bytes <= 268435456 THEN 'broadcast'
                ELSE 'shuffle' END AS strategy
    FROM r, t, d WHERE rnk <= 20
"""


def _q_acf_multi(spark, sf_dir):
    """Multi-lag ACF per event class on the hourly-sum tier
    (timeseries.acf_multi): gap-correct shifted equi-joins at exact
    epoch lags 1h/2h/24h, exact BIGINT moments per (key, lag), ACF via
    split-sqrt — the seasonality detector feeding forecast_backtest."""
    from spartan2_spark.operators.timeseries import acf_multi

    h = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .select("key", F.unix_timestamp("bucket_ts").alias("t_s"), "v")
    )
    return acf_multi(h, lags_s=(3600, 7200, 86400))


_ACF_MULTI_SQL = """
    WITH h AS (SELECT event_type AS key,
                      CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    l AS (SELECT CAST(lag_s AS BIGINT) AS lag_s
          FROM (VALUES (3600), (7200), (86400)) AS v(lag_s)),
    p AS (SELECT a.key AS key, l.lag_s AS lag_s, a.v AS v, b.v AS v_lag
          FROM l, h a, h b
          WHERE a.key = b.key AND a.t = b.t + l.lag_s),
    g AS (SELECT key, lag_s, count(*)::BIGINT AS n,
                 CAST(sum(v) AS BIGINT) AS sx,
                 CAST(sum(v_lag) AS BIGINT) AS sy,
                 CAST(sum(v * v) AS BIGINT) AS sxx,
                 CAST(sum(v_lag * v_lag) AS BIGINT) AS syy,
                 CAST(sum(v * v_lag) AS BIGINT) AS sxy
          FROM p GROUP BY 1, 2),
    dd AS (SELECT key, lag_s, n,
                  n * sxx - sx * sx AS dx,
                  n * syy - sy * sy AS dy,
                  n * sxy - sx * sy AS num
           FROM g)
    SELECT key, lag_s, n,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                THEN CAST(num AS DOUBLE)
                     / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
           END AS acf
    FROM dd
"""


def _q_watermark_lag_audit(spark, sf_dir):
    """Watermark sizing audit per event class
    (timeseries.watermark_lag_audit): deterministic synthetic arrival
    jitter (0..3000 s from a Knuth-hash of event_id), exact late
    counts at 1x and 2x the 600 s watermark, floor ppm, one IEEE mean
    — the batch evidence behind every withWatermark() in streaming/."""
    from spartan2_spark.operators.timeseries import watermark_lag_audit

    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("event_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") * F.lit(2654435761)) % 3000 * F.lit(1_000_000)
        ).alias("arrival_us"),
    )
    return watermark_lag_audit(e, watermark_s=600)


_WATERMARK_LAG_SQL = """
    WITH e AS (SELECT event_type AS key,
                      epoch_us(ts) AS event_us,
                      epoch_us(ts) + (event_id * 2654435761) % 3000 * 1000000
                        AS arrival_us
               FROM events),
    d AS (SELECT key,
                 CAST(floor(CAST(arrival_us - event_us AS DOUBLE)
                            / 1000000.0) AS BIGINT) AS lag_s
          FROM e),
    g AS (SELECT key, count(*)::BIGINT AS n,
                 CAST(sum(CASE WHEN lag_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late,
                 CAST(sum(CASE WHEN lag_s > 1200 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late_2x,
                 CAST(max(lag_s) AS BIGINT) AS max_lag_s,
                 CAST(sum(lag_s) AS BIGINT) AS sum_lag_s
          FROM d GROUP BY 1)
    SELECT key, n, n_late, n_late_2x, max_lag_s,
           CAST(floor(CAST(n_late * 1000000 AS DOUBLE) / CAST(n AS DOUBLE))
                AS BIGINT) AS late_ppm,
           CAST(sum_lag_s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_lag_s
    FROM g
"""


def _q_traffic_tiers(spark, sf_dir):
    """Head/torso/tail crawl concentration (partitioning.traffic_tiers):
    integer-ceil tier cuts on the domain rank, exact floor ppm fetch
    shares — the skew report that sizes domain_salt_map and the
    politeness fleet."""
    from spartan2_spark.operators.partitioning import traffic_tiers

    pages = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url")
    )
    return traffic_tiers(pages, head_pct=1, torso_pct=10)


_TRAFFIC_TIERS_SQL = """
    WITH per AS (SELECT 'u' || user_id AS domain, count(*)::BIGINT AS cnt
                 FROM events GROUP BY 1),
    t AS (SELECT count(*)::BIGINT AS n_dom, CAST(sum(cnt) AS BIGINT) AS n_fetch
          FROM per),
    r AS (SELECT domain, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, domain ASC)
                      AS BIGINT) AS rnk
          FROM per),
    c AS (SELECT r.*, t.n_dom, t.n_fetch FROM r, t),
    tc AS (SELECT CASE WHEN rnk <= (n_dom * 1 + 99) // 100 THEN 'head'
                       WHEN rnk <= (n_dom * 10 + 99) // 100 THEN 'torso'
                       ELSE 'tail' END AS tier,
                  cnt, n_fetch
           FROM c)
    SELECT tier, count(*)::BIGINT AS n_domains,
           CAST(sum(cnt) AS BIGINT) AS fetches,
           CAST(CAST(sum(cnt) AS BIGINT) * 1000000 // max(n_fetch) AS BIGINT)
             AS share_ppm
    FROM tc GROUP BY 1
"""


def _q_tier_incremental_merge(spark, sf_dir):
    """Continuous-aggregate refresh (rollup.tier_merge): the stored 1h
    tier of days <= 20 merged with the rollup of the late raw (days
    > 20); the DuckDB twin computes the FULL 1h rollup directly, so
    twin equality IS the incremental-refresh == full-recompute proof
    (the property that lets the raw tier be touched once per bucket,
    ever). Union + ONE scalar hash aggregation."""
    pts = _event_points(spark, sf_dir)
    stored = R.rollup_from_points(
        pts.filter(F.dayofmonth("ts") <= 20), "1h"
    )
    late = R.rollup_from_points(
        pts.filter(F.dayofmonth("ts") > 20), "1h"
    )
    merged = R.tier_merge(stored, late)
    return R.tier_view(merged).select(
        F.col("url").alias("series_key"), _epoch(), "cnt", "vmin", "vmax",
        "vmean", "p95",
    )


def _q_cache_admission(spark, sf_dir):
    """LFU serving-cache admission curve (rollup.cache_admission_plan):
    top-50 urls by fetch count with exact BIGINT cumulative hits and
    floor ppm hit rate — rank, running sum, and fleet total all from
    one unpartitioned window pass over the url census."""
    from spartan2_spark.operators.rollup import cache_admission_plan

    pages = _events(spark, sf_dir).select(
        F.concat(
            F.lit("u"), F.col("user_id"), F.lit("/"), F.col("event_type")
        ).alias("url")
    )
    return cache_admission_plan(pages, capacity=50)


_CACHE_ADMISSION_SQL = """
    WITH per AS (SELECT 'u' || user_id || '/' || event_type AS url,
                        count(*)::BIGINT AS cnt
                 FROM events GROUP BY 1),
    r AS (SELECT url, cnt,
                 CAST(row_number() OVER w AS BIGINT) AS rnk,
                 CAST(sum(cnt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum_hits,
                 CAST(sum(cnt) OVER () AS BIGINT) AS total_fetches
          FROM per
          WINDOW w AS (ORDER BY cnt DESC, url ASC))
    SELECT url, rnk, cnt, cum_hits, total_fetches,
           CAST(cum_hits * 1000000 // total_fetches AS BIGINT) AS cum_hit_ppm
    FROM r WHERE rnk <= 50
"""


def _q_hits(spark, sf_dir):
    """Integer fixed-point HITS (graph.hits_fixedpoint) on the
    directed customer->supplier purchase graph: hubs = customers,
    authorities = suppliers; 3 rounds, max-rescale to 2^20 by integer
    DIV — bit-exact on any engine; fixed-unroll twin."""
    from spartan2_spark.operators.graph import hits_fixedpoint

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = _lineitem(spark, sf_dir)
    eo = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return hits_fixedpoint(eo, rounds=3, scale_bits=20)


def _hits_sql(rounds: int = 3, scale_bits: int = 20) -> str:
    scale = 1 << scale_bits
    parts = [
        "e AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS u, "
        "'s' || l_suppkey AS v FROM orders JOIN lineitem "
        "ON o_orderkey = l_orderkey)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e))",
        f"h0 AS (SELECT node, {scale}::BIGINT AS h FROM nodes)",
    ]
    prev_h = "h0"
    for r in range(1, rounds + 1):
        parts.append(
            f"a{r}r AS (SELECT n.node, CAST(coalesce(s.m, 0) AS BIGINT) AS a "
            f"FROM nodes n LEFT JOIN (SELECT e.v AS node, "
            f"CAST(sum(p.h) AS BIGINT) AS m FROM e JOIN {prev_h} p "
            f"ON e.u = p.node GROUP BY 1) s ON n.node = s.node)"
        )
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT node, CAST(a * {scale} // "
            f"greatest(1, (SELECT max(a) FROM a{r}r)) AS BIGINT) AS a "
            f"FROM a{r}r)"
        )
        parts.append(
            f"h{r}r AS (SELECT n.node, CAST(coalesce(s.m, 0) AS BIGINT) AS h "
            f"FROM nodes n LEFT JOIN (SELECT e.u AS node, "
            f"CAST(sum(p.a) AS BIGINT) AS m FROM e JOIN a{r} p "
            f"ON e.v = p.node GROUP BY 1) s ON n.node = s.node)"
        )
        parts.append(
            f"h{r} AS MATERIALIZED (SELECT node, CAST(h * {scale} // "
            f"greatest(1, (SELECT max(h) FROM h{r}r)) AS BIGINT) AS h "
            f"FROM h{r}r)"
        )
        prev_h = f"h{r}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT a{rounds}.node AS node, a{rounds}.a AS auth_mass, "
        f"h{rounds}.h AS hub_mass "
        f"FROM a{rounds} JOIN h{rounds} USING (node)"
    )


def _q_kmeans(spark, sf_dir):
    """Integer fixed-point Lloyd k-means over the embeddings table
    (similarity.kmeans_fixedpoint): basis-point quantization, exact
    integer squared distances, lowest-cluster-id tie break, explicit
    floor centroid updates — bit-exact on any engine; fixed-unroll
    twin (k=8, 2 Lloyd rounds + final assignment)."""
    from spartan2_spark.operators.similarity import kmeans_fixedpoint

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_fixedpoint(emb, k=8, rounds=2)


def _kmeans_sql(k: int = 8, rounds: int = 2, quant: int = 10_000) -> str:
    parts = [
        "pts AS MATERIALIZED (SELECT vec_id, "
        "CAST(unnest(range(len(embedding))) AS INT) AS dim, "
        f"CAST(round(CAST(unnest(embedding) AS DOUBLE) * {quant}) AS BIGINT) AS q "
        "FROM embeddings)",
        f"seeds AS (SELECT DISTINCT vec_id FROM pts ORDER BY vec_id LIMIT {k})",
        "c0 AS MATERIALIZED (SELECT p.vec_id AS cluster, p.dim, p.q AS c "
        "FROM pts p JOIN seeds s ON p.vec_id = s.vec_id)",
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        parts.append(
            f"dist{r} AS (SELECT p.vec_id, c.cluster, "
            f"CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS dist "
            f"FROM pts p JOIN {prev} c USING (dim) GROUP BY 1, 2)"
        )
        parts.append(
            f"best{r} AS (SELECT vec_id, min(dist) AS md FROM dist{r} GROUP BY 1)"
        )
        parts.append(
            f"asg{r} AS (SELECT d.vec_id, min(d.cluster) AS cluster "
            f"FROM dist{r} d JOIN best{r} b "
            f"ON d.vec_id = b.vec_id AND d.dist = b.md GROUP BY 1)"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT a.cluster, p.dim, "
            f"CAST(floor(CAST(sum(p.q) AS DOUBLE) / count(*)) AS BIGINT) AS c "
            f"FROM pts p JOIN asg{r} a ON p.vec_id = a.vec_id GROUP BY 1, 2)"
        )
        prev = f"c{r}"
    parts.append(
        f"distF AS (SELECT p.vec_id, c.cluster, "
        f"CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS dist "
        f"FROM pts p JOIN {prev} c USING (dim) GROUP BY 1, 2)"
    )
    parts.append(
        "bestF AS (SELECT vec_id, min(dist) AS md FROM distF GROUP BY 1)"
    )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT d.vec_id AS vec_id, CAST(min(d.cluster) AS BIGINT) AS cluster, "
        "CAST(min(b.md) AS BIGINT) AS dist_sq "
        "FROM distF d JOIN bestF b ON d.vec_id = b.vec_id AND d.dist = b.md "
        "GROUP BY 1"
    )


def _q_rollup_1w(spark, sf_dir):
    """Weekly retention tier via the full re-aggregable ladder
    (1m -> 1h -> 1d -> 1w from stored state only): extends the
    north-rule chain one hop; the DuckDB twin computes the week
    rollup directly from raw, so twin equality proves the THREE-hop
    tier-up is still exact."""
    t1m = R.rollup_from_points(_event_points(spark, sf_dir), "1m")
    t1w = R.rollup_tier_up(
        R.rollup_tier_up(R.rollup_tier_up(t1m, "1h"), "1d"), "1w"
    )
    return R.tier_view(t1w).select(
        F.col("url").alias("series_key"), _epoch(), "cnt", "vmin", "vmax",
        "vmean", "p95",
    )


def _q_source_vocab_overlap(spark, sf_dir):
    """Pairwise vocabulary Jaccard between corpus sources
    (text.source_vocab_overlap): exact distinct-token set sizes,
    inclusion-exclusion union, one IEEE divide — the mirror detector
    for corpus slices."""
    from spartan2_spark.operators.text import source_vocab_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_vocab_overlap(docs)


_SOURCE_VOCAB_SQL = """
    WITH toks AS (SELECT DISTINCT source AS src,
                         unnest(regexp_split_to_array(lower(text),
                                                      '[^a-z0-9]+')) AS tok
                  FROM documents),
    t AS (SELECT src, tok FROM toks WHERE tok <> ''),
    sizes AS (SELECT src, count(*)::BIGINT AS n FROM t GROUP BY 1),
    inter AS (SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS inter
              FROM t a JOIN t b ON a.tok = b.tok AND a.src < b.src
              GROUP BY 1, 2)
    SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.inter,
           CAST(sa.n + sb.n - i.inter AS BIGINT) AS union_n,
           CAST(i.inter AS DOUBLE)
             / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.src
    JOIN sizes sb ON i.src_b = sb.src
    WHERE i.inter >= 1
"""


def _q_cooccurrence_lift(spark, sf_dir):
    """Market-basket lift between event classes over distinct
    (user, event_type) incidence (funnel.cooccurrence_lift): exact
    BIGINT count products, one IEEE divide — the behavioral
    association matrix."""
    from spartan2_spark.operators.funnel import cooccurrence_lift

    return cooccurrence_lift(_events(spark, sf_dir))


_COOCCURRENCE_SQL = """
    WITH inc AS (SELECT DISTINCT user_id AS u, event_type AS it FROM events),
    nu AS (SELECT count(DISTINCT u)::BIGINT AS n_users FROM inc),
    per AS (SELECT it AS item, count(*)::BIGINT AS n FROM inc GROUP BY 1),
    pairs AS (SELECT a.it AS item_a, b.it AS item_b, count(*)::BIGINT AS n_ab
              FROM inc a JOIN inc b ON a.u = b.u AND a.it < b.it
              GROUP BY 1, 2)
    SELECT p.item_a, p.item_b, pa.n AS n_a, pb.n AS n_b, p.n_ab, nu.n_users,
           CAST(p.n_ab * nu.n_users AS DOUBLE)
             / CAST(pa.n * pb.n AS DOUBLE) AS lift
    FROM pairs p
    JOIN per pa ON p.item_a = pa.item
    JOIN per pb ON p.item_b = pb.item
    CROSS JOIN nu
"""


def _q_tier_amplification(spark, sf_dir):
    """Storage amplification of the raw->1m->1h->1d->1w ladder
    (rollup.tier_amplification_audit): exact state-row counts per
    level and floor ppm rows-per-raw ratios — the 'does this tier earn
    its storage' audit."""
    return R.tier_amplification_audit(
        _event_points(spark, sf_dir), tiers=("1m", "1h", "1d", "1w")
    )


_TIER_AMPLIFICATION_SQL = """
    WITH p AS (SELECT event_type AS url, ts,
                      CAST(round(value * 100) AS BIGINT) AS bin
               FROM events),
    lvl AS (
      SELECT 'raw' AS tier, count(*)::BIGINT AS state_rows FROM p
      UNION ALL
      SELECT '1m', count(*)::BIGINT FROM
        (SELECT DISTINCT url, date_trunc('minute', ts), bin FROM p)
      UNION ALL
      SELECT '1h', count(*)::BIGINT FROM
        (SELECT DISTINCT url, date_trunc('hour', ts), bin FROM p)
      UNION ALL
      SELECT '1d', count(*)::BIGINT FROM
        (SELECT DISTINCT url, date_trunc('day', ts), bin FROM p)
      UNION ALL
      SELECT '1w', count(*)::BIGINT FROM
        (SELECT DISTINCT url, date_trunc('week', ts), bin FROM p))
    SELECT tier, state_rows,
           CAST(floor(CAST(state_rows * 1000000 AS DOUBLE)
                      / (SELECT CAST(count(*) AS DOUBLE) FROM p))
                AS BIGINT) AS rows_per_raw_ppm
    FROM lvl
"""


def _q_bloom_fpr(spark, sf_dir):
    """Measured Bloom false-positive rate (dedup.bloom_fpr_audit):
    relational bitset from portable poly-hashed supplier keys
    (m=512, k=3), customer keys probed exactly — one summary row with
    exact floor-ppm load and FPR; the empirical check on
    bloom_filter_plan's sizing math."""
    from spartan2_spark.operators.dedup import bloom_fpr_audit

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("key")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("key")
    )
    return bloom_fpr_audit(sup, cust, m_bits=512, k_hashes=3)


_BLOOM_FPR_SQL = """
    WITH mem AS (SELECT DISTINCT 's' || s_suppkey AS key FROM supplier),
    prb AS (SELECT DISTINCT 'c' || c_custkey AS key FROM customer
            WHERE 'c' || c_custkey NOT IN (SELECT key FROM mem)),
    mh AS (SELECT key,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(key, ''),
                                   c -> ascii(c)::BIGINT)),
                    (a, x) -> (a * 31 + x) % 2147483647)
                  * 48271 % 2147483647 * 48271 % 2147483647 AS h
           FROM mem),
    bitset AS (SELECT DISTINCT unnest(list_value(
                 (h * 1 + 0) % 512, (h * 3 + 97) % 512,
                 (h * 5 + 194) % 512)) AS bit
               FROM mh),
    ph AS (SELECT key,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(key, ''),
                                   c -> ascii(c)::BIGINT)),
                    (a, x) -> (a * 31 + x) % 2147483647)
                  * 48271 % 2147483647 * 48271 % 2147483647 AS h
           FROM prb),
    ppos AS (SELECT DISTINCT key, unnest(list_value(
               (h * 1 + 0) % 512, (h * 3 + 97) % 512,
               (h * 5 + 194) % 512)) AS bit
             FROM ph),
    per AS (SELECT p.key, count(*)::BIGINT AS n_pos,
                   CAST(sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM ppos p LEFT JOIN bitset b ON p.bit = b.bit
            GROUP BY 1),
    s AS (SELECT count(*)::BIGINT AS n_probes,
                 CAST(sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_fp
          FROM per),
    bs AS (SELECT count(*)::BIGINT AS bits_set FROM bitset),
    nm AS (SELECT count(*)::BIGINT AS n_members FROM mem)
    SELECT CAST(512 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
           nm.n_members, bs.bits_set,
           CAST(floor(CAST(bs.bits_set * 1000000 AS DOUBLE) / 512.0)
                AS BIGINT) AS load_ppm,
           s.n_probes, s.n_fp,
           CAST(floor(CAST(s.n_fp * 1000000 AS DOUBLE)
                      / CAST(s.n_probes AS DOUBLE)) AS BIGINT) AS fpr_ppm
    FROM s, bs, nm
"""


def _q_sliding_quantile(spark, sf_dir):
    """Trailing-24h p90 per event class served from hourly pow2
    sketch state (histogram.sliding_hist_quantile): gap-correct
    epoch-bound range join over sketch rows (never raw), BIGINT
    histogram merge, integer bucket selection, one IEEE
    interpolation."""
    from spartan2_spark.operators.histogram import sliding_hist_quantile

    pts = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return sliding_hist_quantile(
        pts, window_buckets=24, bucket_s=3600, q_num=9, q_den=10
    )


_SLIDING_QUANTILE_SQL = """
    WITH p AS (SELECT event_type AS key,
                      CAST(floor(CAST(epoch(ts) AS DOUBLE) / 3600.0)
                           AS BIGINT) * 3600 AS t_s,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    h AS (SELECT key, t_s,
                 CASE WHEN v = 0 THEN 0 ELSE length(bin(v))::INT END AS b,
                 count(*)::BIGINT AS cnt
          FROM p WHERE v >= 0 GROUP BY 1, 2, 3),
    ends AS (SELECT DISTINCT key, t_s FROM h),
    m AS (SELECT e.key, e.t_s, s.b, CAST(sum(s.cnt) AS BIGINT) AS cnt
          FROM ends e JOIN h s
            ON e.key = s.key
           AND s.t_s >= e.t_s - 82800 AND s.t_s <= e.t_s
          GROUP BY 1, 2, 3),
    eb AS (SELECT key, t_s,
                  CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
                       ELSE (1::BIGINT << (b - 1)) END AS lo,
                  CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
                       ELSE (1::BIGINT << (b - 1))
                            + ((1::BIGINT << (b - 1)) - 1) END AS hi,
                  cnt
           FROM m),
    c AS (SELECT key, t_s, lo, hi, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY key, t_s ORDER BY lo
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY key, t_s) AS BIGINT)
                   AS total
          FROM eb),
    hit AS (SELECT *, row_number() OVER (PARTITION BY key, t_s ORDER BY lo)
                   AS rn
            FROM c WHERE 10 * cum >= 9 * total)
    SELECT key, t_s, total, lo AS bucket_lo, hi AS bucket_hi,
           lo + (hi - lo)
             * (CAST(9 * total - 10 * (cum - cnt) AS DOUBLE)
                / CAST(10 * cnt AS DOUBLE)) AS quantile
    FROM hit WHERE rn = 1
"""


def _q_modularity(spark, sf_dir):
    """Newman modularity of 4-round LPA communities
    (graph.modularity_score) on a deterministic banded ring over the
    user universe (each user linked to the next and the 3rd-next in
    user_id rank — the co-part graph is complete at small sf, which
    collapses LPA to one community and proves nothing): exact BIGINT
    per-community numerators (4*m*e_in - d_sum^2) so the global Q is
    an integer sum + ONE divide; fixed-unroll twin."""
    from spartan2_spark.operators.graph import (
        label_propagation,
        modularity_score,
    )

    users = _events(spark, sf_dir).select("user_id").distinct()
    r = users.select(
        "user_id",
        F.row_number().over(W.orderBy("user_id")).alias("rn"),
    )
    a, b = r.alias("a"), r.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.rn") == F.col("a.rn") + 1)
            | (F.col("b.rn") == F.col("a.rn") + 3),
        )
        .select(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        # barrier: LPA and the modularity aggregates both fan out from
        # this ring relation (node-count-sized) — checkpoint once
        .transform(_barrier)
    )
    labels = label_propagation(pairs, rounds=4)
    return modularity_score(pairs, labels)


def _modularity_sql(rounds: int = 4) -> str:
    parts = [
        "users AS (SELECT DISTINCT user_id FROM events)",
        "r AS (SELECT user_id, row_number() OVER (ORDER BY user_id) AS rn "
        "FROM users)",
        "e0 AS MATERIALIZED (SELECT a.user_id AS u, b.user_id AS v "
        "FROM r a JOIN r b ON b.rn = a.rn + 1 OR b.rn = a.rn + 3)",
        "e AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"v{k} AS (SELECT e.u AS node, l.label, count(*) AS cnt "
            f"FROM e JOIN l{k-1} l ON l.node = e.v GROUP BY 1, 2)"
        )
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY cnt DESC, label ASC) AS rn FROM v{k}) WHERE rn = 1)"
        )
    prefix = "WITH " + ",\n    ".join(parts)
    return (
        prefix
        + ",\n    "
        + f"""deg AS (SELECT u AS node, count(*)::BIGINT AS deg
               FROM e GROUP BY 1),
    mm AS (SELECT (count(*) // 2)::BIGINT AS m_edges FROM e),
    lab AS (SELECT node, label AS community FROM l{rounds}),
    ein AS (SELECT lu.community, count(*)::BIGINT AS e_in
            FROM e0 JOIN lab lu ON e0.u = lu.node
                    JOIN lab lv ON e0.v = lv.node
            WHERE lu.community = lv.community GROUP BY 1),
    ds AS (SELECT l.community, count(*)::BIGINT AS n_nodes,
                  CAST(sum(d.deg) AS BIGINT) AS d_sum
           FROM lab l JOIN deg d ON l.node = d.node GROUP BY 1)
    SELECT ds.community, ds.n_nodes,
           CAST(coalesce(ei.e_in, 0) AS BIGINT) AS e_in,
           ds.d_sum, mm.m_edges,
           CAST(4 * mm.m_edges * coalesce(ei.e_in, 0)
                - ds.d_sum * ds.d_sum AS BIGINT) AS num,
           CAST(4 * mm.m_edges * coalesce(ei.e_in, 0)
                - ds.d_sum * ds.d_sum AS DOUBLE)
             / CAST(4 * mm.m_edges * mm.m_edges AS DOUBLE) AS q_contrib
    FROM ds LEFT JOIN ein ei ON ds.community = ei.community CROSS JOIN mm"""
    )


def _q_asof_nearest(spark, sf_dir):
    """Nearest as-of join (timeseries.asof_join_nearest): every event
    aligned to its user's CLOSEST daily-noon snapshot, before or
    after, ties backward — union + two running last(ignoreNulls)
    passes on one key shuffle, exact integer microsecond gap compare;
    the twin replicates the union+window construction."""
    from spartan2_spark.operators.timeseries import asof_join_nearest

    e = _events_series(spark, sf_dir).select("key", "ts", "event_id")
    snaps = (
        _events_series(spark, sf_dir)
        .groupBy(
            "key",
            (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 12 HOURS")).alias("ts"),
        )
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("snap"))
    )
    out = asof_join_nearest(e, snaps, value_cols=("snap",))
    return out.select(
        "key",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("asof_ts_us"),
        F.col("snap_asof").alias("snap"),
        F.col("dir_asof").alias("dir"),
    )


_ASOF_NEAREST_SQL = """
    WITH e AS (SELECT user_id AS key, ts, event_id FROM events),
    snap AS (SELECT user_id AS key,
                    date_trunc('day', ts) + INTERVAL 12 HOUR AS ts,
                    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                      AS snap
             FROM events GROUP BY 1, 2),
    u AS (
      SELECT key, ts, event_id,
             CAST(NULL AS TIMESTAMP) AS bts, CAST(NULL AS BIGINT) AS bval,
             1 AS side
      FROM e
      UNION ALL
      SELECT key, ts, CAST(NULL AS BIGINT), ts, snap, 0 FROM snap),
    wv AS (SELECT key, ts, event_id, side,
                  last_value(bts IGNORE NULLS) OVER wb AS b_ts,
                  last_value(bval IGNORE NULLS) OVER wb AS b_val,
                  last_value(bts IGNORE NULLS) OVER wf AS f_ts,
                  last_value(bval IGNORE NULLS) OVER wf AS f_val
           FROM u
           WINDOW wb AS (PARTITION BY key ORDER BY ts ASC, side ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wf AS (PARTITION BY key ORDER BY ts DESC, side ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    pick AS (SELECT key, ts, event_id, b_ts, b_val, f_ts, f_val,
                    (b_ts IS NOT NULL AND (f_ts IS NULL OR
                      epoch_us(ts) - epoch_us(b_ts)
                        <= epoch_us(f_ts) - epoch_us(ts))) AS back
             FROM wv WHERE side = 1)
    SELECT key, event_id, epoch_us(ts) AS ts_us,
           epoch_us(CASE WHEN back THEN b_ts ELSE f_ts END) AS asof_ts_us,
           CASE WHEN back THEN b_val ELSE f_val END AS snap,
           CAST(CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
                     WHEN back AND epoch_us(ts) = epoch_us(b_ts) THEN 0
                     WHEN back THEN -1 ELSE 1 END AS INT) AS dir
    FROM pick
"""


def _q_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage per source (text.oov_rate): exact
    OOV occurrence fraction against the corpus-global top-200 vocab
    (df, tf, token ranking) — the tokenizer go/no-go number for a new
    corpus slice."""
    from spartan2_spark.operators.text import oov_rate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return oov_rate(docs, vocab_k=200)


_OOV_RATE_SQL = """
    WITH toks AS (SELECT source AS src, doc_id,
                         unnest(string_split(trim(lower(text)), ' ')) AS token
                  FROM documents),
    t AS (SELECT src, doc_id, token FROM toks WHERE token <> ''),
    census AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS df,
                      count(*)::BIGINT AS tf
               FROM t GROUP BY 1),
    vocab AS (SELECT token FROM
                (SELECT token, row_number() OVER (ORDER BY df DESC, tf DESC,
                                                  token ASC) AS rnk
                 FROM census)
              WHERE rnk <= 200),
    per AS (SELECT src, token, count(*)::BIGINT AS n FROM t GROUP BY 1, 2),
    g AS (SELECT per.src AS source,
                 CAST(sum(per.n) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN v.token IS NULL THEN per.n ELSE 0 END)
                      AS BIGINT) AS n_oov
          FROM per LEFT JOIN vocab v ON per.token = v.token
          GROUP BY 1)
    SELECT source, n_tokens, n_oov,
           CAST(floor(CAST(n_oov * 1000000 AS DOUBLE)
                      / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS oov_ppm
    FROM g
"""


def _q_packing_plan(spark, sf_dir):
    """Sequence-packing feasibility at ctx 512 over document lengths
    (text.packing_plan): pow2 length-bucket census + the exact
    bin-packing lower bound max(ceil(total/ctx), n_over_half) — the
    deterministic planning number any packer must respect."""
    from spartan2_spark.operators.text import packing_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return packing_plan(docs, ctx_len=512)


_PACKING_PLAN_SQL = """
    WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len
               FROM documents WHERE n_chars > 0),
    per AS (SELECT length(bin(len))::INT AS bucket,
                   count(*)::BIGINT AS docs,
                   CAST(sum(len) AS BIGINT) AS tokens,
                   CAST(sum(CASE WHEN len * 2 > 512 THEN 1 ELSE 0 END)
                        AS BIGINT) AS over_half,
                   CAST(sum(CASE WHEN len > 512 THEN 1 ELSE 0 END)
                        AS BIGINT) AS truncated
            FROM d GROUP BY 1),
    t AS (SELECT bucket, docs, tokens,
                 CAST(sum(tokens) OVER () AS BIGINT) AS total_tokens,
                 CAST(sum(over_half) OVER () AS BIGINT) AS n_over_half,
                 CAST(sum(truncated) OVER () AS BIGINT) AS n_truncated
          FROM per)
    SELECT bucket, (1::BIGINT << (bucket - 1)) AS bucket_lo, docs, tokens,
           total_tokens, n_truncated, CAST(512 AS BIGINT) AS ctx_len,
           greatest(
             CAST(floor(CAST(total_tokens + 511 AS DOUBLE) / 512.0) AS BIGINT),
             n_over_half) AS bins_lower_bound
    FROM t
"""


def _q_filter_funnel(spark, sf_dir):
    """C4 cleaning-filter survival funnel (text.filter_funnel over
    text.c4_line_filters): ordered stages charge each doc's loss to
    the FIRST filter it fails; entered/failed/surviving + floor-ppm
    local fail rate per stage from ONE global aggregate."""
    from spartan2_spark.operators.text import c4_line_filters, filter_funnel

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flags = c4_line_filters(d)
    stages = [
        ("low_end_punct", F.col("end_punct_frac") < 0.2),
        ("curly_brace", F.col("has_curly") == 1),
        ("lorem_ipsum", F.col("has_lorem") == 1),
        ("javascript", F.col("has_javascript") == 1),
        ("short_lines", F.col("short_line_frac") > 0.5),
    ]
    return filter_funnel(flags, stages)


def _filter_funnel_sql() -> str:
    # reuse the C4 flag construction (t, f CTEs) from the c4_filters
    # twin; swap its final per-doc SELECT for the funnel aggregation
    base = _C4_FILTERS_SQL[: _C4_FILTERS_SQL.rindex("SELECT")].rstrip()
    assert base.endswith(")"), base[-40:]
    return (
        base
        + """,
    ff AS (SELECT CASE WHEN end_punct_frac < 0.2 THEN 1
                       WHEN has_curly = 1 THEN 2
                       WHEN has_lorem = 1 THEN 3
                       WHEN has_javascript = 1 THEN 4
                       WHEN short_line_frac > 0.5 THEN 5
                       ELSE 0 END AS ff
           FROM f),
    g AS (SELECT
      CAST(sum(CASE WHEN ff = 0 OR ff >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
      CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      CAST(sum(CASE WHEN ff = 0 OR ff >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
      CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      CAST(sum(CASE WHEN ff = 0 OR ff >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS e3,
      CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
      CAST(sum(CASE WHEN ff = 0 OR ff >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS e4,
      CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
      CAST(sum(CASE WHEN ff = 0 OR ff >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS e5,
      CAST(sum(CASE WHEN ff = 5 THEN 1 ELSE 0 END) AS BIGINT) AS f5
      FROM ff),
    rows AS (
      SELECT 'low_end_punct' AS stage, 1 AS rank, e1 AS entered, f1 AS failed FROM g
      UNION ALL SELECT 'curly_brace', 2, e2, f2 FROM g
      UNION ALL SELECT 'lorem_ipsum', 3, e3, f3 FROM g
      UNION ALL SELECT 'javascript', 4, e4, f4 FROM g
      UNION ALL SELECT 'short_lines', 5, e5, f5 FROM g)
    SELECT stage, CAST(rank AS INT) AS rank, entered, failed,
           CAST(entered - failed AS BIGINT) AS surviving,
           CASE WHEN entered > 0
                THEN CAST(floor(CAST(failed * 1000000 AS DOUBLE)
                                / CAST(entered AS DOUBLE)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS fail_ppm
    FROM rows"""
    )


def _q_rich_club(spark, sf_dir):
    """Rich-club coefficient ladder on the sampled co-part graph
    (graph.rich_club): exact induced-subgraph densities above degree
    cuts 2/4/8/16 — the hub-core connectivity audit next to
    degree_assortativity; twin replays the same cuts over the shared
    MATERIALIZED edge CTE."""
    from spartan2_spark.operators.graph import rich_club

    return rich_club(_sampled_copart_edges(spark, sf_dir))


def _rich_club_sql(cuts: tuple[int, ...] = (2, 4, 8, 16)) -> str:
    rows = []
    for k in cuts:
        rows.append(
            f"(SELECT CAST({k} AS BIGINT) AS k, "
            f"(SELECT count(*)::BIGINT FROM deg WHERE deg > {k}) AS n_k, "
            f"(SELECT count(*)::BIGINT FROM e "
            f" WHERE u IN (SELECT node FROM deg WHERE deg > {k}) "
            f"   AND v IN (SELECT node FROM deg WHERE deg > {k})) AS e_k)"
        )
        # phi computed in the outer select from the exact counts
    union = "\n      UNION ALL ".join(rows)
    return (
        "WITH "
        + _COPART_E_CTE.strip()
        + """,
    sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u AS node, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
    cuts AS ("""
        + union
        + """)
    SELECT k, n_k, e_k,
           CASE WHEN n_k >= 2
                THEN CAST(2 * e_k AS DOUBLE)
                     / CAST(n_k * (n_k - 1) AS DOUBLE)
           END AS phi
    FROM cuts"""
    )


def _q_ooo_rate(spark, sf_dir):
    """Out-of-order ingestion audit (timeseries.ooo_rate): events
    walked in synthetic arrival order (the watermark_lag_audit jitter
    family), exact adjacent-inversion counts + floor ppm + deepest
    regression — the ordering complement of the lateness audit."""
    from spartan2_spark.operators.timeseries import ooo_rate

    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("event_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") * F.lit(2654435761)) % 3000 * F.lit(1_000_000)
        ).alias("arrival_seq"),
    )
    return ooo_rate(e)


_OOO_RATE_SQL = """
    WITH e AS (SELECT event_type AS key,
                      epoch_us(ts) AS t,
                      epoch_us(ts) + (event_id * 2654435761) % 3000 * 1000000
                        AS arr
               FROM events),
    d AS (SELECT key, t,
                 lag(t) OVER (PARTITION BY key ORDER BY arr ASC, t ASC)
                   AS prev_t
          FROM e),
    g AS (SELECT key, count(*)::BIGINT AS n,
                 CAST(sum(CASE WHEN prev_t IS NOT NULL AND t < prev_t
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
                 max(CASE WHEN t < prev_t THEN prev_t - t END)
                   AS max_regression_us
          FROM d GROUP BY 1)
    SELECT key, n, n_inversions,
           CAST(floor(CAST(n_inversions * 1000000 AS DOUBLE)
                      / CAST(n AS DOUBLE)) AS BIGINT) AS inversion_ppm,
           CAST(coalesce(max_regression_us, 0) AS BIGINT) AS max_regression_us
    FROM g
"""


def _q_week_over_week(spark, sf_dir):
    """Week-over-week growth served from the 1w tier
    (timeseries.week_over_week over the full tier-up chain): exact
    calendar-week shift join (never lag-by-ROWS), BIGINT deltas, one
    IEEE ratio — the report the long-retention tier exists for."""
    from spartan2_spark.operators.timeseries import week_over_week

    t1m = R.rollup_from_points(_event_points(spark, sf_dir), "1m")
    t1w = R.rollup_tier_up(
        R.rollup_tier_up(R.rollup_tier_up(t1m, "1h"), "1d"), "1w"
    )
    return week_over_week(t1w)


_WOW_SQL = """
    WITH wk AS (SELECT event_type AS key,
                       date_trunc('week', ts) AS week_ts,
                       count(*)::BIGINT AS cnt,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                         AS vsum
                FROM events GROUP BY 1, 2)
    SELECT a.key, CAST(epoch(a.week_ts) AS BIGINT) AS week_s,
           a.cnt, a.vsum,
           b.cnt AS prev_cnt, b.vsum AS prev_vsum,
           CAST(a.cnt - coalesce(b.cnt, 0) AS BIGINT) AS cnt_delta,
           CASE WHEN b.cnt > 0
                THEN CAST(a.cnt AS DOUBLE) / CAST(b.cnt AS DOUBLE)
           END AS cnt_ratio
    FROM wk a LEFT JOIN wk b
      ON a.key = b.key AND a.week_ts = b.week_ts + INTERVAL 7 DAY
"""


def _q_pacf(spark, sf_dir):
    """PACF at lags 1-3h per event class (timeseries.pacf3): the
    closed-form Durbin-Levinson unroll over the exact-moment hourly
    ACF — a FIXED IEEE expression tree both engines evaluate
    identically; the AR-order diagnostic completing the ACF/backtest
    family."""
    from spartan2_spark.operators.timeseries import pacf3

    h = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .select("key", F.unix_timestamp("bucket_ts").alias("t_s"), "v")
    )
    return pacf3(h, step_s=3600)


_PACF_SQL = """
    WITH h AS (SELECT event_type AS key,
                      CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
    l AS (SELECT CAST(lag_s AS BIGINT) AS lag_s
          FROM (VALUES (3600), (7200), (10800)) AS v(lag_s)),
    p AS (SELECT a.key AS key, l.lag_s AS lag_s, a.v AS v, b.v AS v_lag
          FROM l, h a, h b
          WHERE a.key = b.key AND a.t = b.t + l.lag_s),
    g AS (SELECT key, lag_s, count(*)::BIGINT AS n,
                 CAST(sum(v) AS BIGINT) AS sx,
                 CAST(sum(v_lag) AS BIGINT) AS sy,
                 CAST(sum(v * v) AS BIGINT) AS sxx,
                 CAST(sum(v_lag * v_lag) AS BIGINT) AS syy,
                 CAST(sum(v * v_lag) AS BIGINT) AS sxy
          FROM p GROUP BY 1, 2),
    dd AS (SELECT key, lag_s, n,
                  n * sxx - sx * sx AS dx,
                  n * syy - sy * sy AS dy,
                  n * sxy - sx * sy AS num
           FROM g),
    acf AS (SELECT key, lag_s,
                   CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                        THEN CAST(num AS DOUBLE)
                             / (sqrt(CAST(dx AS DOUBLE))
                                * sqrt(CAST(dy AS DOUBLE)))
                   END AS r
            FROM dd),
    wide AS (SELECT key,
                    max(CASE WHEN lag_s = 3600 THEN r END) AS r1,
                    max(CASE WHEN lag_s = 7200 THEN r END) AS r2,
                    max(CASE WHEN lag_s = 10800 THEN r END) AS r3
             FROM acf GROUP BY 1),
    lev AS (SELECT key, r1, r2, r3,
                   r1 AS phi11,
                   (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
            FROM wide),
    lev2 AS (SELECT *, phi11 - phi22 * phi11 AS phi21 FROM lev)
    SELECT key, r1, r2, r3,
           phi11 AS pacf1,
           CASE WHEN (1.0 - r1 * r1) <> 0 THEN phi22 END AS pacf2,
           CASE WHEN (1.0 - r1 * r1) <> 0
                 AND (1.0 - phi21 * r1 - phi22 * r2) <> 0
                THEN (r3 - phi21 * r2 - phi22 * r1)
                     / (1.0 - phi21 * r1 - phi22 * r2)
           END AS pacf3
    FROM lev2
"""


# ROTATION r5 (SURVEY.md rotation plan, executed): the driver gate checks
# the FIRST 50 entries of queries() only. r3's gate covered its then-front
# 50 (CORRECTNESS_r03.json), r4 fronted a disjoint 50 (CORRECTNESS_r04.json).
# This round fronts the 50 never-driver-checked value-exact queries
# enumerated in SURVEY.md's r5 instructions, in the written order. The
# underlying registry dict below keeps its r4 grouping for diff-friendliness;
# queries() reorders it so _R5_GATE_FRONT comes first and everything else
# follows in registry order. tests/test_rotation.py asserts the front-50
# match this list exactly and overlap neither r3's nor r4's gate set.
_R5_GATE_FRONT = [
    "gauge_delta", "predict_linear", "xor_bitwidth_stats", "tier_freshness",
    "heavy_change_topk", "tier_serving_plan", "tier_mode", "tier_purge_plan",
    "tier_consistency_audit", "monlad_cfd", "ses_forecast",
    "substring_dedup_spans", "xcorr_lagged", "adamic_adar_linkpred",
    "theilsen_trend", "changepoint_binary", "source_mix_sample",
    "tier_compaction_plan", "counter_rate", "counter_rate_buckets",
    "peak_window_count", "burn_rate_alerts", "url_frontcode_plan",
    "recrawl_plan", "rle_plan", "roaring_container_plan",
    "snapshot_expiry_plan", "bucket_coverage", "boilerplate_lines",
    "time_weighted_avg", "late_repair_plan", "url_churn", "ppr_fixedpoint",
    "histogram_quantile_p90", "shard_pack_plan", "uptime_sla",
    "dod_bitwidth_stats", "pmi_collocations", "lsh_label_purity",
    "doc_entropy", "clustering_coeff", "burst_islands", "session_stats",
    "weighted_sample", "paragraph_dedup", "partition_split_plan",
    "dict_encoding_plan", "pow2_hist_quantile", "url_version_intervals",
    "outlink_domain_graph",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _registry()
    ordered = {k: base[k] for k in _R5_GATE_FRONT}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- block 1: r4 driver gate (r3 positions 51-100, locally
        # oracle-verified in ORACLE_LOCAL_r03.json, never driver-checked) ---
        "vocab_topk": _q_vocab_topk,
        "hash_sample": _q_hash_sample,
        "lttb_downsample": _q_lttb,
        "countmin_heavy_hitters": _q_countmin,
        "interval_join_windows": _q_interval_join,
        "triangle_counts_sampled": _q_triangles,
        "pagerank_fixedpoint": _q_pagerank,
        "ktruss_edges": _q_ktruss,
        "benchmark_decontaminate": _q_decontaminate,
        "sorted_neighborhood_pairs": _q_sorted_neighborhood,
        "rolling_stats": _q_rolling_stats,
        "ewma_dyadic": _q_ewma,
        "linear_counting": _q_linear_counting,
        "label_propagation": _q_label_propagation,
        "exact_percentiles": _q_exact_percentiles,
        "markov_transitions": _q_markov_transitions,
        "pii_scrub": _q_pii_scrub,
        "canonicalize_url": _q_canonicalize_url,
        "cusum_drift": _q_cusum_drift,
        "stratified_sample": _q_stratified_sample,
        "benford_digits": _q_benford_digits,
        "zorder_keys": _q_zorder_keys,
        "haar_coeffs": _q_haar_coeffs,
        "type_entropy": _q_type_entropy,
        "cube_aggregate": _q_cube_aggregate,
        "ntile_buckets": _q_ntile_buckets,
        "funnel_conversion": _q_funnel_conversion,
        "cohort_retention": _q_cohort_retention,
        "topk_per_user": _q_topk_per_user,
        "session_paths": _q_session_paths,
        "bloom_semi_join": _q_bloom_semi_join,
        "hll_distinct": _q_hll_distinct,
        "kmv_distinct": _q_kmv_distinct,
        "winnowing_fingerprint": _q_winnowing,
        "levenshtein_pairs": _q_levenshtein_pairs,
        "seasonal_profile": _q_seasonal_profile,
        "m4_downsample": _q_m4_downsample,
        "stl_seasonal": _q_stl_seasonal,
        "corpus_cross_entropy": _q_cross_entropy,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "mad_outliers": _q_mad_outliers,
        "linear_trend": _q_linear_trend,
        "ngram_containment_pairs": _q_ngram_containment,
        "key_skew_profile": _q_key_skew_profile,
        "seasonal_anomaly": _q_seasonal_anomaly,
        "psi_drift": _q_psi_drift,
        "fano_burstiness": _q_fano_burstiness,
        "gini_concentration": _q_gini_concentration,
        "zipf_slope": _q_zipf_slope,
        "vocab_hapax": _q_vocab_hapax,
        # --- block 2: r5 gate candidates (r3 positions 101-153; insert
        # new r4 queries HERE, at the head) ---
        "tier_incremental_merge": _q_tier_incremental_merge,
        "cache_admission_plan": _q_cache_admission,
        "hits_scores": _q_hits,
        "kmeans_clusters": _q_kmeans,
        "rollup_1w_tierup": _q_rollup_1w,
        "source_vocab_overlap": _q_source_vocab_overlap,
        "cooccurrence_lift": _q_cooccurrence_lift,
        "tier_amplification_audit": _q_tier_amplification,
        "bloom_fpr_audit": _q_bloom_fpr,
        "sliding_hist_quantile": _q_sliding_quantile,
        "modularity_score": _q_modularity,
        "rich_club": _q_rich_club,
        "ooo_rate": _q_ooo_rate,
        "week_over_week": _q_week_over_week,
        "pacf_lags": _q_pacf,
        "asof_join_nearest": _q_asof_nearest,
        "oov_rate": _q_oov_rate,
        "packing_plan": _q_packing_plan,
        "filter_funnel": _q_filter_funnel,
        "snapshot_diff": _q_snapshot_diff,
        "join_strategy_plan": _q_join_strategy_plan,
        "acf_multi": _q_acf_multi,
        "watermark_lag_audit": _q_watermark_lag_audit,
        "traffic_tiers": _q_traffic_tiers,
        "rolling_corr": _q_rolling_corr,
        "mann_kendall": _q_mann_kendall,
        "forecast_backtest": _q_forecast_backtest,
        "readability_scores": _q_readability,
        "politeness_plan": _q_politeness_plan,
        "gauge_delta": _q_gauge_delta,
        "predict_linear": _q_predict_linear,
        "xor_bitwidth_stats": _q_xor_stats,
        "tier_freshness": _q_tier_freshness,
        "heavy_change_topk": _q_heavy_change,
        "tier_serving_plan": _q_tier_serving_plan,
        "tier_mode": _q_tier_mode,
        "matrix_profile_discords": _q_matrix_profile,
        "matrix_profile_motifs": _q_matrix_motifs,
        "tier_purge_plan": _q_purge_plan,
        "tier_consistency_audit": _q_tier_audit,
        "monlad_cfd": _q_monlad_cfd,
        "eaglemine_describe_trunc": _q_eaglemine_describe_trunc,
        "eaglemine_describe_dtm": _q_eaglemine_describe_dtm,
        "eaglemine_anderson": _q_eaglemine_anderson,
        "beatgan_ae_recon": _q_beatgan_ae,
        "beatgan_gan_recon": _q_beatgan_gan,
        "cubeflow_plus": _q_cubeflow_plus,
        "ses_forecast": _q_ses_forecast,
        "holt_winters_forecast": _q_holt_winters,
        "substring_dedup_spans": _q_substring_spans,
        "substring_dedup_clean": _q_substring_clean,
        "xcorr_lagged": _q_xcorr,
        "adamic_adar_linkpred": _q_adamic_adar,
        "theilsen_trend": _q_theilsen,
        "changepoint_binary": _q_changepoint,
        "source_mix_sample": _q_source_mix,
        "mix_alpha_weights": _q_mix_alpha,
        "tier_compaction_plan": _q_compaction_plan,
        "counter_rate": _q_counter_rate,
        "counter_rate_buckets": _q_counter_rate_buckets,
        "peak_window_count": _q_peak_window,
        "burn_rate_alerts": _q_burn_rate,
        "url_frontcode_plan": _q_frontcode,
        "recrawl_plan": _q_recrawl_plan,
        "rle_plan": _q_rle_plan,
        "roaring_container_plan": _q_roaring_plan,
        "snapshot_expiry_plan": _q_snapshot_expiry,
        "bucket_coverage": _q_bucket_coverage,
        "boilerplate_lines": _q_boiler_lines,
        "boilerplate_strip": _q_boiler_strip,
        "time_weighted_avg": _q_twa,
        "late_repair_plan": _q_late_repair,
        "url_churn": _q_url_churn,
        "ppr_fixedpoint": _q_ppr,
        "histogram_quantile_p90": _q_hist_quantile,
        "shard_pack_plan": _q_shard_pack,
        "uptime_sla": _q_uptime,
        "dod_bitwidth_stats": _q_dod_stats,
        "pmi_collocations": _q_pmi_collocations,
        "lsh_label_purity": _q_lsh_label_purity,
        "doc_entropy": _q_doc_entropy,
        "lm_perplexity": _q_lm_perplexity,
        "clustering_coeff": _q_clustering_coeff,
        "burst_islands": _q_burst_islands,
        "session_stats": _q_session_stats,
        "weighted_sample": _q_weighted_sample,
        "ivf_topk": _q_ivf_topk,
        "holoscope_shaving": _q_holoscope_shaving,
        "rollup_1m": _q_rollup_1m,
        "rollup_1h_tierup": _q_rollup_1h,
        "rollup_1d_tierup": _q_rollup_1d,
        "gorilla_roundtrip": _q_gorilla_roundtrip,
        "gorilla_read_range": _q_gorilla_read_range,
        "gapfill_ffill": _q_gapfill_ffill,
        "gapfill_interp": _q_gapfill_interp,
        "sessionize": _q_sessionize,
        "multimodal_features": _q_multimodal_features,
        "iat_stats": _q_iat_stats,
        "iat_hist": _q_iat_hist,
        "topk_users": _q_topk_users,
        "tpch_q1_pricing": _q_tpch_q1,
        "revenue_join": _q_revenue_join,
        "anti_join_customers": _q_anti_join,
        "semi_join_suppliers": _q_semi_join,
        "concat_union": _q_concat_union,
        "combine_join": _q_combine_join,
        "mean_var_sink": _q_mean_var_sink,
        "rating_digitize": _q_rating_digitize,
        "sliding_window_count": _q_sliding_window,
        "kcore_peel": _q_kcore,
        "svd_power_spokes": _q_svd_spokes,
        "graph_summarize_lsh": _q_graph_summarize,
        "dpgs_merge_refine": _q_dpgs_merge_refine,
        "kgrass_merge_refine": _q_kgrass_merge_refine,
        "embedding_neardup_pairs": _q_embedding_neardup,
        "holoscope_fusion": _q_holoscope_fusion,
        "canonical_text": _q_canonical_text,
        "flow_balance": _q_flow_balance,
        "flow_top_mids": _q_flow_top_mids,
        "rpeak_segments": _q_rpeak_segments,
        "beatgan_recon": _q_beatgan_recon,
        "eaglemine_clusters": _q_eaglemine_clusters,
        "eaglemine_stitch": _q_eaglemine_stitch,
        "specgreedy_block": _q_specgreedy,
        "kgrass_summary": _q_kgrass,
        "score_level_users": _q_score_level_users,
        "cumprod_daily": _q_cumprod_daily,
        "rank_fusion_sum": _q_rank_fusion_sum,
        "flow_peel_block": _q_flow_peel_block,
        "rpeak_hamilton": _q_rpeak_hamilton,
        "beatgan_subspace": _q_beatgan_subspace,
        "html_extract_text": _q_html_extract,
        # --- block 3: driver-verified green in r3 (CORRECTNESS_r03.json) ---
        "burst_involvement": _q_burst_involvement,
        "eaglemine_describe": _q_eaglemine_describe,
        "holoscope_objective": _q_holoscope_objective,
        "degree_dist": _q_degree_dist,
        "adjacency_collapse": _q_adjacency_collapse,
        "dedup_exact": _q_dedup_exact,
        "token_count": _q_token_count,
        "normalize_minmax": _q_normalize_minmax,
        "running_extremes": _q_running_max,
        "cut_range": _q_cut_range,
        "time_bucket_equal_width": _q_time_bucket_equal_width,
        "iat_pairs": _q_iat_pairs,
        "infer_freq": _q_infer_freq,
        "dict_encode": _q_dict_encode,
        "resample_fourier": _q_resample_fourier,
        "beatlex_summarize": _q_beatlex_summarize,
        "eigenpulse_density": _q_eigenpulse_density,
        "monlad_zeroout": _q_monlad_zeroout,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "cosine_topk": _q_cosine_topk,
        "minhash_dedup_pairs": _q_minhash_dedup,
        "simhash_dedup_pairs": _q_simhash_dedup,
        "ann_topk": _q_ann_topk,
        "doc_fingerprint": _q_doc_fingerprint,
        "hist1d_clamped": _q_hist1d,
        "hist2d_log": _q_hist2d_peak,
        "suspicious_users_iqr": _q_suspicious_users,
        "kl_divergence": _q_kl_divergence,
        "rank_fusion_rrf": _q_rank_fusion,
        "burst_peak": _q_burst_peak,
        "densest_subgraph": _q_densest_subgraph,
        "tdigest_quantiles": _q_tdigest_quantiles,
        "agg_ts_list": _q_agg_ts_list,
        "cumsum_daily": _q_cumsum_daily,
        "pivot_rollup": _q_pivot_rollup,
        "graph_difference": _q_graph_difference,
        "subgraph_reindex": _q_subgraph_reindex,
        "eaglemine_gof": _q_eaglemine_gof,
        "flowscope_peel": _q_flowscope_peel,
        "dedup_clusters": _q_dedup_clusters,
        "dpgs_summarize_fixpoint": _q_dpgs_summarize_fixpoint,
        "repetition_stats": _q_repetition_stats,
        "c4_filters": _q_c4_filters,
        "paa_segments": _q_paa_segments,
        "sax_words": _q_sax_words,
        "autocorr_lag": _q_autocorr_lag,
        "spokes_fixedpoint": _q_spokes_fixedpoint,
        "asof_join_quotes": _q_asof_join,
        "paragraph_dedup": _q_paragraph_dedup,
        "partition_split_plan": _q_partition_split_plan,
        "dict_encoding_plan": _q_dict_encoding_plan,
        "pow2_hist_quantile": _q_pow2_quantile,
        "url_version_intervals": _q_url_versions,
        "neighbor_jaccard": _q_neighbor_jaccard,
        "outlink_domain_graph": _q_outlink_graph,
        "hysteresis_intervals": _q_hysteresis,
        "ks_drift": _q_ks_drift,
        "apdex_score": _q_apdex,
        "first_seen_rate": _q_first_seen,
        "postings_plan": _q_postings,
        "bloom_filter_plan": _q_bloom_plan,
        "crawl_budget_apportion": _q_crawl_budget,
        "rolling_median": _q_rolling_median,
        "counter_changes": _q_counter_changes,
        "dedup_keep_best": _q_dedup_keep_best,
        "degree_assortativity": _q_degree_assortativity,
        "frontier_interleave": _q_frontier_interleave,
        "phrase_match": _q_phrase_match,
        "ohlc_bars": _q_ohlc_bars,
        "url_path_rollup": _q_url_path_rollup,
        "dup_rate_by_source": _q_dup_rate_by_source,
        "ngram_novelty": _q_ngram_novelty,
        "interval_concurrency": _q_interval_concurrency,
        "weighted_percentiles": _q_weighted_percentiles,
        "graph_reciprocity": _q_graph_reciprocity,
        "hll_tier_distinct": _q_hll_tier_distinct,
        "bm25_scores": _q_bm25,
        "url_template_stats": _q_url_template,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rollup_1m": _rollup_oracle("minute"),
        "rollup_1h_tierup": _rollup_oracle("hour"),
        "rollup_1d_tierup": _rollup_oracle("day"),
        "gapfill_ffill": _GAPFILL_FFILL_SQL,
        "gapfill_interp": _GAPFILL_INTERP_SQL,
        "iat_stats": _IAT_STATS_SQL,
        "iat_hist": _IAT_HIST_SQL,
        "topk_users": _TOPK_USERS_SQL,
        "tpch_q1_pricing": _TPCH_Q1_SQL,
        "revenue_join": _REVENUE_JOIN_SQL,
        "anti_join_customers": _ANTI_JOIN_SQL,
        "semi_join_suppliers": _SEMI_JOIN_SQL,
        "degree_dist": _DEGREE_DIST_SQL,
        "adjacency_collapse": _ADJ_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "token_count": _TOKEN_COUNT_SQL,
        "normalize_minmax": _NORMALIZE_SQL,
        "running_extremes": _RUNNING_MAX_SQL,
        "sessionize": _SESSIONIZE_SQL,
        "cut_range": _CUT_RANGE_SQL,
        "time_bucket_equal_width": _TIME_BUCKET_SQL,
        "iat_pairs": _IAT_PAIRS_SQL,
        "infer_freq": _INFER_FREQ_SQL,
        "dict_encode": _DICT_ENCODE_SQL,
        "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
        "quality_score": _QUALITY_SQL,
        "repetition_stats": _REPETITION_SQL,
        "c4_filters": _C4_FILTERS_SQL,
        "paa_segments": _PAA_SQL,
        "sax_words": _SAX_SQL,
        "autocorr_lag": _AUTOCORR_SQL,
        "spokes_fixedpoint": _power_fixedpoint_sql(),
        "asof_join_quotes": _ASOF_SQL,
        "vocab_topk": _VOCAB_SQL,
        "hash_sample": _HASH_SAMPLE_SQL,
        "lttb_downsample": _LTTB_SQL,
        "countmin_heavy_hitters": _COUNTMIN_SQL,
        "interval_join_windows": _INTERVAL_JOIN_SQL,
        "triangle_counts_sampled": _TRIANGLES_SQL,
        "pagerank_fixedpoint": _pagerank_sql(rounds=6),
        "ktruss_edges": _ktruss_sql(k=5, rounds=8),
        "benchmark_decontaminate": _DECONTAMINATE_SQL,
        "sorted_neighborhood_pairs": _SORTED_NEIGHBORHOOD_SQL,
        "rolling_stats": _ROLLING_SQL,
        "ewma_dyadic": _ewma_sql(depth=16),
        "ses_forecast": _ses_forecast_sql(depth=16, horizon=3),
        "substring_dedup_spans": _SUBSTRING_SPANS_SQL,
        "substring_dedup_clean": _SUBSTRING_CLEAN_SQL,
        "xcorr_lagged": _XCORR_SQL,
        "adamic_adar_linkpred": _ADAMIC_ADAR_SQL,
        "theilsen_trend": _THEILSEN_SQL,
        "changepoint_binary": _CHANGEPOINT_SQL,
        "source_mix_sample": _SOURCE_MIX_SQL,
        "mix_alpha_weights": _MIX_ALPHA_SQL,
        "tier_compaction_plan": _COMPACTION_PLAN_SQL,
        "counter_rate": _COUNTER_RATE_SQL,
        "counter_rate_buckets": _COUNTER_RATE_BUCKETS_SQL,
        "peak_window_count": _PEAK_WINDOW_SQL,
        "burn_rate_alerts": _BURN_RATE_SQL,
        "url_frontcode_plan": _FRONTCODE_SQL,
        "recrawl_plan": _RECRAWL_PLAN_SQL,
        "rle_plan": _RLE_PLAN_SQL,
        "roaring_container_plan": _ROARING_PLAN_SQL,
        "snapshot_expiry_plan": _SNAPSHOT_EXPIRY_SQL,
        "bucket_coverage": _BUCKET_COVERAGE_SQL,
        "boilerplate_lines": _BOILER_LINES_SQL,
        "boilerplate_strip": _BOILER_STRIP_SQL,
        "time_weighted_avg": _TWA_SQL,
        "late_repair_plan": _LATE_REPAIR_SQL,
        "url_churn": _URL_CHURN_SQL,
        "ppr_fixedpoint": _ppr_sql(rounds=6),
        "histogram_quantile_p90": _HIST_QUANTILE_SQL,
        "shard_pack_plan": _SHARD_PACK_SQL,
        "uptime_sla": _UPTIME_SQL,
        "dod_bitwidth_stats": _DOD_STATS_SQL,
        "linear_counting": _LINEAR_COUNT_SQL,
        "label_propagation": _lpa_sql(rounds=4),
        "exact_percentiles": _PERCENTILES_SQL,
        "markov_transitions": _MARKOV_SQL,
        "pii_scrub": _PII_SQL,
        "canonicalize_url": _CANON_URL_SQL,
        "cusum_drift": _CUSUM_SQL,
        "stratified_sample": _STRATIFIED_SQL,
        "benford_digits": _BENFORD_SQL,
        "zorder_keys": _zorder_sql(bits=16),
        "haar_coeffs": _haar_sql(n_leaves=16),
        "type_entropy": _TYPE_ENTROPY_SQL,
        "cube_aggregate": _CUBE_SQL,
        "ntile_buckets": _NTILE_SQL,
        "funnel_conversion": _FUNNEL_SQL,
        "cohort_retention": _COHORT_SQL,
        "topk_per_user": _TOPK_GROUP_SQL,
        "session_paths": _SESSION_PATHS_SQL,
        "bloom_semi_join": _BLOOM_SQL,
        "hll_distinct": _HLL_SQL,
        "kmv_distinct": _KMV_SQL,
        "winnowing_fingerprint": _WINNOW_SQL,
        "levenshtein_pairs": _LEVENSHTEIN_SQL,
        "seasonal_profile": _SEASONAL_SQL,
        "m4_downsample": _M4_SQL,
        "stl_seasonal": _STL_SQL,
        "corpus_cross_entropy": _XENT_SQL,
        "tfidf_top_terms": _TFIDF_SQL,
        "mad_outliers": _MAD_SQL,
        "linear_trend": _LINTREND_SQL,
        "ngram_containment_pairs": _NGRAM_CONTAINMENT_SQL,
        "key_skew_profile": _KEY_SKEW_SQL,
        "seasonal_anomaly": _SEASONAL_ANOMALY_SQL,
        "psi_drift": _PSI_SQL,
        "fano_burstiness": _FANO_SQL,
        "gini_concentration": _GINI_SQL,
        "zipf_slope": _ZIPF_SQL,
        "vocab_hapax": _HAPAX_SQL,
        "pmi_collocations": _PMI_SQL,
        "lsh_label_purity": _LSH_PURITY_SQL,
        "doc_entropy": _DOC_ENTROPY_SQL,
        "lm_perplexity": _LM_PPL_SQL,
        "clustering_coeff": _CLUSTER_COEFF_SQL,
        "burst_islands": _BURST_ISLANDS_SQL,
        "session_stats": _SESSION_STATS_SQL,
        "weighted_sample": _WEIGHTED_SAMPLE_SQL,
        "lang_id": _langid_oracle(),
        "cosine_topk": _COSINE_TOPK_SQL,
        "hist1d_clamped": _HIST1D_SQL,
        "hist2d_log": _HIST2D_SQL,
        "suspicious_users_iqr": _SUSPICIOUS_SQL,
        "kl_divergence": _KL_SQL,
        "rank_fusion_rrf": _RRF_SQL,
        "burst_peak": _BURST_SQL,
        "tdigest_quantiles": _TDIGEST_SQL,
        "agg_ts_list": _AGG_TS_SQL,
        "cumsum_daily": _CUMSUM_SQL,
        "pivot_rollup": _PIVOT_SQL,
        "graph_difference": _GRAPH_DIFF_SQL,
        "subgraph_reindex": _SUBGRAPH_SQL,
        "concat_union": _CONCAT_SQL,
        "combine_join": _COMBINE_SQL,
        "burst_involvement": _BURST_INVOLV_SQL,
        "mean_var_sink": _MEAN_VAR_SQL,
        "rating_digitize": _DIGITIZE_SQL,
        "sliding_window_count": _SLIDING_SQL,
        "holoscope_fusion": _HOLOSCOPE_FUSION_SQL,
        # unroll depth == the Spark loop's max_rounds (mean-credit peel
        # halves the set per round; 12 rounds covers any converging set)
        "holoscope_shaving": _holoscope_shave_sql(rounds=12),
        "canonical_text": _CANONICAL_SQL,
        "flow_balance": _FLOW_BALANCE_SQL,
        "flow_top_mids": _FLOW_TOP_SQL,
        "flow_peel_block": _flow_peel_sql(rounds=12),
        "flowscope_peel": _flowscope_peel_sql(rounds=6),
        "cubeflow_plus": _cubeflow_plus_sql(k=12, limit=6, rounds=12),
        "rpeak_segments": _RPEAK_SQL,
        "beatgan_recon": _BEATGAN_SQL,
        "eaglemine_clusters": _EAGLEMINE_SQL,
        "eaglemine_describe": _EAGLEMINE_DESC_SQL,
        "eaglemine_describe_trunc": _eaglemine_desc_trunc_sql(),
        "eaglemine_describe_dtm": _eaglemine_desc_dtm_sql(),
        "eaglemine_stitch": _EAGLEMINE_STITCH_SQL,
        "eaglemine_gof": _EAGLEMINE_GOF_SQL,
        "eaglemine_anderson": _EAGLEMINE_ANDERSON_SQL,
        "gorilla_roundtrip": _GORILLA_SQL,
        "gorilla_read_range": _GORILLA_READ_RANGE_SQL,
        "html_extract_text": _HTML_EXTRACT_SQL,
        "score_level_users": _SCORE_LEVEL_SQL,
        "monlad_zeroout": _MONLAD_SQL,
        "monlad_cfd": _MONLAD_CFD_SQL,
        "tier_incremental_merge": _rollup_oracle("hour"),
        "cache_admission_plan": _CACHE_ADMISSION_SQL,
        "hits_scores": _hits_sql(rounds=3, scale_bits=20),
        "kmeans_clusters": _kmeans_sql(k=8, rounds=2),
        "rollup_1w_tierup": _rollup_oracle("week"),
        "source_vocab_overlap": _SOURCE_VOCAB_SQL,
        "cooccurrence_lift": _COOCCURRENCE_SQL,
        "tier_amplification_audit": _TIER_AMPLIFICATION_SQL,
        "bloom_fpr_audit": _BLOOM_FPR_SQL,
        "sliding_hist_quantile": _SLIDING_QUANTILE_SQL,
        "modularity_score": _modularity_sql(rounds=4),
        "rich_club": _rich_club_sql(),
        "ooo_rate": _OOO_RATE_SQL,
        "week_over_week": _WOW_SQL,
        "pacf_lags": _PACF_SQL,
        "asof_join_nearest": _ASOF_NEAREST_SQL,
        "oov_rate": _OOV_RATE_SQL,
        "packing_plan": _PACKING_PLAN_SQL,
        "filter_funnel": _filter_funnel_sql(),
        "snapshot_diff": _SNAPSHOT_DIFF_SQL,
        "join_strategy_plan": _JOIN_STRATEGY_SQL,
        "acf_multi": _ACF_MULTI_SQL,
        "watermark_lag_audit": _WATERMARK_LAG_SQL,
        "traffic_tiers": _TRAFFIC_TIERS_SQL,
        "rolling_corr": _ROLLING_CORR_SQL,
        "mann_kendall": _MANN_KENDALL_SQL,
        "forecast_backtest": _FORECAST_BACKTEST_SQL,
        "readability_scores": _READABILITY_SQL,
        "politeness_plan": _POLITENESS_SQL,
        "gauge_delta": _GAUGE_DELTA_SQL,
        "predict_linear": _PREDICT_LINEAR_SQL,
        "xor_bitwidth_stats": _XOR_STATS_SQL,
        "tier_freshness": _TIER_FRESHNESS_SQL,
        "heavy_change_topk": _HEAVY_CHANGE_SQL,
        "tier_serving_plan": _TIER_SERVING_SQL,
        "tier_mode": _TIER_MODE_SQL,
        "tier_purge_plan": _PURGE_PLAN_SQL,
        "tier_consistency_audit": _TIER_AUDIT_SQL,
        # unroll depth == the Spark kcore's max_rounds (graph.py:88): the
        # Spark side raises if unconverged by then, so a converged Spark
        # result is always compared against a >=-fixpoint-depth oracle
        "kcore_peel": _kcore_sql(k=34, rounds=50),
        "densest_subgraph": _densest_sql(rounds=10),
        "doc_fingerprint": _FINGERPRINT_SQL,
        "minhash_dedup_pairs": _minhash_sql(),
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "graph_summarize_lsh": _graph_summarize_sql(k_hashes=4),
        "dpgs_merge_refine": _dpgs_merge_sql(k_hashes=4),
        "dpgs_summarize_fixpoint": _dpgs_fixpoint_sql(rounds=6, k_hashes=4),
        "kgrass_merge_refine": _kgrass_merge_sql(k=8),
        "embedding_neardup_pairs": _EMBEDDING_NEARDUP_SQL,
        "kgrass_summary": _kgrass_sql(k=8),
        "simhash_dedup_pairs": _simhash_sql(max_hamming=10),
        "ann_topk": _ann_sql(k=5, n_planes=4),
        "ivf_topk": _ivf_sql(k=5, nlist=8, nprobe=2),
        "cumprod_daily": _CUMPROD_SQL,
        "rank_fusion_sum": _RANK_SUM_SQL,
        "holoscope_objective": _HOLOSCOPE_OBJ_SQL,
        "paragraph_dedup": _PARAGRAPH_DEDUP_SQL,
        "partition_split_plan": _PARTITION_SPLIT_SQL,
        "dict_encoding_plan": _DICT_ENCODING_SQL,
        "pow2_hist_quantile": _POW2_QUANTILE_SQL,
        "url_version_intervals": _URL_VERSIONS_SQL,
        "neighbor_jaccard": _NEIGHBOR_JACCARD_SQL,
        "outlink_domain_graph": _OUTLINK_GRAPH_SQL,
        "hysteresis_intervals": _HYSTERESIS_SQL,
        "ks_drift": _KS_DRIFT_SQL,
        "apdex_score": _APDEX_SQL,
        "first_seen_rate": _FIRST_SEEN_SQL,
        "postings_plan": _POSTINGS_SQL,
        "bloom_filter_plan": _BLOOM_PLAN_SQL,
        "crawl_budget_apportion": _CRAWL_BUDGET_SQL,
        "rolling_median": _ROLLING_MEDIAN_SQL,
        "counter_changes": _COUNTER_CHANGES_SQL,
        "dedup_keep_best": _DEDUP_KEEP_BEST_SQL,
        "degree_assortativity": _DEGREE_ASSORT_SQL,
        "frontier_interleave": _FRONTIER_INTERLEAVE_SQL,
        "phrase_match": _PHRASE_MATCH_SQL,
        "ohlc_bars": _OHLC_SQL,
        "url_path_rollup": _URL_PATH_ROLLUP_SQL,
        "dup_rate_by_source": _DUP_RATE_SQL,
        "ngram_novelty": _NGRAM_NOVELTY_SQL,
        "interval_concurrency": _INTERVAL_CONCURRENCY_SQL,
        "weighted_percentiles": _WEIGHTED_PCT_SQL,
        "graph_reciprocity": _RECIPROCITY_SQL,
        "hll_tier_distinct": _HLL_TIER_SQL,
        "bm25_scores": _BM25_SQL,
        "url_template_stats": _URL_TEMPLATE_SQL,
        # specgreedy_block / svd_power_spokes: iterative spectral -> rows-only
        # rpeak_hamilton: sequential adaptive-threshold detector (FIR
        # filter + 8-deep running buffers + search-back) — not
        # SQL-expressible; exactness pytest-proven on planted beats
        # beatgan_subspace: per-series SVD subspace -> rows-only;
        # planted-anomaly recovery pytest-proven
        # resample_fourier / beatlex_summarize / eigenpulse_density /
        # whole-series FFT/DTW/SVD kernels;
        # multimodal: plane-based (no DuckDB twin); densest_subgraph/tdigest:
        # iterative/sketch -> driver records rows-only checks
    }
