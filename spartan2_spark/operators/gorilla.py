"""Gorilla block building/reading as Spark operators.

Per (url, tier) the finalized tier points are encoded into compressed
blocks (delta-of-delta timestamps + XOR float values, see
``spartan2_spark.functions.gorilla_codec``) inside an Arrow-batched
grouped pandas UDF — one group = one url's sorted series; the kernel
sorts by timestamp before encoding, so blocks and CRCs are
bit-identical at any parallelism level.

Blocks are capped at ``max_points`` so a pathological head url can't
produce an unbounded row; at 100TB the (url) grouping key is already
salted upstream by the partitioning planner (operators/partitioning)
before the final per-url regroup.
"""

from __future__ import annotations

import datetime
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spartan2_spark.functions import gorilla_codec as C
from spartan2_spark.schemas import GORILLA_BLOCKS

__all__ = [
    "encode_tier_blocks",
    "decode_blocks",
    "read_points",
    "dod_bitwidth_stats",
    "xor_bitwidth_stats",
    "rle_plan",
]

_DAY_S = 86_400
_EPOCH_DATE = datetime.date(1970, 1, 1)


def encode_tier_blocks(
    view: DataFrame,
    tier: str,
    value_col: str = "vmean",
    max_points: int = 4096,
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Tier view (url, bucket_ts, <value_col>) -> GORILLA_BLOCKS rows.

    ``extra_group_cols`` (e.g. ``("dt",)``) bound a block to one output
    partition so the pipeline's per-dt manifest/resume unit holds; the
    extra columns are carried through to the output.

    A ``dt`` group column must be the UTC date of every point it groups
    (``run_pipeline`` writes ``dt = to_date(bucket_ts)`` in its UTC
    session and groups by ``("dt",)``): then every block lies inside
    its ``dt`` day, the rule :func:`read_points` prunes by.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(GORILLA_BLOCKS.fields)
        + [T.StructField(c, view.schema[c].dataType) for c in extra_group_cols]
    )

    out_cols = [f.name for f in out_schema.fields]

    def encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # whole-batch contract: pdf holds MANY complete groups, already
        # sorted by (url, *extras, bucket_ts) — cut group boundaries and
        # encode EVERY block of the batch in one vectorized codec pass
        # (encode_*_multi); the only remaining per-block Python is the
        # crc loop over the finished byte blobs.
        if not len(pdf):
            return pd.DataFrame(columns=out_cols)
        ts = (pdf["bucket_ts"].astype("int64") // 1_000_000_000).to_numpy(np.int64)
        vals = pdf[value_col].to_numpy(np.float64)
        urls = pdf["url"].to_numpy()
        extras = {c: pdf[c].to_numpy() for c in extra_group_cols}
        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = urls[1:] != urls[:-1]
        for a in extras.values():
            change[1:] |= a[1:] != a[:-1]
        gstarts = np.flatnonzero(change)
        gends = np.append(gstarts[1:], len(pdf))
        gsizes = gends - gstarts
        # chunk each group into blocks of <= max_points (still contiguous)
        nblk = (gsizes + max_points - 1) // max_points
        blk_first = np.concatenate(([0], np.cumsum(nblk)[:-1]))
        within = np.arange(int(nblk.sum())) - np.repeat(blk_first, nblk)
        bstarts = np.repeat(gstarts, nblk) + within * max_points
        bends = np.minimum(bstarts + max_points, np.repeat(gends, nblk))
        tb = C.encode_ts_multi(ts, bstarts)
        vb = C.encode_vals_multi(vals, bstarts)
        out = {
            "url": urls[bstarts],
            "tier": tier,
            "start_ts": ts[bstarts],
            "end_ts": ts[bends - 1],
            "n_points": bends - bstarts,
            "ts_block": tb,
            "val_block": vb,
            "crc32": [C.block_crc(t, v) for t, v in zip(tb, vb)],
        }
        for c, a in extras.items():
            out[c] = a[bstarts]
        return pd.DataFrame(out, columns=out_cols)

    pts = view.select("url", "bucket_ts", value_col, *extra_group_cols)
    # one group per url is the many-tiny-groups shape (a url's tier
    # points are typically a few dozen rows): partition-batched grouped
    # apply (operators/grouped.py) pays Arrow/apply cost per ~10k-row
    # batch instead of per url, and the whole-batch kernel above removes
    # the remaining per-group pandas cost (profiled ~0.5 ms/group: one
    # sort_values + one DataFrame construction per url) — blocks stay
    # bit-identical (asserted in tests/test_gorilla.py)
    from spartan2_spark.operators.grouped import batched_group_apply

    return batched_group_apply(
        pts,
        ["url", *extra_group_cols],
        encode_batch,
        out_schema,
        order=("bucket_ts",),
        whole_batch=True,
    )


# decode_*_multi's window arrays cost ~9 bytes per block byte; cap the
# block bytes handed to one lane-parallel pass so a fat Arrow batch of
# max-size blocks keeps a decode task's kernel near 72 MB (every task
# slot may run one concurrently).
_DECODE_PASS_BYTES = 8 << 20


def _pass_cuts(sizes: list[int], cap: int) -> list[int]:
    """Greedy pass boundaries over block byte sizes: ``[0, ..., n]``;
    pass ``i`` is blocks ``cuts[i]:cuts[i+1]``. A pass closes before the
    block that would take it past ``cap``; a block larger than ``cap``
    gets a pass to itself."""
    cuts = [0]
    acc = 0
    for i, sz in enumerate(sizes):
        if acc + sz > cap and i > cuts[-1]:
            cuts.append(i)
            acc = 0
        acc += sz
    cuts.append(len(sizes))
    return cuts


def decode_blocks(blocks: DataFrame, value_col: str = "value") -> DataFrame:
    """GORILLA_BLOCKS rows -> (url, tier, ts, value) points via
    mapInPandas (decode is the read path; CRC verified per block)."""
    out_schema = f"url string, tier string, ts long, {value_col} double"

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            tbufs = [bytes(b) for b in pdf["ts_block"]]
            vbufs = [bytes(b) for b in pdf["val_block"]]
            for t, v, crc, url, tr in zip(
                tbufs, vbufs, pdf["crc32"].to_numpy(), pdf["url"], pdf["tier"]
            ):
                if C.block_crc(t, v) != crc:
                    raise ValueError(f"CRC mismatch for url={url} tier={tr}")
            ns = pdf["n_points"].to_numpy(np.int64)
            cuts = _pass_cuts(
                [len(t) + len(v) for t, v in zip(tbufs, vbufs)], _DECODE_PASS_BYTES
            )
            # every block of the slice decodes in ONE lane-parallel
            # numpy pass (decode_*_multi) — no per-block Python
            for a, b in zip(cuts[:-1], cuts[1:]):
                yield pd.DataFrame(
                    {
                        "url": np.repeat(pdf["url"].to_numpy()[a:b], ns[a:b]),
                        "tier": np.repeat(pdf["tier"].to_numpy()[a:b], ns[a:b]),
                        "ts": C.decode_ts_multi(tbufs[a:b], ns[a:b]),
                        value_col: C.decode_vals_multi(vbufs[a:b], ns[a:b]),
                    }
                )

    # only the columns the kernel reads cross into the Python worker
    return blocks.select(
        "url", "tier", "n_points", "ts_block", "val_block", "crc32"
    ).mapInPandas(decode_batch, out_schema)


def _utc_day(t: int) -> datetime.date:
    """Epoch seconds -> UTC date by floor division; no timezone involved."""
    return _EPOCH_DATE + datetime.timedelta(days=int(t) // _DAY_S)


def _prune_days(b: DataFrame, t0: int | None, t1: int | None) -> DataFrame:
    """Partition predicate ``utc_day(t0) <= dt <= utc_day(t1)`` on a
    block table, plus a lazy guard that each surviving block lies
    inside its ``dt`` day (the rule the predicate relies on)."""
    if t0 is not None:
        b = b.filter(F.col("dt") >= F.lit(_utc_day(t0)))
    if t1 is not None:
        b = b.filter(F.col("dt") <= F.lit(_utc_day(t1)))
    day = F.unix_date(F.col("dt"))
    inside = (F.floor(F.col("start_ts") / _DAY_S) == day) & (
        F.floor(F.col("end_ts") / _DAY_S) == day
    )
    outside = F.format_string(
        "read_points: block url=%s start_ts=%d end_ts=%d is not inside its "
        "dt=%s (UTC day); date pruning would drop blocks of this table",
        "url", "start_ts", "end_ts", F.col("dt").cast("string"),
    )
    return b.filter(F.assert_true(inside, outside).isNull())


def read_points(
    blocks: DataFrame,
    t0: int | None = None,
    t1: int | None = None,
    urls: DataFrame | list | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Serving read over a block table: prune BEFORE any decode.

    Every block row carries (url, start_ts, end_ts), so a time-range
    read filters blocks on [start_ts, end_ts] overlap with [t0, t1].
    Catalyst pushes the comparison to the parquet scan of the block
    table, where min/max row-group stats skip row groups inside a scan
    task; every file still starts a task, and every task a Python
    decode worker. Only the surviving blocks reach the decode kernel,
    and decoded points are then trimmed to the exact range (a block
    may straddle the boundary).

    Date pruning: a ``dt`` column on a block table is the UTC date of
    every point of its block (``run_pipeline`` writes ``dt =
    to_date(bucket_ts)`` and groups blocks by ``("dt",)``; any tier
    whose ``dt`` is ``to_date(bucket_ts)``, ``t1w`` included, keeps
    it). A block overlapping the range has ``end_ts >= t0`` and
    ``start_ts <= t1`` and lies inside its ``dt`` day, so ``day(t0) <=
    dt <= day(t1)`` drops no block the read needs. On a ``dt``-
    partitioned table Spark applies that bound at planning and lists
    only the read's date directories: a one-day read runs one decode
    task, not one per stored day. Days are floor(epoch seconds /
    86400), so the session timezone does not change the prune. A lazy
    ``assert_true`` fails the read's action if a surviving block is
    not inside its ``dt`` day. Tables without ``dt`` keep the plain
    range filter.

    ``urls``: a small list (becomes an IN filter, scan-pushed) or a
    DataFrame with a ``url`` column (broadcast-hinted LEFT SEMI join —
    the url dimension is the small side of a serving read).
    """
    b = blocks
    if t0 is not None:
        b = b.filter(F.col("end_ts") >= F.lit(int(t0)))
    if t1 is not None:
        b = b.filter(F.col("start_ts") <= F.lit(int(t1)))
    if "dt" in b.columns and (t0 is not None or t1 is not None):
        b = _prune_days(b, t0, t1)
    if urls is not None:
        if isinstance(urls, DataFrame):
            b = b.join(F.broadcast(urls.select("url").distinct()), "url", "left_semi")
        else:
            b = b.filter(F.col("url").isin(list(urls)))
    pts = decode_blocks(b, value_col=value_col)
    if t0 is not None:
        pts = pts.filter(F.col("ts") >= F.lit(int(t0)))
    if t1 is not None:
        pts = pts.filter(F.col("ts") <= F.lit(int(t1)))
    return pts


def dod_bitwidth_stats(
    points: DataFrame,
    key_col: str = "url",
    time_col: str = "bucket_ts",
) -> DataFrame:
    """Compression PLANNING for the Gorilla timestamp track: per key,
    classify every delta-of-delta of the sorted epoch-second timestamps
    into the codec's code classes ('0' 1 bit; '10'+7; '110'+9;
    '1110'+12; '1111'+64 — spartan2_spark.functions.gorilla_codec) and
    report the class counts plus the implied bits/point — the query
    that decides, per tier, whether a series is regular enough for the
    1-bit fast path BEFORE paying the encode, and the audit that a
    tier's bucket grid is actually regular (a healthy 1m tier should be
    ~all dod=0).

    Exactness: deltas, dods, class counts, and total bits are pure
    BIGINT; the closing bits/point is one IEEE divide. Keys with fewer
    than 3 samples have no dod and are dropped (nothing to plan).

    Plan shape: two stacked lag windows on the same (key, ts) ordering
    (one sort, Spark folds both into a single Window node) + one hash
    aggregate — single shuffle on the key.
    """
    from pyspark.sql import Window as W

    ww = W.partitionBy("key").orderBy("t_s")
    t = points.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(time_col).cast("timestamp")).alias("t_s"),
    )
    d = t.withColumn("delta", F.col("t_s") - F.lag("t_s").over(ww))
    dd = d.withColumn("dod", F.col("delta") - F.lag("delta").over(ww)).filter(
        F.col("dod").isNotNull()
    )
    cls = (
        F.when(F.col("dod") == 0, F.lit(0))
        .when((F.col("dod") >= -63) & (F.col("dod") <= 64), F.lit(1))
        .when((F.col("dod") >= -255) & (F.col("dod") <= 256), F.lit(2))
        .when((F.col("dod") >= -2047) & (F.col("dod") <= 2048), F.lit(3))
        .otherwise(F.lit(4))
    )
    bits = F.element_at(
        F.array(F.lit(1), F.lit(9), F.lit(12), F.lit(16), F.lit(68)),
        cls + 1,
    )
    return (
        dd.select("key", cls.alias("c"), bits.alias("b"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dod"),
            F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).cast("long").alias("c_zero"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("c_7b"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("c_9b"),
            F.sum(F.when(F.col("c") == 3, 1).otherwise(0)).cast("long").alias("c_12b"),
            F.sum(F.when(F.col("c") == 4, 1).otherwise(0)).cast("long").alias("c_64b"),
            F.sum("b").cast("long").alias("bits_total"),
        )
        .select(
            "key", "n_dod", "c_zero", "c_7b", "c_9b", "c_12b", "c_64b",
            "bits_total",
            (
                F.col("bits_total").cast("double")
                / F.col("n_dod").cast("double")
            ).alias("bits_per_point"),
        )
    )


def xor_bitwidth_stats(
    points: DataFrame,
    key_col: str = "url",
    time_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """Compression PLANNING for the Gorilla VALUE track — the
    value-plane companion of :func:`dod_bitwidth_stats`: per key,
    XOR every consecutive pair of the sorted centi-quantized BIGINT
    values and report how compressible the stream is. For each nonzero
    XOR the meaningful-bit window is 64 - leading - trailing zeros and
    the codec pays at most '11' + 5b leading + 6b length + meaningful
    = 13 + meaningful bits (functions/gorilla_codec value track; the
    real encoder only does BETTER via window reuse, so ``bits_total``
    is a certified upper bound); a zero XOR is the 1-bit '0' fast
    path. The query that ranks series by value-plane compressibility
    before paying an encode pass, and the audit that a tier's value
    stream is as smooth as its bucket grid is regular.

    Exactness: XORs are BIGINT; leading/trailing zero counts come from
    the two's-complement ``bin()`` string (identical 64-char negative
    rendering in Spark and DuckDB); all counts and bit totals are
    integers, the closing bits/point is one IEEE divide.

    Plan shape: one per-key lag window + one hash aggregate on the
    same key — single shuffle; series length per key is
    retention-bounded, key count parallelizes.
    """
    from pyspark.sql import Window as W

    ww = W.partitionBy("key").orderBy("t_s", "v")
    s = points.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(time_col).cast("timestamp")).alias("t_s"),
        F.col(value_col).cast("long").alias("v"),
    )
    x = (
        s.withColumn("pv", F.lag("v").over(ww))
        .filter(F.col("pv").isNotNull())
        .select("key", (F.col("v").bitwiseXOR(F.col("pv"))).alias("x"))
    )
    b = F.bin(F.col("x"))
    lead = F.when(F.col("x") == 0, F.lit(64)).otherwise(
        F.lit(64) - F.length(b)
    )
    trail = F.when(F.col("x") == 0, F.lit(0)).otherwise(
        F.length(b) - F.length(F.regexp_replace(b, "0+$", ""))
    )
    return x.select("key", "x", lead.alias("lz"), trail.alias("tz")).select(
        "key",
        "x",
        F.when(F.col("x") == 0, F.lit(0))
        .otherwise(F.lit(64) - F.col("lz") - F.col("tz"))
        .alias("mbits"),
    ).select(
        "key",
        "mbits",
        F.when(F.col("mbits") == 0, F.lit(1))
        .otherwise(F.lit(13) + F.col("mbits"))
        .alias("bits"),
    ).groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_xor"),
        F.sum(F.when(F.col("mbits") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c_zero"),
        F.max("mbits").cast("long").alias("max_mbits"),
        F.sum("mbits").cast("long").alias("mbits_total"),
        F.sum("bits").cast("long").alias("bits_total"),
    ).select(
        "key", "n_xor", "c_zero", "max_mbits", "mbits_total", "bits_total",
        (
            F.col("bits_total").cast("double")
            / F.col("n_xor").cast("double")
        ).alias("bits_per_point"),
    )


def rle_plan(
    points: DataFrame,
    key_col: str = "url",
    time_col: str = "bucket_ts",
    value_col: str = "value",
    quantize: int = 100,
) -> DataFrame:
    """Run-length planning for slow-moving gauge / status channels —
    the third leg of the per-tier codec decision next to
    :func:`dod_bitwidth_stats` (timestamp track) and
    :func:`xor_bitwidth_stats` (dense value track): per key, collapse
    consecutive equal quantized values of the time-sorted series into
    runs (gaps-and-islands) and report how run-compressible the value
    stream is. Status/enum channels (uptime flags, HTTP status tiers,
    crawl outcome codes) produce a handful of runs and should be
    stored RLE; dense gauges produce ~n runs and should go through the
    XOR track instead. ``runs_per_point`` close to 0 → RLE wins;
    close to 1 → RLE degenerates to the raw stream.

    Exactness: quantized values (``round(value*quantize)`` as BIGINT),
    change flags, run ids, run lengths and counts are pure integer
    arithmetic; the closing runs/point ratio is the single IEEE
    divide. Keys with one sample report one run of length one.

    Plan shape: one lag window + one running-sum window on the same
    (key, ts) sort — Spark folds both into a single Window node — then
    a (key, run_id) hash aggregate and a (key) hash aggregate, both of
    which reuse the window's hash(key) partitioning (HashPartitioning
    on a subset of the grouping keys satisfies ClusteredDistribution):
    a single shuffle end to end.
    """
    from pyspark.sql import Window as W

    # secondary sort on v: duplicate timestamps within a key would
    # otherwise make the run segmentation order-dependent — (t_s, v)
    # is a deterministic total order for run-counting purposes (equal
    # (t_s, v) rows are interchangeable, they extend the same run)
    ww = W.partitionBy("key").orderBy("t_s", "v")
    run_w = ww.rowsBetween(W.unboundedPreceding, W.currentRow)
    q = points.select(
        F.col(key_col).alias("key"),
        F.unix_timestamp(F.col(time_col).cast("timestamp")).alias("t_s"),
        F.round(F.col(value_col) * quantize).cast("long").alias("v"),
    )
    runs = (
        q.withColumn(
            "chg",
            F.when(
                F.lag("v").over(ww).isNull()
                | (F.col("v") != F.lag("v").over(ww)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("run_id", F.sum("chg").over(run_w))
        .groupBy("key", "run_id")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    return (
        runs.groupBy("key")
        .agg(
            F.sum("run_len").cast("long").alias("n_points"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("longest_run"),
        )
        .select(
            "key",
            "n_points",
            "n_runs",
            "longest_run",
            (
                F.col("n_runs").cast("double")
                / F.col("n_points").cast("double")
            ).alias("runs_per_point"),
        )
    )
