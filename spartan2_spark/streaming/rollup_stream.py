"""Structured Streaming surface (SURVEY.md 2.9).

The reference streams by pulling time-sorted lines through overlapping
windows and assumes no late data (EOF ends the stream,
/root/reference/spartan/tensor/tensor.py:170-231). Our engine replaces
that with Structured Streaming:

- ``stream_rollup``: file-source stream -> watermark -> tumbling/
  sliding ``F.window`` aggregation of the tier state (same re-aggregable
  (cnt, sum, min, max) state as the batch ladder — p95 sketch is added
  at compaction, not in-flight);
- ``stream_running_extremes``: per-key stateful operator via
  ``applyInPandasWithState`` (the MonLAD running-state analogue,
  ZeroOutCore.py:35-44): carries (n, max, min, sum) across micro-batches.

Late data: rows older than the watermark are dropped by Spark; the
batch pipeline's late-data detection (plans/pipeline.py
``detect_late_data`` — per-dt raw-input crcs chained into tier lineage)
is the repair path for anything later than that: the next batch run
recomputes exactly the affected dt partitions (north-rule note,
SURVEY.md 2.9).

``stream_rollup_to_tier`` closes the loop to storage: finalized
(watermark-expired) windows append to the dt-partitioned tier table
with a durable checkpoint, so a restarted stream resumes exactly where
it stopped and never re-emits a bucket.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "stream_rollup",
    "stream_ohlc",
    "stream_rollup_to_tier",
    "stream_running_extremes",
    "stream_zero_out",
    "stream_zero_out_cfd",
    "run_stream_to_memory",
    "stream_version_intervals",
]


def stream_rollup(
    stream: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "10 minutes",
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming tier aggregation with watermarked late-data handling."""
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("vsum"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
        .select(
            F.col("win.start").alias("bucket_ts"),
            key_col,
            "cnt",
            "vsum",
            "vmin",
            "vmax",
        )
    )


def stream_ohlc(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    qty_col: str | None = None,
) -> DataFrame:
    """Streaming OHLC candle aggregation — the first/last continuous
    aggregate as a plain watermarked windowed agg: endpoint picks are
    the same LEXICOGRAPHIC (epoch_us, value) struct min/max as the
    batch :func:`operators.rollup.ohlc_bars`, and struct min/max is
    associative, so cross-micro-batch state merge is exact — streaming
    output == batch output on the same rows (parity-tested). With
    ``qty_col``: volume + exact pvsum for VWAP at read time.
    State per (key, window) is O(1); the watermark bounds window count.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = stream.withColumn("_t_us", us).withColumn(
        "_v", F.col(value_col).cast("long")
    )
    if qty_col:
        base = base.withColumn("_q", F.col(qty_col).cast("long"))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min(F.struct("_t_us", "_v")).getField("_t_us").alias("open_ts_us"),
        F.min(F.struct("_t_us", "_v")).getField("_v").alias("open"),
        F.max(F.struct("_t_us", "_v")).getField("_t_us").alias("close_ts_us"),
        F.max(F.struct("_t_us", "_v")).getField("_v").alias("close"),
        F.min("_v").alias("low"),
        F.max("_v").alias("high"),
    ]
    if qty_col:
        aggs += [
            F.sum("_q").cast("long").alias("volume"),
            F.sum(F.col("_v") * F.col("_q")).cast("long").alias("pvsum"),
        ]
    return (
        base.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(*aggs)
        .select(F.col("win.start").alias("bucket_ts"), key_col, *[
            c for c in (
                "cnt", "open_ts_us", "open", "close_ts_us", "close",
                "low", "high", *(("volume", "pvsum") if qty_col else ()),
            )
        ])
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mx", T.DoubleType()),
        T.StructField("mn", T.DoubleType()),
        T.StructField("sm", T.DoubleType()),
    ]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("run_max", T.DoubleType()),
        T.StructField("run_min", T.DoubleType()),
        T.StructField("run_sum", T.DoubleType()),
    ]
)


def _extremes_fn(key, pdfs, state: GroupState):
    n, mx, mn, sm = state.get if state.exists else (0, float("-inf"), float("inf"), 0.0)
    for pdf in pdfs:
        v = pdf["value"]
        n += len(v)
        if len(v):
            mx = max(mx, float(v.max()))
            mn = min(mn, float(v.min()))
            sm += float(v.sum())
    state.update((n, mx, mn, sm))
    yield pd.DataFrame(
        {"key": [str(key[0])], "n_events": [n], "run_max": [mx], "run_min": [mn], "run_sum": [sm]}
    )


def stream_running_extremes(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Per-key running extremes carried across micro-batches
    (applyInPandasWithState; update mode)."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _extremes_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ZO_STATE = T.StructType(
    [
        T.StructField("bal", T.DoubleType()),
        T.StructField("run_min", T.DoubleType()),
        T.StructField("open", T.BooleanType()),
        T.StructField("n_cycles", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_ZO_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_zero_outs", T.LongType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def _make_zero_out_fn(delta_up: float, epsilon: float):
    def fn(key, pdfs, state: GroupState):
        bal, run_min, open_, n_cycles, n_events = (
            state.get if state.exists else (0.0, 0.0, False, 0, 0)
        )
        # A group larger than arrow.maxRecordsPerBatch arrives as multiple
        # chunks; sorting each chunk independently would replay events out
        # of timestamp order across chunk boundaries. Materialize the whole
        # group for this micro-batch and sort ONCE — group state is small
        # (5 scalars) and a single group's batch fits one task's memory.
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            ).sort_values("ts", kind="mergesort")
            for amt in pdf["amount"].to_numpy():
                bal += float(amt)
                run_min = min(run_min, bal)
                n_events += 1
                if bal - run_min >= delta_up and not open_:
                    open_ = True
                elif bal - run_min <= epsilon and open_:
                    open_ = False
                    n_cycles += 1
        state.update((bal, run_min, open_, n_cycles, n_events))

        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n_events": [n_events],
                "n_zero_outs": [n_cycles],
                "balance": [bal],
            }
        )

    return fn


def stream_zero_out(
    stream: DataFrame,
    key_col: str = "key",
    delta_up: float = 100.0,
    epsilon: float = 1.0,
) -> DataFrame:
    """MonLAD's per-account pump-and-drain state machine as a streaming
    stateful operator (the per-event core of
    /root/reference/spartan/model/MonLAD/ZeroOutCore.py:19-62 — balance
    remainder + up/down flips vs deltaUp/epsilon — carried across
    micro-batches via applyInPandasWithState). Matches the batch replay
    ``operators.windows.zero_out_replay`` on the same input.

    The per-event loop is per GROUP inside an Arrow batch (the state
    transition is inherently sequential per account — same as the
    reference); accounts are processed in parallel across partitions.
    """
    return stream.groupBy(key_col).applyInPandasWithState(
        _make_zero_out_fn(delta_up, epsilon),
        outputStructType=_ZO_OUT,
        stateStructType=_ZO_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ZO_CFD_STATE = T.StructType(
    [
        T.StructField("bal", T.DoubleType()),
        T.StructField("run_min", T.DoubleType()),
        T.StructField("open", T.BooleanType()),
        T.StructField("n_cycles", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("temp_in", T.LongType()),
        T.StructField("credits_in", T.LongType()),
    ]
)
_ZO_CFD_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_zero_outs", T.LongType()),
        T.StructField("n_credits_in", T.LongType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def _make_zero_out_cfd_fn(delta_up: float, epsilon: float):
    def fn(key, pdfs, state: GroupState):
        bal, run_min, open_, n_cycles, n_events, temp_in, credits_in = (
            state.get if state.exists else (0.0, 0.0, False, 0, 0, 0, 0)
        )
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            ).sort_values("ts", kind="mergesort")
            amts = pdf["amount"].to_numpy()
            credits = pdf["is_credit"].to_numpy()
            for amt, is_credit in zip(amts, credits):
                # run_min EXCLUDES the current event (parity with the
                # batch replay's leading-zero minimum-accumulate)
                prev_min = run_min
                bal += float(amt)
                run_min = min(run_min, bal)
                n_events += 1
                if is_credit:
                    if bal - prev_min >= delta_up:
                        open_ = True
                        temp_in += 1
                elif bal - prev_min <= epsilon and open_:
                    open_ = False
                    n_cycles += 1
                    credits_in += temp_in
                    temp_in = 0
        state.update(
            (bal, run_min, open_, n_cycles, n_events, temp_in, credits_in)
        )
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n_events": [n_events],
                "n_zero_outs": [n_cycles],
                "n_credits_in": [credits_in],
                "balance": [bal],
            }
        )

    return fn


def stream_zero_out_cfd(
    stream: DataFrame,
    key_col: str = "key",
    delta_up: float = 100.0,
    epsilon: float = 1.0,
) -> DataFrame:
    """CFD-variant MonLAD state machine as a streaming stateful
    operator (reference ZeroOutCoreCFD.py:3-53: single-account typed
    events — credits pump, debits drain, per-cycle credit counting).
    Input stream must carry (key, ts, amount, is_credit) — pre-map the
    transaction-type column with the signed amount, dropping ignored
    types (``operators.windows.zero_out_replay_cfd`` shows the exact
    mapping). Matches that batch replay on the same input
    (parity-tested in tests/test_streaming_io.py)."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _make_zero_out_cfd_fn(delta_up, epsilon),
        outputStructType=_ZO_CFD_OUT,
        stateStructType=_ZO_CFD_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_rollup_to_tier(
    stream: DataFrame,
    tier_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Continuous aggregate maintenance: finalized windows -> tier table.

    Append output mode emits a state row exactly once, when the
    watermark passes the window end — the streaming analogue of a
    finalized tier partition — and the parquet sink appends it under
    its dt partition. The state is the batch ladder's LONG-FORMAT
    per-(url, bucket, bin) schema (operators/rollup.py
    ``rollup_from_points``), not a scalar roll, so batch readers —
    ``tier_view``'s p95 histogram, ``rollup_tier_up``'s per-bin merge,
    gap-fill, Gorilla encode — work unchanged on a stream-maintained
    tier. The checkpoint pins source offsets + aggregation state: a
    restarted job resumes from the last committed micro-batch and can
    never double-emit a bucket. Windows still open at shutdown are
    emitted by a later run once the watermark passes them; rows later
    than the watermark are dropped here and repaired by the batch
    pipeline's late-data detection.

    Runs with trigger(availableNow) and blocks until the currently
    available input is drained (call again as new files land, or swap
    the trigger for a continuous deployment).
    """
    from spartan2_spark.operators.rollup import bin_col

    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col(key_col).alias("url"),
            bin_col(F.col(value_col)).alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("vsum"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
        .select(
            F.col("win.start").alias("bucket_ts"),
            "url", "bin", "cnt", "vsum", "vmin", "vmax",
        )
    )
    q = (
        agg.withColumn("dt", F.to_date("bucket_ts"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", tier_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("dt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_stream_to_memory(streaming_df: DataFrame, name: str, output_mode: str):
    """Drive a streaming query synchronously to completion over the
    currently-available input (test/smoke harness)."""
    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("digest",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit each key's FIRST arrival and
    drop re-arrivals — the online form of operators/dedup.exact_dedup
    for an ingest pipeline (content digests, event ids, crawl urls).

    dropDuplicatesWithinWatermark keeps per-key state only until the
    watermark passes it, so state is bounded by (keys per watermark
    horizon), not by stream lifetime — the property that makes exact
    dedup runnable forever at ingest scale. Duplicates arriving later
    than the watermark are therefore NOT caught here; the batch
    dedup_exact/dedup_clusters pass repairs those, mirroring the
    stream-appends / batch-repairs split of stream_rollup_to_tier.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_sessionize(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming session windows: events gapped less than ``gap`` merge
    into one session per key (the online form of the batch sessionize
    query); watermark bounds the open-session state. Emits one row per
    closed session with start/end/count — Spark's native session_window
    aggregation, which merges windows as late-but-in-watermark events
    arrive.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


_CR_STATE = T.StructType(
    [
        T.StructField("last_v", T.LongType()),
        T.StructField("increase", T.LongType()),
        T.StructField("n_resets", T.LongType()),
        T.StructField("n_samples", T.LongType()),
    ]
)
_CR_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("increase", T.LongType()),
        T.StructField("n_resets", T.LongType()),
        T.StructField("n_samples", T.LongType()),
    ]
)


def _counter_rate_fn(key, pdfs, state: GroupState):
    last_v, inc, resets, n = (
        state.get if state.exists else (0, 0, 0, 0)
    )
    chunks = [c for c in pdfs if len(c)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        ).sort_values("ts", kind="mergesort")
        for v in pdf["value"].to_numpy():
            v = int(v)
            if n > 0:
                d = v - last_v
                if d < 0:
                    inc += v
                    resets += 1
                else:
                    inc += d
            last_v = v
            n += 1
    state.update((last_v, inc, resets, n))
    yield pd.DataFrame(
        {
            "key": [str(key[0])],
            "increase": [inc],
            "n_resets": [resets],
            "n_samples": [n],
        }
    )


def stream_counter_rate(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Streaming twin of ``operators.timeseries.counter_rate``: the
    PromQL increase()-with-reset state machine carried across
    micro-batches via ``applyInPandasWithState`` (update mode). State
    per key is four scalars — bounded regardless of stream length; a
    restarted counter (negative delta) contributes its post-reset
    absolute value, exactly the batch rule, so the final update row
    equals the batch operator's output on the same data (parity
    pytest). Requires columns (key, ts, value:int-exact)."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _counter_rate_fn,
        outputStructType=_CR_OUT,
        stateStructType=_CR_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_GD_STATE = T.StructType(
    [
        T.StructField("first_v", T.LongType()),
        T.StructField("last_v", T.LongType()),
        T.StructField("prev_v", T.LongType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("first_t_us", T.LongType()),
        T.StructField("last_t_us", T.LongType()),
    ]
)
_GD_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("delta", T.LongType()),
        T.StructField("idelta", T.LongType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("span_us", T.LongType()),
    ]
)


def _gauge_delta_fn(key, pdfs, state: GroupState):
    first_v, last_v, prev_v, changes, n, first_t, last_t = (
        state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
    )
    chunks = [c for c in pdfs if len(c)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        ).sort_values("ts", kind="mergesort")
        ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        for t, v in zip(ts_us, pdf["value"].to_numpy()):
            t, v = int(t), int(v)
            if n == 0:
                first_v, first_t = v, t
            else:
                prev_v = last_v
                if v != last_v:
                    changes += 1
            last_v, last_t = v, t
            n += 1
    state.update((first_v, last_v, prev_v, changes, n, first_t, last_t))
    yield pd.DataFrame(
        {
            "key": [str(key[0])],
            "n_samples": [n],
            "delta": [last_v - first_v],
            "idelta": [last_v - prev_v if n >= 2 else None],
            "n_changes": [changes],
            "span_us": [last_t - first_t],
        }
    )


def stream_gauge_delta(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Streaming twin of ``operators.timeseries.gauge_delta``: the
    PromQL gauge delta()/idelta()/changes() family carried across
    micro-batches via ``applyInPandasWithState`` (update mode). State
    per key is seven scalars — bounded regardless of stream length;
    the final update row equals the batch operator's output on the
    same in-order data (parity pytest, incl. a value that flaps and
    returns). Requires columns (key, ts, value:int-exact)."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _gauge_delta_fn,
        outputStructType=_GD_OUT,
        stateStructType=_GD_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_VI_STATE = T.StructType(
    [
        T.StructField("cur_ver", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("n_snapshots", T.LongType()),
    ]
)
_VI_OUT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("version_md5", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("valid_to_us", T.LongType()),
        T.StructField("n_snapshots", T.LongType()),
    ]
)


def _version_intervals_fn(key, pdfs, state: GroupState):
    cur_ver, valid_from, n_snaps = (
        state.get if state.exists else (None, 0, 0)
    )
    url = str(key[0])
    out = {k: [] for k in ("version_md5", "valid_from_us", "valid_to_us", "n_snapshots")}
    chunks = [c for c in pdfs if len(c)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        ).sort_values("ts", kind="mergesort")
        ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        for t, ver in zip(ts_us, pdf["ver"].to_numpy()):
            t, ver = int(t), str(ver)
            if cur_ver is None:
                cur_ver, valid_from, n_snaps = ver, t, 1
            elif ver == cur_ver:
                n_snaps += 1
            else:
                out["version_md5"].append(cur_ver)
                out["valid_from_us"].append(valid_from)
                out["valid_to_us"].append(t)
                out["n_snapshots"].append(n_snaps)
                cur_ver, valid_from, n_snaps = ver, t, 1
    state.update((cur_ver, valid_from, n_snaps))
    yield pd.DataFrame(
        {
            "url": [url] * len(out["version_md5"]),
            "version_md5": out["version_md5"],
            "valid_from_us": out["valid_from_us"],
            "valid_to_us": out["valid_to_us"],
            "n_snapshots": out["n_snapshots"],
        }
    )


def stream_version_intervals(
    stream: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Streaming twin of ``operators.rollup.url_version_intervals``:
    the SCD2 page-version state machine carried across micro-batches
    via ``applyInPandasWithState`` (append mode). State per url is
    three scalars — the OPEN run only, bounded regardless of stream
    length; a version change EMITS the closed interval (half-open at
    the new version's first snapshot, exactly the batch rule), so the
    emitted set equals the batch operator's valid_to-not-null rows on
    the same in-order data (parity pytest incl. an A->B->A
    recurrence). The live run never emits — it is the state, exactly
    the batch NULL-valid_to row. Requires columns (url, ts,
    ver:string) — hash the text to ``ver`` upstream with ``md5``."""
    return stream.groupBy(url_col).applyInPandasWithState(
        _version_intervals_fn,
        outputStructType=_VI_OUT,
        stateStructType=_VI_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_hll_tier(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    key_col: str = "key",
    ts_col: str = "ts",
    item_col: str = "item",
    m: int = 256,
) -> DataFrame:
    """Streaming COUNT DISTINCT tier: the bucketed HyperLogLog
    register state (:func:`functions.sketches.hll_tier`) as a plain
    watermarked windowed aggregate. The per-row hash/rho projection is
    the SHARED :func:`functions.sketches.hll_point_registers` (one
    source of truth with the batch path), and register-wise max is
    associative+commutative, so cross-micro-batch state merge is
    exact — streaming register state is bit-identical to the batch
    tier on the same rows (parity-tested). State per (key, window) is
    <= m rows; the watermark bounds open windows. Estimate at read
    time with ``hll_tier_estimate``.
    """
    from spartan2_spark.functions.sketches import hll_point_registers

    pts = hll_point_registers(
        stream, key_col=key_col, time_col=ts_col, item_col=item_col, m=m
    )
    return (
        pts.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), "key", "reg")
        .agg(F.max("rho").cast("long").alias("max_rho"))
        .select(F.col("win.start").alias("bucket_ts"), "key", "reg", "max_rho")
    )


def stream_pow2_hist(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "v",
) -> DataFrame:
    """Streaming power-of-two histogram tier: the per-bucket counts of
    :func:`operators.histogram.pow2_histogram` as a watermarked
    windowed aggregate — count addition is the histogram merge, so
    cross-micro-batch state merge is exact and the streamed state is
    bit-identical to the batch histogram on the same rows
    (parity-tested). Serve quantiles downstream with
    ``histogram_quantile`` / ``sliding_hist_quantile`` — this stream
    IS their state producer at ingest time. State per (key, window)
    is <= 64 buckets.
    """
    v = F.col(value_col).cast("long")
    b = F.when(v == 0, F.lit(0)).otherwise(F.length(F.bin(v)))
    d = stream.filter(v >= 0).withColumn("__bucket", b.cast("int"))
    return (
        d.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col(key_col),
            F.col("__bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(F.col("win.start").alias("bucket_ts"), key_col, "bucket", "cnt")
    )
