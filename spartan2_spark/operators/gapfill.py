"""Gap-fill: densify each series' bucket axis, forward-fill, interpolate.

Reference semantics being generalized:
- the dense time axis + outer join that leaves NaN holes
  (/root/reference/spartan/tensor/tensor.py:113-117 — ``log_to_time``
  builds bins+1 ticks via np.linspace and outer-joins aggregates),
- BeatLex-style repair of missing intervals (north_star BASELINE.json:6):
  forward-fill then linear interpolation.

All pure column ops — ``sequence`` + ``explode`` for densification,
``last(ignorenulls)`` / ``first(ignorenulls)`` window frames for the
flanking values, arithmetic for the interpolation. Zero per-row Python.

Scale notes: the dense axis is generated per url from that url's own
(min, max) bucket — no global cross product. The two windows share one
partitioning (url), so Spark plans a single sort+exchange reused by
both frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

__all__ = [
    "densify",
    "gap_fill",
    "densify_fill",
    "gap_descriptors",
    "fill_from_descriptors",
]

# derived from the rollup module's single tier registry so any tier
# name valid there (incl. "1w") densifies here instead of KeyError-ing
from spartan2_spark.operators.rollup import TIER_WIDTH_S as _TIER_SECONDS  # noqa: E402


def _tier_step(tier_name: str) -> int:
    if tier_name not in _TIER_SECONDS:
        raise ValueError(
            f"unknown tier name {tier_name!r}; supported tiers: "
            f"{list(_TIER_SECONDS)}"
        )
    return _TIER_SECONDS[tier_name]


def densify(
    tier: DataFrame,
    tier_name: str = "1m",
    key: str = "url",
    bucket: str = "bucket_ts",
) -> DataFrame:
    """Left-join each series onto its own dense bucket axis.

    Missing buckets appear as rows with NULL measures — the relational
    analogue of the reference's NaN gap rows (tensor.py:117).
    """
    step = _tier_step(tier_name)
    span = tier.groupBy(key).agg(
        F.min(bucket).alias("__min_b"), F.max(bucket).alias("__max_b")
    )
    axis = span.select(
        key,
        F.explode(
            F.sequence(
                F.col("__min_b"),
                F.col("__max_b"),
                F.expr(f"INTERVAL {step} SECONDS"),
            )
        ).alias(bucket),
    )
    # gap = axis bucket with no tier row; detect via an explicit join
    # marker rather than null-ness of one measure column, so tiers
    # without a "cnt" column (or with nullable measures) work too
    marked = tier.withColumn("__real", F.lit(True))
    return (
        axis.join(marked, [key, bucket], "left")
        .withColumn("is_gap", F.col("__real").isNull())
        .drop("__real")
    )


def gap_descriptors(
    tier: DataFrame,
    tier_name: str = "1h",
    value_cols: tuple[str, ...] = ("vmean",),
    key: str = "url",
    bucket: str = "bucket_ts",
) -> DataFrame:
    """The sparse form of gap-fill: one row per gap run.

    A dense interpolated/ffilled series carries ZERO information beyond
    its real points — every filled value is a pure function of the two
    flanking real rows. So the engine persists gap DESCRIPTORS (a few %
    of the dense row count) and serves the dense series as a lazy view
    (``fill_from_descriptors``): the store-sparse / serve-dense pattern
    that keeps the 100TB sink proportional to real data, not to crawl
    interval length. One ``lead()`` window over the sparse tier, no
    explosion here.

    Schema: (key, gap_start, gap_end, __prev_t, __nxt_t,
    __prev_<v>, __nxt_<v> per value col); gap_start/gap_end are the
    first/last MISSING buckets of the run, inclusive.
    """
    step = _tier_step(tier_name)
    w = W.partitionBy(key).orderBy(bucket)
    t = F.unix_timestamp(F.col(bucket)).cast("double")
    paired = tier.select(
        key,
        bucket,
        t.alias("__prev_t"),
        F.lead(F.col(bucket)).over(w).alias("__nxt_b"),
        *[F.col(v).alias(f"__prev_{v}") for v in value_cols],
        *[F.lead(F.col(v)).over(w).alias(f"__nxt_{v}") for v in value_cols],
    )
    has_gap = F.col("__nxt_b") > F.col(bucket) + F.expr(f"INTERVAL {step} SECONDS")
    return paired.filter(F.col("__nxt_b").isNotNull() & has_gap).select(
        F.col(key),
        (F.col(bucket) + F.expr(f"INTERVAL {step} SECONDS")).alias("gap_start"),
        (F.col("__nxt_b") - F.expr(f"INTERVAL {step} SECONDS")).alias("gap_end"),
        "__prev_t",
        F.unix_timestamp(F.col("__nxt_b")).cast("double").alias("__nxt_t"),
        *[F.col(f"__prev_{v}") for v in value_cols],
        *[F.col(f"__nxt_{v}") for v in value_cols],
    )


def fill_from_descriptors(
    desc: DataFrame,
    tier_name: str = "1h",
    value_cols: tuple[str, ...] = ("vmean",),
    key: str = "url",
    bucket: str = "bucket_ts",
    method: str = "interp",
) -> DataFrame:
    """Expand gap descriptors to dense filled rows (the serve-dense
    half). Returns (key, bucket, <value_cols>) — filled rows only.

    Layout: the expansion is a narrow projection, so gap rows keep the
    descriptors' partitioning (in ``densify_fill``, the tier's url hash
    exchange): files per dt follow that AQE-sized exchange, not a spread.
    """
    step = _tier_step(tier_name)
    axis = desc.select(
        "*",
        F.explode(
            F.sequence(
                F.col("gap_start"),
                F.col("gap_end"),
                F.expr(f"INTERVAL {step} SECONDS"),
            )
        ).alias(bucket),
    )
    gt = F.unix_timestamp(F.col(bucket)).cast("double")
    out_cols = [F.col(key), F.col(bucket)]
    for v in value_cols:
        prev_v, nxt_v = F.col(f"__prev_{v}"), F.col(f"__nxt_{v}")
        if method == "ffill":
            fill = prev_v
        elif method == "interp":
            fill = prev_v + (nxt_v - prev_v) * (gt - F.col("__prev_t")) / (
                F.col("__nxt_t") - F.col("__prev_t")
            )
        else:
            raise ValueError(f"unknown gap-fill method {method!r}")
        out_cols.append(fill.alias(v))
    return axis.select(*out_cols)


def densify_fill(
    tier: DataFrame,
    tier_name: str = "1h",
    value_cols: tuple[str, ...] = ("vmean",),
    key: str = "url",
    bucket: str = "bucket_ts",
    method: str = "interp",
) -> DataFrame:
    """Densify + fill in one pass, windowing the SPARSE tier only:
    real rows pass through, gap rows come from
    ``fill_from_descriptors(gap_descriptors(tier))``.

    ``gap_fill(densify(tier))`` runs four running-frame windows (two
    sort orders) over the *densified* axis — 30-70x more rows than the
    tier itself when crawl intervals are long. This fused pipeline gets
    identical output from a single ``lead()`` window over the sparse
    tier: each consecutive (row, next-row) pair carries both flanking
    values, so the gap rows between them are generated by
    ``sequence``+``explode`` with the fill value computed inline from
    the pair — same float expression, bit-identical results, O(sparse)
    window cost instead of O(dense). Measured at sf0.1 (501k-row 1h
    tier -> 33M dense buckets, local[32]): 92s -> 5s cold.

    Leading/trailing NULL runs cannot occur (the axis spans each
    series' own min..max, endpoints are real rows), matching
    densify()+gap_fill() behaviour exactly.

    Output schema == input schema + ``is_gap``; non-value extra columns
    (e.g. ``cnt``) are NULL on gap rows, as with the join-based path.
    """
    real = tier.withColumn("is_gap", F.lit(False))
    desc = gap_descriptors(tier, tier_name, value_cols, key, bucket)
    filled = fill_from_descriptors(desc, tier_name, value_cols, key, bucket, method)
    dtypes = dict(tier.dtypes)
    gap_rows = filled.select(
        *[
            F.col(c)
            if c in value_cols or c in (key, bucket)
            else F.lit(None).cast(dtypes[c]).alias(c)
            for c in tier.columns
        ]
    ).withColumn("is_gap", F.lit(True))
    return real.unionByName(gap_rows)


def gap_fill(
    dense: DataFrame,
    value_cols: tuple[str, ...] = ("vmean",),
    key: str = "url",
    bucket: str = "bucket_ts",
    method: str = "interp",
) -> DataFrame:
    """Fill NULL gap rows per series.

    ``method='ffill'``: last non-null value carried forward.
    ``method='interp'``: linear interpolation between the flanking
    non-null buckets; runs that lead (no left flank) backfill from the
    right flank; runs that trail carry the left flank forward.

    Implementation: per value column,
      prev  = last(v, ignorenulls) over (asc,  unboundedPreceding..0)
      nxt   = last(v, ignorenulls) over (desc, unboundedPreceding..0)
      prev_t/nxt_t = same trick on the bucket epoch, non-null rows only
      fill  = prev + (nxt-prev) * (t-prev_t)/(nxt_t-prev_t)

    The "next non-null" side deliberately uses a DESCENDING running
    frame rather than ``rowsBetween(0, unboundedFollowing)``: Spark
    evaluates UnboundedFollowing frames by rescanning the frame per row
    (O(n^2) per partition), while a running frame is O(n). Measured:
    ~20x on 3M dense buckets.
    """
    t = F.unix_timestamp(F.col(bucket)).cast("double")
    fwd = W.partitionBy(key).orderBy(F.col(bucket).asc()).rowsBetween(W.unboundedPreceding, 0)
    bwd = W.partitionBy(key).orderBy(F.col(bucket).desc()).rowsBetween(W.unboundedPreceding, 0)

    out = dense
    for v in value_cols:
        present = F.col(v).isNotNull()
        prev_v = F.last(F.col(v), ignorenulls=True).over(fwd)
        nxt_v = F.last(F.col(v), ignorenulls=True).over(bwd)
        prev_t = F.last(F.when(present, t), ignorenulls=True).over(fwd)
        nxt_t = F.last(F.when(present, t), ignorenulls=True).over(bwd)
        if method == "ffill":
            filled = F.coalesce(F.col(v), prev_v)
        elif method == "interp":
            interp = prev_v + (nxt_v - prev_v) * (t - prev_t) / (nxt_t - prev_t)
            filled = (
                F.when(present, F.col(v))
                .when(prev_v.isNull(), nxt_v)  # leading run: backfill
                .when(nxt_v.isNull(), prev_v)  # trailing run: ffill
                .otherwise(interp)
            )
        else:
            raise ValueError(f"unknown gap-fill method {method!r}")
        out = out.withColumn(v, filled)
    return out
