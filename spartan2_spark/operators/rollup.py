"""Continuous-aggregate tier chain: raw -> 1m -> 1h -> 1d.

Re-expresses the reference's rollup (``TensorData.log_to_time``,
/root/reference/spartan/tensor/tensor.py:72-123 — equal-width time
binning + groupby-sum) as a materialized rollup ladder with
**re-aggregable state**. State is LONG format — one row per
``(url, bucket_ts, bin)`` carrying ``(cnt, vsum, vmin, vmax)`` — and
every coarser tier is computed FROM THE PREVIOUS TIER, never from raw:

    cnt   = sum(cnt)            vmin = min(vmin)   vmax = max(vmax)
    vsum  = sum(vsum)           mean = vsum / cnt   (finalized at read)
    per-bin rows merge by key    (sparse value histogram, relationally)

The sparse histogram IS the engine's mergeable quantile sketch, held
relationally instead of as an array column: ``bin`` is a deterministic
pure function of the value (no data-dependent centroids), so the merge
is **commutative and associative** — tier values are bit-identical at
any parallelism level (local[8] == local[32]) with no ordering
discipline needed. For the integer metrics the ladder rolls up (the
default rollup metric x = length(text)) the quantile is EXACT. This
is a deliberate departure from a classic t-digest, whose merge is
order-sensitive; a t-digest is still provided in
``spartan2_spark.functions.sketches`` for parity experiments.

Why long format and not ``array<struct<bin,cnt>>`` per bucket: every
tier hop becomes ONE scalar hash aggregation (partial map-side combine
+ final, fully inside whole-stage codegen) instead of
agg + explode + re-agg + join, and the hot path allocates no
per-group arrays (measured: the array representation's allocation
churn made the 16M-row chain GC-bound and killed N->4N scaling).
Arrays appear only at the read edge (``tier_view``) where cardinality
is already collapsed. Integer-valued metrics keep float sums exact
(< 2^53), so ``vsum`` is order-independent too.

Everything here is built-in column expressions — zero Python on the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

__all__ = [
    "TIERS",
    "canonical_text",
    "raw_points",
    "rollup_from_points",
    "rollup_tier_up",
    "tier_view",
    "bin_col",
    "unbin_col",
    "p95_from_hist",
    "recrawl_plan",
    "purge_plan",
    "consistency_audit",
    "tier_freshness",
    "tier_serving_plan",
    "tier_mode",
    "bucket_coverage",
    "frontier_interleave",
    "ohlc_bars",
    "ohlc_tier_up",
    "url_path_rollup",
    "url_version_intervals",
]

# tier name -> date_trunc unit (1w: ISO weeks, Monday-start in both
# Spark and DuckDB date_trunc — the long-retention tier above 1d).
# Insertion order IS the coarsening order; every tier-consuming helper
# below derives its unit/width/order maps from this dict (via
# _tier_units / TIER_WIDTH_S / _tier_order) so a tier name valid in one
# API can never KeyError in another — adding a tier here is the single
# point of extension.
TIERS = {"1m": "minute", "1h": "hour", "1d": "day", "1w": "week"}

# fixed bucket width in seconds per tier (1w: ISO weeks are a fixed
# 7 * 86400 s under the engine's UTC-pinned session timezone — no DST)
TIER_WIDTH_S = {"1m": 60, "1h": 3600, "1d": 86400, "1w": 604800}


def _tier_units(tiers) -> dict:
    """Validate tier names against :data:`TIERS`; return name -> unit."""
    bad = [t for t in tiers if t not in TIERS]
    if bad:
        raise ValueError(
            f"unknown tier name(s) {bad}; supported tiers: {list(TIERS)}"
        )
    return {t: TIERS[t] for t in tiers}


def _tier_order() -> dict:
    """name -> coarsening rank, derived from TIERS insertion order."""
    return {t: i for i, t in enumerate(TIERS)}


def bin_col(value: Column) -> Column:
    """Deterministic value -> long bin: the value itself, exact for the
    integer-valued metrics the ladder rolls up (length(text))."""
    return value.cast("long")


def unbin_col(bin_: Column) -> Column:
    """Bin -> representative double."""
    return bin_.cast("double")


def canonical_text(pages: DataFrame) -> DataFrame:
    """Per-url canonical extracted text: latest ``warc_ts`` wins, ties
    broken by lexicographically greatest sha256(text). Guarantees the
    byte-identical-text-per-url invariant (BASELINE.json input_hint);
    the digest is carried into manifests.

    One shuffle (window by url); at scale the window runs on the same
    hash partitioning the rollup uses, so AQE reuses the exchange.
    """
    # hash once before the window: text is often hundreds of KB per
    # page, and the Window and final Project don't share CSE — a second
    # sha2 in the projection would double the stage's dominant CPU cost
    w = W.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("text_sha256").desc()
    )
    return (
        pages.select(
            "url", "warc_ts", "text", F.sha2(F.col("text"), 256).alias("text_sha256")
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("url", F.col("text").alias("canonical_text"), "text_sha256")
    )


def raw_points(pages: DataFrame, metric: Column | None = None) -> DataFrame:
    """Project the crawl log to (url, ts, value) points.

    Default metric: x = length(text) (FIXTURES.md F1 documented default).
    Only the needed columns survive => parquet reader prunes html/lang.
    """
    metric = metric if metric is not None else F.length("text").cast("double")
    return pages.select(
        F.col("url"), F.col("warc_ts").alias("ts"), metric.alias("value")
    )


def rollup_from_points(points: DataFrame, tier: str = "1m") -> DataFrame:
    """raw -> first tier (long-format state). ONE hash aggregation:
    Scan -> partial HashAgg(url,bucket,bin) -> shuffle -> final HashAgg,
    entirely scalar, entirely inside whole-stage codegen.
    """
    unit = TIERS[tier]
    b = points.select(
        "url",
        F.date_trunc(unit, F.col("ts")).alias("bucket_ts"),
        F.col("value"),
        bin_col(F.col("value")).alias("bin"),
    )
    # drop null metrics (e.g. a crawl row with NULL text under the
    # default length(text) metric) before aggregating: counting them
    # would inflate cnt while the null-skipping vsum/vmin/vmax exclude
    # them — deflating vmean and poisoning the p95 histogram with a
    # NULL bin. count("value") keeps cnt null-consistent regardless.
    b = b.filter(F.col("value").isNotNull())
    return b.groupBy("url", "bucket_ts", "bin").agg(
        F.count("value").alias("cnt"),
        F.sum("value").alias("vsum"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def rollup_tier_up(state: DataFrame, tier: str) -> DataFrame:
    """tier N -> coarser tier N+1 from stored state only (never re-reads
    raw). ONE scalar hash aggregation — per-bin rows merge by key; all
    states commutative, so the result is identical at any parallelism
    or partitioning.
    """
    unit = TIERS[tier]
    return (
        state.groupBy(
            "url",
            F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
            "bin",
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


def p95_from_hist(hist: Column, cnt: Column, q: float = 0.95) -> Column:
    """Nearest-rank quantile from the sorted sparse histogram, evaluated
    with a single higher-order ``aggregate`` expression (JVM-side, no
    UDF): the smallest bin whose cumulative count reaches ceil(q*cnt).
    Matches DuckDB ``quantile_disc`` semantics.
    """
    target = F.ceil(F.lit(q) * cnt.cast("double")).cast("long")
    picked = F.aggregate(
        hist,
        F.struct(
            F.lit(0).cast("long").alias("seen"),
            F.lit(None).cast("long").alias("res"),
        ),
        lambda acc, e: F.struct(
            (acc["seen"] + e["cnt"]).alias("seen"),
            F.when(acc["res"].isNotNull(), acc["res"])
            .when(acc["seen"] + e["cnt"] >= target, e["bin"])
            .alias("res"),
        ),
        lambda acc: acc["res"],
    )
    return unbin_col(picked)


def tier_view(state: DataFrame, q: float = 0.95) -> DataFrame:
    """Finalize reader-facing aggregates from long-format state: one
    agg collapses the per-bin rows to one row per (url, bucket) — the
    sparse histogram becomes an array only HERE, at the read edge.

    mean = vsum/cnt (NEVER an average of averages); p95 from the sketch.
    """
    per_bucket = state.groupBy("url", "bucket_ts").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("vhist"),
    )
    return per_bucket.select(
        "url",
        "bucket_ts",
        "cnt",
        "vmin",
        "vmax",
        (F.col("vsum") / F.col("cnt")).alias("vmean"),
        p95_from_hist(F.col("vhist"), F.col("cnt"), q).alias("p95"),
    )


def late_repair_plan(
    points: DataFrame,
    seq_col: str = "seq",
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    seal_num: int = 8,
    seal_den: int = 10,
    watermark_days: int = 7,
) -> DataFrame:
    """Plan the minimal tier repair after out-of-order ingest: a point
    is LATE when its ingest sequence number lands past the seal cut
    (``seq > (max_seq * seal_num) div seal_den`` — the most recently
    ingested tail) while its EVENT time falls before the watermark
    (``ts < date_trunc('day', max_ts) - watermark_days``), i.e. into
    buckets every tier has already finalized. Returns one row per
    (tier, url, bucket) that must be recomputed, with the late-row
    count and the ingest-sequence range that dirtied it — exactly the
    work-list the checkpoint-manifest recompute (``plans/pipeline.py``
    manifest diff) consumes, but derived from the DATA rather than from
    manifest bookkeeping, so it also audits the manifests themselves.

    Exactness: the seal cut uses integer multiply-then-DIV (a double
    ``0.8 * max_seq`` disagrees with exact arithmetic once max_seq
    exceeds 2^53); bucket identity is calendar date_trunc; counts and
    seq ranges are BIGINTs.

    Plan shape: one 1-row bounds aggregate broadcast onto the scan, the
    late filter (pushable past the broadcast join), a 3-way tier
    explode of ONLY the late rows, and one hash aggregate — the explode
    multiplies the (small) late set, never the corpus. Scale-safe: cost
    is O(|late|), not O(|points|), after the filter.
    """
    unit_of = _tier_units(tiers)
    bounds = points.agg(
        F.max(seq_col).alias("__max_seq"),
        F.max("ts").alias("__max_ts"),
    )
    cut = F.expr(f"__max_seq * {seal_num} div {seal_den}")
    wm = F.date_trunc("day", F.col("__max_ts")) - F.expr(
        f"INTERVAL {watermark_days} DAYS"
    )
    late = (
        points.crossJoin(F.broadcast(bounds))
        .filter((F.col(seq_col) > cut) & (F.col("ts") < wm))
        .select("url", "ts", F.col(seq_col).alias("seq"))
    )
    tier_buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("tier"),
                F.unix_timestamp(
                    F.date_trunc(unit_of[t], F.col("ts"))
                ).alias("bucket_s"),
            )
            for t in tiers
        ]
    )
    return (
        late.select("url", "seq", F.explode(tier_buckets).alias("tb"))
        .groupBy(
            F.col("tb.tier").alias("tier"),
            "url",
            F.col("tb.bucket_s").alias("bucket_s"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_late"),
            F.min("seq").cast("long").alias("first_seq"),
            F.max("seq").cast("long").alias("last_seq"),
        )
    )


def url_churn(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Per-url content churn across crawl snapshots: how many DISTINCT
    text versions (md5 fingerprints) the crawler has observed vs how
    many times it fetched the page, plus the observation span. The
    re-crawl scheduling signal for a Common-Crawl-style corpus — a url
    with churn ~0 can drop to the monthly tier, churn ~1 needs the
    hourly tier — and the change-detection complement to
    ``canonical_text`` (which keeps ONE version; this measures how
    contested that choice was).

    Exactness: counts are exact distinct BIGINTs (md5 is deterministic
    on both engines); ``churn`` is one IEEE divide of exact sub-2^53
    integers — bit-identical cross-engine; single-snapshot urls emit
    NULL churn.

    Plan shape: one hash aggregate keyed by url with a distinct-count
    (Spark expands to the standard two-phase partial-distinct plan —
    no window, no self-join). The md5 is computed in the scan
    projection, so the wide text column dies before the shuffle.
    """
    n_snap = F.count(F.lit(1)).cast("long")
    n_ver = F.countDistinct(F.md5(F.col(text_col))).cast("long")
    return (
        pages.groupBy(F.col(url_col).alias("url"))
        .agg(
            n_snap.alias("n_snapshots"),
            n_ver.alias("n_versions"),
            F.unix_micros(F.min(ts_col).cast("timestamp")).alias("first_us"),
            F.unix_micros(F.max(ts_col).cast("timestamp")).alias("last_us"),
        )
        .select(
            "url",
            "n_snapshots",
            "n_versions",
            "first_us",
            "last_us",
            F.when(
                F.col("n_snapshots") > 1,
                (F.col("n_versions") - 1).cast("double")
                / (F.col("n_snapshots") - 1).cast("double"),
            ).alias("churn"),
        )
    )


def recrawl_plan(
    pages: DataFrame,
    now_us: int,
    k_per_domain: int = 10,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """The crawl scheduler's work list: top-``k_per_domain`` urls to
    re-fetch next, ranked by EXPECTED MISSED CHANGES since the last
    crawl — observed change rate x staleness:

        score = (n_versions - 1) * (now - last_crawl) / observed_span

    (n_versions from distinct text fingerprints, the :func:`url_churn`
    signal). A url that changed 9 times over 9 days and is 2 days
    stale scores 2.0 — two expected missed versions; a dead page
    scores 0 and drops off the schedule. Urls with a single snapshot
    have no observable rate: they rank BELOW scored urls (cold-start
    belongs to the discovery crawler, not the re-crawl scheduler) but
    are kept, flagged ``cold=1``, so the caller can route them.
    ``now_us`` is an explicit epoch-microsecond pin — the plan is a
    pure function of (corpus, now), re-runnable byte-identically.

    Exactness: the score numerator (n_versions-1) * staleness_us and
    denominator span_us are exact BIGINTs; score is ONE IEEE divide —
    bit-identical cross-engine. Ranking orders by (cold, -score, url):
    float ties (same exact num/den ratio) break on the url string, so
    the emitted rank is deterministic everywhere.

    Plan shape: the url_churn hash aggregate (text dies at the scan —
    only its md5 crosses the shuffle), then one per-domain
    row_number window; Spark's WindowGroupLimit pushes the top-k
    below the exchange, so at web scale each domain ships only
    ~k candidate rows, not its whole url set.
    """
    churn = url_churn(pages, url_col=url_col, ts_col=ts_col, text_col=text_col)
    dom = F.substring_index(F.col("url"), "/", 1)
    staleness = F.lit(int(now_us)) - F.col("last_us")
    span = F.col("last_us") - F.col("first_us")
    scored = churn.select(
        dom.alias("domain"),
        "url",
        "n_versions",
        staleness.alias("staleness_us"),
        span.alias("span_us"),
        F.when(
            (F.col("n_snapshots") > 1) & (F.col("last_us") > F.col("first_us")),
            (
                (F.col("n_versions") - 1) * staleness
            ).cast("double")
            / span.cast("double"),
        ).alias("score"),
    ).select(
        "*", F.when(F.col("score").isNull(), 1).otherwise(0).alias("cold")
    )
    w = W.partitionBy("domain").orderBy(
        F.col("cold").asc(), F.col("score").desc(), F.col("url").asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= int(k_per_domain))
    )


def purge_plan(
    points: DataFrame,
    forget: Column,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
) -> DataFrame:
    """Right-to-be-forgotten work-list across retention tiers: for the
    urls marked by the ``forget`` predicate, one row per (tier, url)
    with the state rows that must be deleted, the buckets they span,
    and the raw points they represent — exactly the per-partition input
    an Iceberg equality-delete / rewrite-files pass consumes (the row
    analogue of ``retention.apply_retention``'s partition drops: purge
    removes a URL everywhere, retention removes a dt everywhere).

    ``n_points`` is invariant across tiers for a url (every tier
    represents the same raw points), so the plan double-checks the tier
    chain while it plans the delete.

    Plan shape: the forget predicate is applied at the scan (pushable —
    it references only scan columns), then the 1m state is built once
    and tiered up; the three per-tier aggregates hang off the SAME 1m
    aggregation exchange, which Spark de-duplicates via ReusedExchange,
    so the raw points are read and bucketed exactly once. Cost is
    O(|victim points|), not O(|corpus|). At web scale the forget set
    usually arrives as a table — pass
    ``forget=F.col("url").isin(...)`` for tiny literal sets or
    semi-join the points upstream for large ones; the tier math is
    unchanged either way.
    """
    state = rollup_from_points(points.filter(forget), tiers[0])
    out = None
    for i, tier in enumerate(tiers):
        if i > 0:
            state = rollup_tier_up(state, tier)
        g = (
            state.groupBy("url")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_state_rows"),
                F.countDistinct("bucket_ts").cast("long").alias("n_buckets"),
                F.sum("cnt").cast("long").alias("n_points"),
                F.unix_timestamp(F.min("bucket_ts")).alias("first_bucket_s"),
                F.unix_timestamp(F.max("bucket_ts")).alias("last_bucket_s"),
            )
            .select(
                F.lit(tier).alias("tier"),
                "url",
                "n_state_rows",
                "n_buckets",
                "n_points",
                "first_bucket_s",
                "last_bucket_s",
            )
        )
        out = g if out is None else out.unionAll(g)
    return out


def consistency_audit(
    points: DataFrame,
    from_tier: str = "1m",
    to_tier: str = "1h",
) -> DataFrame:
    """Continuous-aggregate re-aggregability audit: recompute the
    coarse tier DIRECTLY from raw points and TIERED-UP from the fine
    tier's stored state, full-outer-join the two on (url, bucket, bin),
    and report per url how many state keys disagree in any of
    cnt/vsum/vmin/vmax (null-safe, so a key present on only one side
    counts as a mismatch). A healthy ladder returns ``n_mismatch = 0``
    everywhere — this is the production invariant the tier chain rests
    on (every state field is a commutative monoid, so tier-up must be
    exact), and the check a pipeline runs after a manifest-driven
    partial recompute to prove the repair seam is invisible.

    Plan shape: two partial+final hash aggregations over the same scan
    (Spark reuses the scan; the minute->hour tier-up re-aggregates the
    SMALL state, not raw), then a full outer sort-merge join whose keys
    equal both aggregations' grouping keys — the agg output
    partitioning satisfies the join, so no third shuffle is planned.
    Scale-safe: audit cost ~ 2x the rollup itself, run per dt-partition
    in practice.
    """
    direct = rollup_from_points(points, to_tier)
    tiered = rollup_tier_up(rollup_from_points(points, from_tier), to_tier)
    d, t = direct.alias("d"), tiered.alias("t")
    j = d.join(t, on=["url", "bucket_ts", "bin"], how="full_outer")
    agree = (
        F.col("d.cnt").eqNullSafe(F.col("t.cnt"))
        & F.col("d.vsum").eqNullSafe(F.col("t.vsum"))
        & F.col("d.vmin").eqNullSafe(F.col("t.vmin"))
        & F.col("d.vmax").eqNullSafe(F.col("t.vmax"))
    )
    return (
        j.select(
            "url",
            F.when(~agree, F.lit(1)).otherwise(F.lit(0)).alias("mm"),
            F.coalesce(F.col("d.cnt"), F.lit(0)).alias("cnt"),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("mm").cast("long").alias("n_mismatch"),
            F.sum("cnt").cast("long").alias("n_points"),
        )
    )


def tier_freshness(
    points: DataFrame,
    watermark_lag_s: int = 5400,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
) -> DataFrame:
    """Continuous-aggregate watermark audit — "how far behind the raw
    frontier is each retention tier?": a tier materializes only SEALED
    buckets (bucket end <= the ingest watermark, here frontier -
    ``watermark_lag_s``), so per url and tier the freshest served point
    is the last sealed bucket's end, and the serving lag is
    ``url raw frontier - materialized-through`` (clamped at 0 when the
    watermark has already sealed the frontier's own bucket). Emits one
    row per tier: urls tracked, urls with NO sealed bucket yet
    (too young to serve from that tier), sealed state buckets, and the
    max/total lag — the monitor that tells an operator the 1d tier is
    (correctly) up to a day staler than 1m, and catches a stuck
    materializer when lag grows past tier width + watermark.

    Exactness: all lags are exact epoch-microsecond BIGINT arithmetic
    on calendar-truncated buckets; no floats anywhere.

    Plan shape: the (url, minute-bucket) state keys are distinct-ed
    ONCE from raw (the 1m tier's own aggregation key — this relation is
    tier state, not corpus), coarser tiers re-distinct that small
    relation; each tier's per-url aggregate joins the per-url frontier
    on url (all shuffles keyed on url); the 3 tier branches union.
    Cost is O(|state|), not O(|points|), after the first distinct.
    """
    unit_of = _tier_units(tiers)
    width_of = {t: TIER_WIDTH_S[t] for t in tiers}
    from spartan2_spark.operators.barrier import barrier

    # barrier all three shared relations: each is referenced once per
    # tier branch, and without the checkpoint every branch re-scans raw
    # (9 parquet scans measured in PLAN_AUDIT; 0 after). frontier and
    # the bucket keys are state-sized; gbounds is one row.
    frontier = points.groupBy("url").agg(
        F.unix_micros(F.max("ts").cast("timestamp")).alias("raw_max_us")
    ).transform(barrier)
    # global watermark: frontier of the whole corpus minus the lag
    gbounds = points.agg(
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.lit(watermark_lag_s * 1_000_000)
        ).alias("__wm_us")
    ).transform(barrier)
    b1m = points.select(
        "url", F.date_trunc("minute", F.col("ts")).alias("b")
    ).distinct().transform(barrier)
    out = None
    for t in tiers:
        wid_us = width_of[t] * 1_000_000
        bt = (
            b1m
            if t == "1m"
            else b1m.select(
                "url", F.date_trunc(unit_of[t], F.col("b")).alias("b")
            ).distinct()
        )
        sealed = (
            bt.crossJoin(F.broadcast(gbounds))
            .withColumn("end_us", F.unix_micros(F.col("b")) + F.lit(wid_us))
            .filter(F.col("end_us") <= F.col("__wm_us"))
            .groupBy("url")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sealed"),
                F.max("end_us").alias("mat_through_us"),
            )
        )
        lag = F.greatest(
            F.lit(0).cast("long"),
            F.col("raw_max_us") - F.col("mat_through_us"),
        )
        per_url = frontier.join(sealed, "url", "left").select(
            "url",
            F.coalesce(F.col("n_sealed"), F.lit(0)).alias("n_sealed"),
            F.when(F.col("mat_through_us").isNotNull(), lag).alias("lag_us"),
        )
        row = per_url.agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.sum(F.when(F.col("n_sealed") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_unmaterialized"),
            F.sum("n_sealed").cast("long").alias("n_sealed_buckets"),
            F.max("lag_us").alias("max_lag_us"),
            F.sum("lag_us").cast("long").alias("sum_lag_us"),
        ).select(
            F.lit(t).alias("tier"),
            "n_urls",
            "n_unmaterialized",
            "n_sealed_buckets",
            "max_lag_us",
            "sum_lag_us",
        )
        out = row if out is None else out.unionByName(row)
    return out


def tier_serving_plan(
    points: DataFrame,
    eps: float = 50.0,
) -> DataFrame:
    """Error-budget tier selection — "serve each url from the COARSEST
    retention tier that stays inside the error budget": a tier's
    serving error for a url is its worst per-bucket value spread
    (max over buckets of bucket vmax - vmin; any point served as its
    bucket aggregate is off by at most the spread), and the plan picks
    per url the coarsest of 1d/1h/1m whose spread <= ``eps``, falling
    back to raw. Spread is monotone in bucket width, so the choice is
    well-defined; the planner is how a dashboard query router decides
    to touch 1/1440th of the data when the series is smooth enough.

    Exactness: spreads are max/min aggregates of the (exact) metric —
    integral for integer metrics — and the tier pick is a
    pure threshold CASE; no floats beyond the metric itself.

    Plan shape: the 1m state is aggregated ONCE from raw, coarser
    tiers re-aggregate the state (never raw); each tier branch then
    collapses bins per (url, bucket) and takes a per-url max — all
    shuffles keyed on url — and the three 1-row-per-url branches join
    on url. Cost is O(|state|), not O(|points|), past the first hop.
    """
    s1m = rollup_from_points(points, "1m")
    s1h = rollup_tier_up(s1m, "1h")
    s1d = rollup_tier_up(s1h, "1d")

    def spread(state: DataFrame, name: str) -> DataFrame:
        return (
            state.groupBy("url", "bucket_ts")
            .agg(
                (F.max("vmax") - F.min("vmin")).alias("sp"),
            )
            .groupBy("url")
            .agg(F.max("sp").alias(name))
        )

    j = (
        spread(s1m, "spread_1m")
        .join(spread(s1h, "spread_1h"), "url")
        .join(spread(s1d, "spread_1d"), "url")
    )
    pick = (
        F.when(F.col("spread_1d") <= F.lit(eps), F.lit("1d"))
        .when(F.col("spread_1h") <= F.lit(eps), F.lit("1h"))
        .when(F.col("spread_1m") <= F.lit(eps), F.lit("1m"))
        .otherwise(F.lit("raw"))
    )
    return j.select(
        "url", "spread_1m", "spread_1h", "spread_1d",
        pick.alias("serve_tier"),
    )


def tier_mode(state: DataFrame) -> DataFrame:
    """Serve the per-bucket MODE from tier state without touching raw:
    the long-format sparse histogram already holds (bin, cnt) rows, so
    the most frequent value per (url, bucket) is one scalar hash
    aggregate — ``max(struct(cnt, -bin))`` picks the highest count
    with ties broken toward the SMALLEST bin, deterministically on any
    engine and at any parallelism. The categorical complement of
    ``p95_from_hist``/``histogram_quantile`` on the same state: "the
    typical page size this hour", served from 1/1440th of the data.

    Exactness: counts and bins are BIGINT; only the closing
    representative ``mode_value`` goes through ``unbin_col`` (exact).

    Plan shape: ONE hash aggregate on (url, bucket_ts) — partial
    map-side combine applies, no window, no join, single shuffle.
    """
    picked = F.max(
        F.struct(F.col("cnt").alias("c"), (-F.col("bin")).alias("nb"))
    )
    return (
        state.groupBy("url", "bucket_ts")
        .agg(
            F.sum("cnt").cast("long").alias("cnt_total"),
            picked.alias("__m"),
        )
        .select(
            "url",
            "bucket_ts",
            "cnt_total",
            (-F.col("__m.nb")).cast("long").alias("mode_bin"),
            F.col("__m.c").cast("long").alias("mode_cnt"),
            unbin_col(-F.col("__m.nb")).alias("mode_value"),
        )
    )


def bucket_coverage(state: DataFrame, width_s: int) -> DataFrame:
    """Tier completeness audit: per url, how much of the series' own
    [first, last] bucket span the stored tier state actually covers.
    ``expected`` is the arithmetic bucket count of the span at the
    tier's width (``(last - first) / width + 1`` — integer division on
    already-aligned bucket timestamps, no sequence materialization),
    ``present`` the distinct buckets held, ``missing`` their gap — the
    store-sparse/serve-dense contract's data-derived audit (a url with
    missing > 0 is exactly the gap-fill workload
    ``operators/gapfill`` synthesizes at serve time, and a healthy
    fully-crawled url reports coverage 1.0).

    Exactness: span, expected, present and missing are pure BIGINT
    (state buckets are distinct per (url, bucket) by construction, so
    ``count`` equals the distinct count without a distinct pass when
    fed 1-row-per-bucket tier views; callers passing long-format
    sparse-histogram state get the explicit distinct below); coverage
    is the single IEEE divide.

    Plan shape: one (url, bucket_ts) group-dedup with map-side partial
    combine (the shuffle carries one row per bucket, not per bin),
    then a per-url hash aggregate whose exchange moves only that
    1-row-per-bucket relation — 1/width'th of the tier state at worst.
    """
    b = F.unix_timestamp(F.col("bucket_ts").cast("timestamp"))
    return (
        state.groupBy("url", b.alias("b_s"))
        .agg(F.lit(1))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("present"),
            F.min("b_s").cast("long").alias("first_s"),
            F.max("b_s").cast("long").alias("last_s"),
        )
        .select(
            "url",
            "present",
            "first_s",
            "last_s",
            F.expr(
                f"(last_s - first_s) DIV {int(width_s)}"
            ).alias("span_buckets"),
        )
        .select(
            "url",
            "present",
            "first_s",
            "last_s",
            (F.col("span_buckets") + 1).alias("expected"),
            (F.col("span_buckets") + 1 - F.col("present")).alias("missing"),
            (
                F.col("present").cast("double")
                / (F.col("span_buckets") + 1).cast("double")
            ).alias("coverage"),
        )
    )


def url_version_intervals(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """SCD2 page-version history from crawl snapshots: per url, the
    validity interval of each CONSECUTIVE run of byte-identical text —
    "what did this page say between May 3 and May 19" as a relation,
    the point-in-time complement of :func:`url_churn`'s distinct-
    version count (churn says HOW OFTEN a page changes; this says WHEN
    and TO WHAT). Serve point-in-time lookups by as-of joining a probe
    timestamp into (valid_from_us, valid_to_us].

    A version that recurs after an intervening change (A -> B -> A)
    yields two intervals — run semantics, not distinct semantics: the
    timeline is what the crawler actually observed.

    Exactness: version identity is md5 of the raw text bytes (the
    north rule's byte-identical-text discipline — no normalization),
    interval bounds are exact epoch-us BIGINT; ``valid_to_us`` is the
    NEXT run's first snapshot (half-open interval) and NULL for the
    live current version.

    Plan shape: two url-keyed window passes (change flag via lag, run
    id via running sum) + one (url, run) aggregate + one lead window —
    all reusing the same hash(url) partitioning, so the operator adds
    ONE shuffle; per-url snapshot counts are retention-bounded.
    """
    w = W.partitionBy(url_col).orderBy(ts_col)
    runs = (
        pages.select(
            F.col(url_col).alias("url"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t_us"),
            F.md5(F.col(text_col)).alias("ver"),
        )
        .withColumn(
            "__chg",
            F.when(
                F.lag("ver").over(
                    W.partitionBy("url").orderBy("t_us")
                ).eqNullSafe(F.col("ver")),
                0,
            ).otherwise(1),
        )
        .withColumn(
            "__run",
            F.sum("__chg").over(
                W.partitionBy("url")
                .orderBy("t_us")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("url", "__run")
        .agg(
            F.min_by("ver", "t_us").alias("version_md5"),
            F.min("t_us").alias("valid_from_us"),
            F.count(F.lit(1)).cast("long").alias("n_snapshots"),
        )
    )
    wl = W.partitionBy("url").orderBy("__run")
    return runs.select(
        "url",
        "version_md5",
        "valid_from_us",
        F.lead("valid_from_us").over(wl).alias("valid_to_us"),
        "n_snapshots",
    )


def first_seen_rate(
    df: DataFrame,
    url_col: str = "url",
    time_col: str = "ts",
) -> DataFrame:
    """Crawl-frontier novelty per day: how much of each day's fetch
    volume was urls the crawl had NEVER seen before that day. Returns
    per day: fetches, distinct urls touched, novel urls (global first
    fetch fell on that day), and novelty_ratio = novel/distinct — the
    discovery-vs-refresh split every crawl scheduler watches (a frontier
    going stale shows as novelty decaying toward 0 while ``recrawl_plan``
    keeps the refresh half honest; ``url_churn`` scores content change,
    this scores REACH).

    Exactness: day buckets are ``date_trunc`` on the exact timestamp;
    first-seen day is an integer min of epoch days; all counts BIGINT;
    the closing ratio is one IEEE divide.

    Plan shape: one (url) hash aggregate for global first-seen (map-side
    combinable), one (day) aggregate of its one-row-per-url output, one
    (day) aggregate of the raw fetches, and a join of two
    one-row-per-day relations — at 100 TB both join inputs are
    O(days), so the join broadcasts; nothing heavier than one
    url-keyed exchange touches the raw table.
    """
    pts = df.select(
        F.col(url_col).alias("url"),
        F.date_trunc("day", F.col(time_col)).cast("date").alias("day"),
    )
    per_day = pts.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("fetches"),
        F.count_distinct("url").cast("long").alias("distinct_urls"),
    )
    novel = (
        pts.groupBy("url")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("novel_urls"))
    )
    return (
        per_day.join(F.broadcast(novel), "day", "left")
        .select(
            "day",
            "fetches",
            "distinct_urls",
            F.coalesce(F.col("novel_urls"), F.lit(0))
            .cast("long")
            .alias("novel_urls"),
            (
                F.coalesce(F.col("novel_urls"), F.lit(0)).cast("double")
                / F.col("distinct_urls").cast("double")
            ).alias("novelty_ratio"),
        )
    )


def ohlc_bars(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "key",
    time_col: str = "ts",
    value_col: str = "value",
    qty_col: str | None = None,
) -> DataFrame:
    """Open/high/low/close candle rollup per (key, bucket) — the
    first/last continuous-aggregate family the cnt/sum/min/max tier
    state cannot express (TimescaleDB ``candlestick_agg`` shape;
    open = value at the bucket's earliest sample, close at its
    latest). With ``qty_col``, also volume and exact VWAP inputs
    (``pvsum`` = sum(value*qty), ``volume`` = sum(qty)); ``vwap`` is
    ONE IEEE divide of the two exact integers.

    Exactness: ``value_col`` (and ``qty_col``) must be exact integers.
    Endpoint picks are LEXICOGRAPHIC min/max of the (epoch_us, value)
    struct, so tied timestamps replay identically on any engine and —
    critically — the whole state is **re-aggregable**: min/max of
    structs is associative and commutative, so a 1h bar built from 1m
    bar state (min of opens' structs, max of closes', min/max/sums of
    the rest) is bit-identical to one built from raw. Same discipline
    as the cnt/vsum/vmin/vmax tier ladder; see the tier-up parity
    test.

    Plan shape: ONE scalar hash aggregation (partial map-side combine
    + final) — no window, no join, single shuffle on (key, bucket).
    """
    unit = TIERS[tier]
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    v = F.col(value_col).cast("long")
    base = df.select(
        F.col(key_col).alias("key"),
        F.date_trunc(unit, F.col(time_col)).alias("bucket_ts"),
        us.alias("t_us"),
        v.alias("v"),
        *(
            [F.col(qty_col).cast("long").alias("q")]
            if qty_col
            else []
        ),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min(F.struct("t_us", "v")).getField("t_us").alias("open_ts_us"),
        F.min(F.struct("t_us", "v")).getField("v").alias("open"),
        F.max(F.struct("t_us", "v")).getField("t_us").alias("close_ts_us"),
        F.max(F.struct("t_us", "v")).getField("v").alias("close"),
        F.min("v").alias("low"),
        F.max("v").alias("high"),
    ]
    if qty_col:
        aggs += [
            F.sum("q").cast("long").alias("volume"),
            F.sum(F.col("v") * F.col("q")).cast("long").alias("pvsum"),
        ]
    out = base.groupBy("key", "bucket_ts").agg(*aggs)
    if qty_col:
        out = out.withColumn(
            "vwap", F.col("pvsum").cast("double") / F.col("volume").cast("double")
        )
    return out


def ohlc_tier_up(state: DataFrame, tier: str) -> DataFrame:
    """Coarser OHLC bars FROM STORED BAR STATE only (never re-reads
    raw): min/max of the (ts, value) endpoint structs is associative,
    so the merged open/close are exactly the raw-computed ones. ONE
    scalar hash aggregation, same discipline as ``rollup_tier_up``.
    Volume/pvsum columns merge by sum when present.
    """
    unit = TIERS[tier]
    has_vol = "volume" in state.columns
    aggs = [
        F.sum("cnt").cast("long").alias("cnt"),
        F.min(F.struct("open_ts_us", "open")).getField("open_ts_us").alias(
            "open_ts_us"
        ),
        F.min(F.struct("open_ts_us", "open")).getField("open").alias("open"),
        F.max(F.struct("close_ts_us", "close")).getField("close_ts_us").alias(
            "close_ts_us"
        ),
        F.max(F.struct("close_ts_us", "close")).getField("close").alias("close"),
        F.min("low").alias("low"),
        F.max("high").alias("high"),
    ]
    if has_vol:
        aggs += [
            F.sum("volume").cast("long").alias("volume"),
            F.sum("pvsum").cast("long").alias("pvsum"),
        ]
    out = state.groupBy(
        "key", F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts")
    ).agg(*aggs)
    if has_vol:
        out = out.withColumn(
            "vwap", F.col("pvsum").cast("double") / F.col("volume").cast("double")
        )
    return out


def url_path_rollup(
    df: DataFrame,
    url_col: str = "url",
    max_depth: int = 3,
    bytes_col: str | None = None,
) -> DataFrame:
    """Sitemap-tree rollup: aggregate fetch counts (and bytes) per url
    path PREFIX up to ``max_depth`` segments — the "which directories
    of this site are heavy" view a crawl operator reads next to
    ``first_seen_rate``'s novelty and ``crawl_budget_apportion``'s
    quotas. Each url contributes one row per ancestor prefix
    (``a.com``, ``a.com/x``, ``a.com/x/y``), so sibling subtrees sum
    into their parent exactly.

    Exactness: prefixes are pure string slicing (split + slice +
    array_join — identical in any engine); counts/bytes are BIGINT.

    Plan shape: one generate (explode of <= max_depth prefixes per
    url) + ONE hash aggregate on the prefix — map-side combinable;
    output cardinality is bounded by the distinct-prefix universe,
    which is corpus-vocabulary-sized, not fetch-sized.
    """
    parts = F.split(F.col(url_col), "/")
    depth = F.least(F.lit(max_depth), F.size(parts))
    prefixes = F.transform(
        F.sequence(F.lit(1), depth),
        lambda i: F.array_join(F.slice(parts, 1, i), "/"),
    )
    base = df.select(
        F.explode(prefixes).alias("prefix"),
        *([F.col(bytes_col).cast("long").alias("b")] if bytes_col else []),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("fetches")]
    if bytes_col:
        aggs.append(F.sum("b").cast("long").alias("bytes"))
    return base.groupBy("prefix").agg(*aggs).withColumn(
        "depth", (F.size(F.split(F.col("prefix"), "/"))).cast("long")
    )


def frontier_interleave(
    df: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    priority_col: str = "priority",
) -> DataFrame:
    """Politeness-ordered crawl frontier: the global fetch order a
    single-queue scheduler should emit so that no domain is hit twice
    before every other domain with pending work is hit once. Each
    domain ranks its urls by (priority DESC, url ASC); the global order
    is (rank ASC, domain ASC, url ASC) — i.e. round 1 takes every
    domain's best url, round 2 every domain's second-best, and so on.
    The sequencing complement of ``crawl_budget_apportion`` (which
    decides HOW MANY fetches a domain gets, this decides WHEN) and the
    consumer of ``recrawl_plan``'s priority scores.

    Returns (url, domain, rank_in_domain, position) with position a
    dense global 1-based id. All-integer, engine-deterministic: the
    order key (rank, domain, url) is unique because (domain, url) is
    deduped on entry.

    Plan shape: one dedup aggregate on (domain, url) keeping max
    priority, ONE window partitioned by domain (per-domain frontier
    size is politeness-bounded in practice; for a pathological
    mega-domain, pre-filter to the per-domain budget from
    crawl_budget_apportion first), then a DISTRIBUTED global ranking
    (range repartition + local number + broadcast offsets — no
    single-partition global sort; `partitioning.global_row_numbers`).
    """
    from pyspark.sql import Window as W

    from spartan2_spark.operators.partitioning import global_row_numbers

    d = (
        df.select(
            F.col(domain_col).alias("domain"),
            F.col(url_col).alias("url"),
            F.col(priority_col).cast("long").alias("priority"),
        )
        .groupBy("domain", "url")
        .agg(F.max("priority").alias("priority"))
    )
    w = W.partitionBy("domain").orderBy(F.col("priority").desc(), F.col("url").asc())
    ranked = d.select(
        "url",
        "domain",
        F.row_number().over(w).cast("long").alias("rank_in_domain"),
    )
    out = global_row_numbers(
        ranked, ["rank_in_domain", "domain", "url"], id_col="position"
    )
    return out.select(
        "url", "domain", "rank_in_domain", F.col("position").cast("long").alias("position")
    )


def crawl_budget_apportion(
    df: DataFrame,
    budget: int,
    key_col: str = "domain",
    weight_col: str = "weight",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed crawl
    budget across domains proportional to integer weights — the
    allocator that turns ``recrawl_plan``'s expected-missed-changes
    scores into per-domain fetch quotas that sum EXACTLY to the
    budget. Every domain gets ``floor(budget * w / W)``; the leftover
    seats go one each to the largest fractional remainders
    (ties broken by key, so the allocation is engine-deterministic
    and reproducible across runs/cluster sizes — a scheduler must
    never flap on re-plan).

    Exactness: base quota is ``(budget * w) DIV W`` and the remainder
    is the exact integer ``budget * w - base * W`` — no float share
    whose rounding could make quotas sum to budget±1. Weights and
    budget must keep ``budget * w`` under 2^63 (true for any real
    fetch budget).

    Plan shape: one weight-sum aggregate broadcast back (1 row), then
    the leftover +1s are decided by a DISTRIBUTED global ranking
    (``global_row_numbers``: range repartition + local windows +
    broadcast offsets — never a single-partition ORDER BY window), and
    the leftover count itself is a second 1-row broadcast. Everything
    that crosses an exchange is one row per domain.
    """
    from spartan2_spark.operators.partitioning import global_row_numbers

    b = int(budget)
    if b < 0:
        raise ValueError("crawl_budget_apportion wants budget >= 0")
    g = df.select(
        F.col(key_col).alias("key"),
        F.col(weight_col).cast("long").alias("w"),
    )
    from spartan2_spark.operators.barrier import barrier

    # barrier: the weight census feeds the total, the base shares, the
    # leftover count and the ranking — unbarriered each branch re-scans
    # the caller's raw input (6x in PLAN_AUDIT); the census is
    # key-sized
    g = barrier(g)
    tot = g.agg(F.sum("w").cast("long").alias("wsum"))
    base = g.crossJoin(F.broadcast(tot)).select(
        "key",
        "w",
        F.expr(f"(CAST({b} AS BIGINT) * w) DIV wsum").alias("base"),
        (
            F.lit(b) * F.col("w")
            - F.expr(f"(CAST({b} AS BIGINT) * w) DIV wsum") * F.col("wsum")
        )
        .cast("long")
        .alias("rem"),
    )
    leftover = base.agg(
        (F.lit(b) - F.sum("base")).cast("long").alias("L")
    )
    ranked = global_row_numbers(
        base, [F.col("rem").desc(), F.col("key").asc()], id_col="rank"
    )
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "key",
            "w",
            "base",
            "rem",
            (
                F.col("base")
                + F.when(F.col("rank") <= F.col("L"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )


def politeness_plan(
    pages: DataFrame,
    delay_ms: int,
    deadline_s: int,
    url_col: str = "url",
) -> DataFrame:
    """Politeness-constrained re-crawl feasibility per domain — the
    scheduler check that pairs with :func:`recrawl_plan`'s work list:
    one fetch per ``delay_ms`` per domain (the robots.txt crawl-delay
    model) means a domain with f urls needs ``(f - 1) * delay_ms`` of
    wall clock NO amount of parallelism can compress (fetches within a
    domain are serialized by politeness; domains are independent).
    Emits per domain: fetch count, the serialized ``crawl_ms``, the
    slack against the crawl-window deadline, a ``feasible`` flag
    (infeasible domains need a longer window or a sitemap diff, not
    more hosts), and the domain's exact ``share_ppm`` of total fleet
    busy-time (parts-per-million, the host-assignment weight).

    Exactness: every column is exact BIGINT arithmetic — the ppm share
    is integer cross-multiplication ``crawl_ms * 1_000_000 / total``
    under integer division, never a float percent.

    Plan shape: one hash aggregate on the domain prefix (map-side
    combinable; url strings die at the scan — only the prefix crosses
    the shuffle), then the fleet total as an unpartitioned window SUM
    over the DOMAIN CENSUS — one pass, no second scan (a scalar-agg
    cross join would re-read the input); the census is
    domain-count-sized, so the single-partition window is bounded by
    the domain universe, never by fetches. Head-domain skew costs
    nothing here: the aggregate state is one counter per domain.
    """
    if delay_ms <= 0:
        raise ValueError("delay_ms must be positive")
    dom = F.substring_index(F.col(url_col), "/", 1)
    per = pages.groupBy(dom.alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("fetches")
    )
    per = per.select(
        "domain",
        "fetches",
        ((F.col("fetches") - 1) * F.lit(int(delay_ms))).cast("long").alias("crawl_ms"),
    )
    deadline_ms = int(deadline_s) * 1000
    return (
        per.withColumn(
            "total_ms", F.sum("crawl_ms").over(W.partitionBy()).cast("long")
        )
        .select(
            "domain",
            "fetches",
            "crawl_ms",
            (F.lit(deadline_ms) - F.col("crawl_ms")).cast("long").alias("slack_ms"),
            F.when(F.col("crawl_ms") <= F.lit(deadline_ms), 1)
            .otherwise(0)
            .cast("int")
            .alias("feasible"),
            F.when(
                F.col("total_ms") > 0,
                F.floor(
                    (F.col("crawl_ms") * F.lit(1_000_000)).cast("double")
                    / F.col("total_ms").cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("share_ppm"),
        )
    )


def tier_merge(*states: DataFrame) -> DataFrame:
    """Continuous-aggregate REFRESH: merge any number of same-tier
    state relations — yesterday's stored tier plus the rollup of
    newly-arrived raw, or two backfill shards — into one consistent
    tier. Because every state column is a commutative monoid
    (cnt/vsum sum, vmin/vmax min/max, the p95 histogram is the sparse
    (bin, cnt) relation itself), ``merge(stored, rollup(late)) ==
    rollup(all)`` EXACTLY: incremental refresh never drifts from a
    full recompute, which is what lets the 10^12-row raw tier be
    touched once per bucket, ever.

    Exactness: integer-valued metrics (the centi convention) sum
    exactly in doubles below 2^53, so the merged state is
    bit-identical to the recompute at any merge order or parallelism.

    Plan shape: union + ONE scalar hash aggregation on (url, bucket,
    bin) — map-side partials collapse each input before the shuffle;
    the late side is days-of-data sized, the stored side is
    tier-state sized (not raw-sized).
    """
    if not states:
        raise ValueError("tier_merge needs at least one state relation")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy("url", "bucket_ts", "bin").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def cache_admission_plan(
    pages: DataFrame,
    capacity: int,
    url_col: str = "url",
) -> DataFrame:
    """LFU cache admission for the serving tier: which ``capacity``
    urls to pin so the largest exact share of fetches hits memory.
    Emits the admitted set with rank, fetch count, cumulative hits at
    that rank, and the exact cumulative hit rate in ppm — the curve an
    operator reads to pick the capacity knee ("the top 50 urls already
    absorb 38% of traffic").

    Exactness: ranks break count ties on the url string; cumulative
    hits ride an exact BIGINT running window; the hit rate is integer
    floor cross-multiplication — never a float percent.

    Plan shape: one url hash aggregate, then rank + running hits +
    fleet total from the SAME unpartitioned window pass over the url
    census (top-``capacity`` slice keeps output tiny); census-sized,
    never fetch-sized.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    per = pages.groupBy(F.col(url_col).alias("url")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    order = W.orderBy(F.col("cnt").desc(), F.col("url").asc())
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    glob = W.partitionBy()
    ranked = per.select(
        "url",
        "cnt",
        F.row_number().over(order).cast("long").alias("rnk"),
        F.sum("cnt").over(run).cast("long").alias("cum_hits"),
        F.sum("cnt").over(glob).cast("long").alias("total_fetches"),
    )
    return ranked.filter(F.col("rnk") <= int(capacity)).select(
        "url",
        "rnk",
        "cnt",
        "cum_hits",
        "total_fetches",
        F.floor(
            (F.col("cum_hits") * F.lit(1_000_000)).cast("double")
            / F.col("total_fetches").cast("double")
        ).cast("long").alias("cum_hit_ppm"),
    )


def tier_amplification_audit(
    points: DataFrame, tiers: tuple[str, ...] = ("1m", "1h", "1d", "1w")
) -> DataFrame:
    """Storage-amplification audit of the tier ladder: state rows per
    tier versus raw points, as exact ppm ratios — the number that
    says whether a tier EARNS its storage ("1m state is 40% of raw:
    keep raw shorter or widen the first tier"). One row per level
    (raw + each tier) with ``state_rows`` and ``rows_per_raw_ppm``
    (floor).

    Plan shape: the tier chain is built once (each hop from the
    previous tier's state); each level contributes a 1-row count
    aggregate; the union is levels-sized. Counting state rows is the
    same aggregate the tier write itself performs — no extra shuffle
    class.
    """
    from spartan2_spark.operators.barrier import barrier

    raw_cnt = points.agg(F.count(F.lit(1)).cast("long").alias("state_rows"))
    levels = [raw_cnt.select(F.lit("raw").alias("tier"), "state_rows")]
    state = None
    prev_order = None
    _tier_units(tiers)  # validate names before building the chain
    order = _tier_order()
    for t in tiers:
        if prev_order is None:
            state = rollup_from_points(points, t)
        else:
            if order[t] <= prev_order:
                raise ValueError("tiers must be strictly coarsening")
            state = rollup_tier_up(state, t)
        # barrier: each level feeds BOTH its own count branch and the
        # next hop — unbarriered, level k re-evaluates the whole chain
        # from raw (k+1 scans); the state is tier-sized
        state = barrier(state)
        prev_order = order[t]
        levels.append(
            state.agg(F.count(F.lit(1)).cast("long").alias("state_rows"))
            .select(F.lit(t).alias("tier"), "state_rows")
        )
    u = levels[0]
    for l in levels[1:]:
        u = u.unionByName(l)
    raw_total = F.max(F.when(F.col("tier") == "raw", F.col("state_rows"))).over(
        W.partitionBy()
    )
    return u.select(
        "tier",
        "state_rows",
        F.floor(
            (F.col("state_rows") * F.lit(1_000_000)).cast("double")
            / raw_total.cast("double")
        ).cast("long").alias("rows_per_raw_ppm"),
    )
