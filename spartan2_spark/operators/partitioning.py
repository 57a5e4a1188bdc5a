"""Explicit partitioning: domain hash + salting for head-domain skew,
range partitioning on warc_ts for tier compaction.

The north rule mandates explicit skew handling: Common-Crawl-style url
distributions are Zipf in the domain, so naive ``repartition(domain)``
puts a head domain's entire traffic in one task. The salt planner
derives per-domain salt counts from a frequency sketch and spreads hot
domains over ``ceil(freq / target)`` salts; cold domains keep salt 0,
so small-domain locality is preserved. AQE skew-join handling stays on
as a backstop, but the plan doesn't rely on it.

All pure column expressions + one broadcast join against the (tiny)
hot-domain salt map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "with_domain",
    "domain_salt_map",
    "salted_repartition",
    "range_partition_by_ts",
    "global_dense_ids",
    "ordered_prefix_sum",
    "global_row_numbers",
    "zorder_key",
    "key_skew_profile",
    "gini_concentration",
    "allocate_quotas",
    "source_mix_sample",
    "mix_alpha_weights",
    "partition_split_plan",
]


def with_domain(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Extract the url host as the partitioning domain (JVM parse_url)."""
    return df.withColumn("domain", F.parse_url(F.col(url_col), F.lit("HOST")))


def domain_salt_map(
    df: DataFrame,
    target_rows_per_salt: int = 1_000_000,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Frequency sketch -> per-domain salt counts (only domains needing
    >1 salt are kept, so the map broadcast stays tiny even at 10^12 rows;
    pass ``sample_fraction`` to sketch from a sample at full scale)."""
    # fixed seed: the salt map must be identical across re-runs — the
    # manifest-resume idempotence contract depends on stable placement
    src = df.sample(sample_fraction, seed=42) if sample_fraction else df
    scale = 1.0 / sample_fraction if sample_fraction else 1.0
    freq = src.groupBy("domain").agg((F.count(F.lit(1)) * scale).alias("freq"))
    return (
        freq.withColumn(
            "n_salts", F.ceil(F.col("freq") / F.lit(target_rows_per_salt)).cast("int")
        )
        .filter(F.col("n_salts") > 1)
        .select("domain", "n_salts")
    )


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    target_rows_per_salt: int = 1_000_000,
    salt_map: DataFrame | None = None,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Repartition by (domain, salt) with data-driven salt counts.

    salt = hash(url, ts) mod n_salts — deterministic, so re-runs place
    every row identically (required for manifest-resume idempotence).
    """
    d = with_domain(df, url_col)
    if salt_map is None:
        salt_map = domain_salt_map(d, target_rows_per_salt)
    d = d.join(F.broadcast(salt_map), "domain", "left").withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.xxhash64(F.col(url_col), F.col(ts_col)), F.col("n_salts")),
        ).otherwise(F.lit(0)),
    )
    parts = [F.col("domain"), F.col("salt")]
    out = d.repartition(num_partitions, *parts) if num_partitions else d.repartition(*parts)
    return out.drop("n_salts")


def global_dense_ids(
    df: DataFrame,
    key_col: str,
    id_col: str = "id",
) -> DataFrame:
    """0-based dense ids in global ``key_col`` sort order WITHOUT a
    single-partition window (``row_number().over(Window.orderBy(k))``
    moves every row to one task — fine at 10^4 keys, fatal at 10^9).

    The ids are a row-count :func:`ordered_prefix_sum` over the key, so
    they depend only on the global key order — identical at any
    parallelism or range boundaries.

    ``df`` must be unique on ``key_col`` (callers pass a ``distinct()``
    dimension).
    """
    return global_row_numbers(df, [F.col(key_col)], id_col, base=0)


def ordered_prefix_sum(
    df: DataFrame,
    order_cols: list,
    part_cols: tuple[str, ...] | list[str] = (),
    weight_col: str | None = None,
    out_col: str = "__cum",
) -> DataFrame:
    """Distributed inclusive running sum of ``weight_col`` (row count
    when None) within each ``part_cols`` group, in ``order_cols`` order
    (callers pass a total order, e.g. a unique-key tie-break) — without
    a per-group or global single-partition window, which would move a
    mega-group's rows onto one task.

    Two phases over one range repartition on (part, order), which keeps
    the order across tasks: a local running sum per (task, part), and
    per-(task, part) offsets — a window over the tiny task-count
    relation, broadcast back. The result depends only on the order, not
    on where the range boundaries fall.

    The ranged relation, ``spark_partition_id`` attached, is pinned with
    ``barrier`` before its two consumers read it: range bounds come
    from a sample of the input, and a re-evaluated (unreused) exchange
    may draw different bounds, pairing one evaluation's local sums with
    another's offsets. The offsets window runs UNPARTITIONED over the
    partition-count relation on purpose; WindowExec's "No Partition
    Defined" warning for it is expected and harmless.
    """
    from spartan2_spark.operators.barrier import barrier

    part_cols = list(part_cols)
    keys = [*part_cols, *order_cols]
    ranged = barrier(
        df.repartitionByRange(*keys).withColumn("__pid", F.spark_partition_id())
    )
    weight = F.lit(1).cast("long") if weight_col is None else F.col(weight_col)
    local = ranged.withColumn(
        "__local",
        F.sum(weight).over(
            W.partitionBy("__pid", *part_cols)
            .orderBy(*order_cols)
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    offsets = (
        ranged.groupBy("__pid", *part_cols)
        .agg(F.sum(weight).alias("__n"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__n").over(
                    W.partitionBy(*part_cols)
                    .orderBy("__pid")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", *part_cols, "__off")
    )
    return (
        local.join(F.broadcast(offsets), ["__pid", *part_cols])
        .withColumn(out_col, F.col("__off") + F.col("__local"))
        .drop("__pid", "__local", "__off")
    )


def global_row_numbers(
    df: DataFrame,
    order_cols: list,
    id_col: str = "rn",
    base: int = 1,
) -> DataFrame:
    """Distributed ``row_number() OVER (ORDER BY order_cols)`` (callers
    pass a total order, e.g. a unique-key tie-break): the row-count
    :func:`ordered_prefix_sum`. ``base`` 1 = SQL row_number, 0 = dense
    0-based ids. The ids depend only on the global order, not on range
    boundary placement."""
    return ordered_prefix_sum(df, order_cols, out_col=id_col).withColumn(
        id_col, (F.col(id_col) + F.lit(base - 1)).cast("long")
    )


def range_partition_by_ts(
    df: DataFrame,
    num_partitions: int,
    ts_col: str = "warc_ts",
    sort_keys: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Range layout on time for tier compaction (the Iceberg
    days(warc_ts) spec analogue) + in-partition sort so downstream
    Arrow kernels see a deterministic order (bit-stable outputs)."""
    return df.repartitionByRange(num_partitions, F.col(ts_col)).sortWithinPartitions(
        ts_col, *sort_keys
    )


def zorder_key(col_a, col_b, bits: int = 21):
    """Morton (z-order) interleave of two non-negative integer columns
    (``bits`` low bits each -> one 2*bits-bit BIGINT): writing a tier
    sorted by this key clusters BOTH dimensions, so a range scan on
    either column prunes row groups — the lakehouse OPTIMIZE ZORDER
    primitive, as a plain column expression (pure shifts/masks,
    engine-portable, no UDF).

    Use ``bits`` <= 31; values are masked to the low ``bits`` bits
    (callers bucketize/clamp first — e.g. minutes-since-epoch-origin
    and a domain hash).
    """
    from pyspark.sql import functions as F

    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1)
        )
    return z


def key_skew_profile(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Shuffle-key skew diagnostic: the top-k heaviest keys with their
    row count, share of total rows, rank, and cumulative share.

    This is the measurement half of the salting machinery above — run
    it on a candidate join/groupBy key before choosing salt factors
    (domain_salt_map's salt table is exactly this profile thresholded).
    cum_share(rank r) ~ how much of the relation the r hottest keys
    own; a handful of keys holding >20-30% is the signature that a
    plain hash shuffle will straggle at scale.

    Plan shape: one count aggregation (map-side combinable), a
    TakeOrderedAndProject for the top-k (no full sort), a broadcast
    scalar for the total, and a triangular broadcast self-join on the
    <=k-row frame for rank/cum-share — no windows, so nothing
    single-partitions an unbounded relation.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    top = counts.orderBy(F.col("cnt").desc(), "key").limit(k)
    b = top.select(F.col("key").alias("bkey"), F.col("cnt").alias("bcnt"))
    ranked = (
        top.join(
            F.broadcast(b),
            (F.col("bcnt") > F.col("cnt"))
            | ((F.col("bcnt") == F.col("cnt")) & (F.col("bkey") <= F.col("key"))),
        )
        .groupBy("key", "cnt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rnk"),
            F.sum("bcnt").cast("long").alias("cum_cnt"),
        )
    )
    return ranked.crossJoin(F.broadcast(stats)).select(
        "key",
        "rnk",
        "cnt",
        "n_keys",
        # single integer divides, RAW per the float-oracle discipline
        (F.col("cnt") / F.col("total")).alias("share"),
        (F.col("cum_cnt") / F.col("total")).alias("cum_share"),
    )


def gini_concentration(df: DataFrame, key_col: str) -> DataFrame:
    """Gini coefficient of the key's row-count distribution — the
    single-number companion to key_skew_profile's top-k view (0 =
    perfectly uniform keys, ->1 = one key owns everything). The
    standard rank formula G = (2*Σ(i*c_i) - (n+1)*Σc_i) / (n*Σc_i)
    over counts sorted ascending, rank ties broken by key.

    The ascending rank comes from global_row_numbers (range-partition +
    local numbering + broadcast offsets) — no single-partition window
    over the key relation. All sums are exact BIGINTs; under ANSI an
    i*c_i overflow at extreme key counts throws loudly rather than
    silently wrapping (switch the product to DOUBLE there and accept
    estimator-grade precision).
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    ranked = global_row_numbers(counts, [F.col("cnt"), F.col("key")], "i")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total"),
        F.round(
            (
                2 * F.sum(F.col("i") * F.col("cnt"))
                - (F.count(F.lit(1)) + 1) * F.sum("cnt")
            ).cast("double")
            / F.count(F.lit(1))
            / F.sum("cnt"),
            8,
        ).alias("gini"),
    )


def allocate_quotas(weights: dict[str, float], total: int) -> dict[str, int]:
    """Largest-remainder (Hamilton) apportionment of ``total`` slots to
    the weighted strata: floor(w*total) each, leftover slots to the
    largest fractional remainders, ties broken by stratum name. Pure
    driver-side arithmetic over the (small) strata dict — deterministic,
    so the same quota table can be embedded in a SQL twin or a manifest.
    """
    if total < 0:
        raise ValueError("total must be >= 0")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to > 0")
    exact = {s: total * w / wsum for s, w in weights.items()}
    base = {s: int(exact[s]) for s in weights}
    left = total - sum(base.values())
    order = sorted(weights, key=lambda s: (-(exact[s] - base[s]), s))
    for s in order[:left]:
        base[s] += 1
    return base


def mix_alpha_weights(
    df: DataFrame,
    strata_col: str = "source",
    size_col: "str | None" = None,
    alpha: float = 0.3,
    target_total: "int | None" = None,
) -> DataFrame:
    """Temperature-scaled source-mixing weights — the multi-source
    sampling design of multilingual/multi-corpus pretraining (mT5's
    alpha=0.3, XGLM's alpha~0.3, The Pile's hand-tuned epochs):
    ``p_i proportional to n_i^alpha`` flattens the head so small
    sources are not drowned (alpha=1 is natural proportions, alpha=0
    uniform). Emits one row per stratum with its exact size, the
    mixing probability, and — when ``target_total`` is set — the
    implied sample quota and "epochs" (quota / size: > 1 means the
    source repeats, the oversampling signal a data card must report).

    ``size_col`` sums that column per stratum (token counts); default
    counts rows (documents).

    Exactness discipline: ``n^alpha`` is transcendental, so each
    stratum's weight is quantized to a 1e6-scaled BIGINT FIRST; the
    normalizer is then an exact integer sum (order-independent), and
    ``p`` / ``epochs`` are raw single divides of exact integers — same
    contract as doc_entropy / lm_perplexity. ``quota`` is the exact
    integer floor of ``wq * target_total / wq_total``.

    Scale: one map-side-combinable aggregate over the corpus, then
    arithmetic on the strata-sized relation. Strata counts are exact,
    so the plan is replayable byte-for-byte by any engine.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    size = (
        F.sum(F.col(size_col)).cast("long")
        if size_col
        else F.count(F.lit(1)).cast("long")
    )
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(size.alias("n"))
    wq = F.round(
        F.exp(F.lit(float(alpha)) * F.log(F.col("n").cast("double"))) * 1e6
    ).cast("long")
    weighted = per.select("stratum", "n", wq.alias("wq"))
    tot = weighted.agg(F.sum("wq").cast("long").alias("wq_total"))
    joined = weighted.crossJoin(F.broadcast(tot))
    cols = [
        F.col("stratum"),
        F.col("n"),
        F.col("wq"),
        (F.col("wq") / F.col("wq_total")).alias("p"),
    ]
    if target_total is not None:
        # exact past 2^53: wq * target_total in decimal(38,0), then
        # integer division (the twin uses DuckDB's 128-bit HUGEINT)
        quota = F.expr(
            f"CAST(wq AS DECIMAL(38,0)) * {int(target_total)} div wq_total"
        ).cast("long")
        cols += [
            quota.alias("quota"),
            # quota and n are exact BIGINTs, so epochs is ONE IEEE
            # divide - emitted RAW per the float-oracle discipline
            (quota.cast("double") / F.col("n").cast("double")).alias("epochs"),
        ]
    return joined.select(*cols)


def source_mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    strata_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic proportional source-mixing sampler — the
    training-data "mixture weights" primitive: pick ``total`` rows
    split across strata by ``weights`` (largest-remainder quotas),
    selecting within each stratum the lowest md5(key) ranks. Hash-rank
    selection makes the sample a pure function of the data — stable
    under reruns, partitioning, and cluster size, hence
    manifest-pinnable like `hash_sample` / `weighted_sample`.

    Strata with fewer rows than their quota contribute everything they
    have (quotas are not redistributed — the SHORTFALL is the signal a
    mixing pipeline must surface, not paper over; read it off the
    output's per-stratum counts).

    Scale: ranking within a stratum is NOT a per-stratum window (a
    mega-stratum would serialize onto one reducer). The per-stratum
    rank is a row-count :func:`ordered_prefix_sum` with the stratum as
    its partition column, ordered by (hash, key): one range shuffle +
    one broadcast join.
    """
    quotas = allocate_quotas(weights, total)
    q_items = sorted(quotas.items())
    spark = df.sparkSession
    qdf = F.broadcast(
        spark.createDataFrame(q_items, f"{strata_col} string, __quota long")
    )
    hashed = df.filter(
        F.col(strata_col).isin([s for s, _ in q_items])
    ).withColumn(
        "__h", F.md5(F.concat_ws(":", F.col(strata_col), F.col(key_col)))
    )
    ranked = ordered_prefix_sum(
        hashed, ["__h", key_col], part_cols=[strata_col], out_col="rank"
    )
    return (
        ranked.join(qdf, strata_col)
        .filter(F.col("rank") <= F.col("__quota"))
        .select(strata_col, key_col, "rank")
    )


def partition_split_plan(
    df: DataFrame,
    order_cols: list,
    n_splits: int,
) -> DataFrame:
    """Balanced range-partition boundary planning — the data-derived
    input to Iceberg partition-spec evolution / ``repartitionByRange``
    tuning: the ``n_splits - 1`` exact split values that divide the
    relation into equal-count ranges under the caller's TOTAL order
    (pass a unique tiebreak column last, same contract as
    ``global_row_numbers``). Split ``i`` is the row at 1-based rank
    ``(i * n) DIV n_splits`` — the greatest row of bucket ``i`` — so
    bucket sizes differ by at most 1 and the plan is exact-integer
    deterministic, never a sampled approximation like
    ``repartitionByRange``'s own reservoir sketch (this op is how you
    PIN the boundaries so two independent jobs agree on them).

    Plan shape: one distributed global ranking
    (:func:`global_row_numbers` — range repartition + per-task local
    window + broadcast offsets, never a single-partition window) and
    one broadcast join of the (n_splits - 1)-row rank relation into
    it. ``rows_in_bucket`` is the rank difference, computed on the
    boundary relation itself (n_splits rows — driver-scale by
    definition).

    Returns one row per interior boundary: (split_idx, rank,
    rows_in_bucket, <order_cols at the boundary row>).
    """
    from pyspark.sql import Window as W

    numbered = global_row_numbers(df.select(*order_cols), list(order_cols))
    n_rel = numbered.groupBy().agg(F.max("rn").alias("__n"))
    ranks = (
        n_rel.select(
            F.posexplode(F.expr(f"sequence(1, {int(n_splits) - 1})")).alias(
                "__i0", "split_idx"
            ),
            "__n",
        )
        .select(
            "split_idx",
            F.expr(f"split_idx * __n DIV {int(n_splits)}").alias("rank"),
        )
    )
    wb = W.orderBy("split_idx")
    ranks = ranks.withColumn(
        "rows_in_bucket",
        F.col("rank") - F.coalesce(F.lag("rank").over(wb), F.lit(0)),
    )
    return (
        numbered.join(F.broadcast(ranks), numbered["rn"] == ranks["rank"])
        .select("split_idx", "rank", "rows_in_bucket", *order_cols)
        .orderBy("split_idx")
    )


def join_strategy_plan(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    broadcast_bytes: int = 256 * 1024 * 1024,
    rows_per_task: int = 2_000_000,
    skew_ppm: int = 50_000,
    top_k: int = 20,
) -> DataFrame:
    """Cost-based join-strategy decision, codified as a query — the
    planning rule this engine applies by hand everywhere (broadcast
    small dims, salt skewed keys) emitted as an auditable relation so
    a pipeline can ASSERT its join layout instead of hoping: for the
    top-``top_k`` heaviest fact keys, the fact-side share (ppm), the
    per-key salt factor ``ceil(cnt / rows_per_task)``, and the
    table-level decision — ``broadcast`` when the dim's measured bytes
    (exact UTF-8 + fixed-width accounting, the same estimate Spark's
    own statistics use) fit the broadcast threshold, else ``shuffle``,
    with ``salted=1`` on any key whose share crosses ``skew_ppm``.

    Exactness: byte sizes are exact octet_length sums; shares and salt
    factors are integer floor/ceil cross-multiplication — no floats.

    Plan shape: one fact-side key aggregate (map-side combinable);
    rank AND fleet total both come from the same unpartitioned window
    over the key census (one pass — a scalar-agg cross join would
    re-scan the fact table); one scalar dim aggregate cross-joined
    (1 row, broadcast). The decision query itself never shuffles more
    than the key census.
    """
    per_key = fact.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )

    # per-type byte accounting (ADVICE r4: a flat 8 B for every
    # non-string column drastically under-counted array/struct/map/
    # decimal dims and could flip the broadcast decision): variable-
    # width types measure their actual octets, fixed-width types their
    # true width, and nested types fall back to octet_length(to_json) —
    # a serialized-size proxy, imperfect but data-dependent and
    # conservative where it matters (a wide nested dim now counts wide).
    _fixed = {
        T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2,
        T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
        T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8,
        T.TimestampNTZType: 8,
    }

    def _col_bytes(f):
        dt = f.dataType
        if isinstance(dt, (T.StringType, T.BinaryType)):
            return F.coalesce(F.octet_length(F.col(f.name)), F.lit(0))
        if isinstance(dt, T.DecimalType):
            return F.lit(8 if dt.precision <= 18 else 16)
        for klass, width in _fixed.items():
            if isinstance(dt, klass):
                return F.lit(width)
        # arrays / maps / structs / anything else: serialized-size proxy
        return F.coalesce(
            F.octet_length(F.to_json(F.col(f.name))), F.lit(0)
        )

    size_cols = [_col_bytes(f) for f in dim.schema.fields]
    row_bytes = size_cols[0]
    for c in size_cols[1:]:
        row_bytes = row_bytes + c
    dstat = dim.agg(
        F.count(F.lit(1)).cast("long").alias("dim_rows"),
        F.sum(row_bytes).cast("long").alias("dim_bytes"),
    )
    w = W.orderBy(F.col("cnt").desc(), F.col("key").asc())
    glob = W.partitionBy()
    top = (
        per_key.select(
            "*",
            F.row_number().over(w).alias("rnk"),
            F.sum("cnt").over(glob).cast("long").alias("fact_rows"),
        )
        .filter(F.col("rnk") <= int(top_k))
    )
    out = top.crossJoin(F.broadcast(dstat))
    share = F.floor(
        (F.col("cnt") * F.lit(1_000_000)).cast("double")
        / F.col("fact_rows").cast("double")
    ).cast("long")
    salt = F.floor(
        (F.col("cnt") + F.lit(int(rows_per_task) - 1)).cast("double")
        / F.lit(int(rows_per_task)).cast("double")
    ).cast("long")
    return out.select(
        F.col("key").cast("string").alias("key"),
        "cnt",
        F.col("rnk").cast("int").alias("rnk"),
        "fact_rows",
        "dim_rows",
        "dim_bytes",
        share.alias("share_ppm"),
        salt.alias("salt_parts"),
        F.when(share > F.lit(int(skew_ppm)), 1).otherwise(0).cast("int").alias("salted"),
        F.when(F.col("dim_bytes") <= F.lit(int(broadcast_bytes)), F.lit("broadcast"))
        .otherwise(F.lit("shuffle"))
        .alias("strategy"),
    )


def traffic_tiers(
    pages: DataFrame,
    url_col: str = "url",
    head_pct: int = 1,
    torso_pct: int = 10,
) -> DataFrame:
    """Head/torso/tail concentration report over the domain traffic
    distribution — the one-page answer to "how skewed is this crawl?"
    that sizes the salting map (``domain_salt_map``) and the
    politeness fleet: domains ranked by fetch count; the top
    ``head_pct``% of domains (ceil) are the head, the next up to
    ``torso_pct``% the torso, the rest the tail. Emits per tier:
    domain count, total fetches, and the exact fetch share in ppm.

    Exactness: tier cuts are integer ceil cross-multiplication on the
    rank (``rnk <= (D + 99) // 100``), shares are integer floor ppm —
    a float percentile would misplace boundary domains.

    Plan shape: one domain hash aggregate, then rank AND the two
    fleet totals from the SAME global window over the domain census
    (one pass, no re-scan; domain-count-sized, not fetch-sized — fine
    up to hundreds of millions of domains on one partition of longs;
    past that, swap in global_row_numbers), one 3-row final aggregate.
    """
    if not (0 < head_pct < torso_pct <= 100):
        raise ValueError("need 0 < head_pct < torso_pct <= 100")
    dom = F.substring_index(F.col(url_col), "/", 1)
    per = pages.groupBy(dom.alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = W.orderBy(F.col("cnt").desc(), F.col("domain").asc())
    glob = W.partitionBy()
    ranked = per.select(
        "domain",
        "cnt",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(glob).cast("long").alias("n_dom"),
        F.sum("cnt").over(glob).cast("long").alias("n_fetch"),
    )
    head_cut = F.floor(
        (F.col("n_dom") * F.lit(int(head_pct)) + F.lit(99)).cast("double")
        / F.lit(100.0)
    )
    torso_cut = F.floor(
        (F.col("n_dom") * F.lit(int(torso_pct)) + F.lit(99)).cast("double")
        / F.lit(100.0)
    )
    tier = (
        F.when(F.col("rnk") <= head_cut, F.lit("head"))
        .when(F.col("rnk") <= torso_cut, F.lit("torso"))
        .otherwise(F.lit("tail"))
    )
    g = ranked.select(tier.alias("tier"), "cnt", "n_fetch").groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_domains"),
        F.sum("cnt").cast("long").alias("fetches"),
        F.max("n_fetch").alias("_tot"),
    )
    return g.select(
        "tier",
        "n_domains",
        "fetches",
        F.floor(
            (F.col("fetches") * F.lit(1_000_000)).cast("double")
            / F.col("_tot").cast("double")
        ).cast("long").alias("share_ppm"),
    )
