"""Mergeable quantile sketches.

Two families:

1. The engine's DEFAULT tier-chain quantile state is the sparse value
   histogram in ``operators/rollup.py`` — exact for integer/fixed-point
   metrics and order-independent by construction.

2. ``TDigest`` here is the classic centroid sketch (Dunning & Ertl,
   "Computing extremely accurate quantiles using t-digests") for
   arbitrary-double metrics, wired into Spark as a two-phase grouped
   aggregation. t-digest merges are order-SENSITIVE in general, so the
   Spark wiring makes the result parallelism-invariant by construction:
   values are assigned to a fixed number of deterministic hash shards
   (shard = poly hash of the centi-quantized value mod S, independent
   of physical partitioning), one partial digest is built per (key,
   shard) from sorted values, and the per-key fold merges shards in
   shard order.
   Same input => same digest, on 8 cores or 800 executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "TDigest",
    "tdigest_quantiles",
    "countmin_build",
    "countmin_estimate",
    "bloom_build",
    "bloom_probe",
    "hll_registers",
    "hll_estimate",
    "hll_tier",
    "hll_tier_up",
    "hll_tier_estimate",
    "kmv_distinct",
]


class TDigest:
    """Minimal deterministic t-digest (k1-style size bound).

    Centroids kept as (mean, weight) arrays sorted by mean. Compression
    walks sorted centroids left->right greedily merging while the
    candidate's k-size (q-width scaled by delta) stays <= 1 — fully
    deterministic given sorted input.
    """

    __slots__ = ("means", "weights", "delta")

    def __init__(self, means=None, weights=None, delta: int = 100):
        self.means = np.asarray([] if means is None else means, dtype=np.float64)
        self.weights = np.asarray([] if weights is None else weights, dtype=np.float64)
        self.delta = delta

    @classmethod
    def from_values(cls, values: np.ndarray, delta: int = 100) -> "TDigest":
        v = np.sort(np.asarray(values, dtype=np.float64))
        d = cls(v, np.ones_like(v), delta)
        return d.compress()

    def compress(self) -> "TDigest":
        if len(self.means) <= 1:
            return self
        order = np.argsort(self.means, kind="mergesort")
        m, w = self.means[order], self.weights[order]
        total = w.sum()
        out_m, out_w = [], []
        cur_m, cur_w = m[0], w[0]
        seen = 0.0
        for i in range(1, len(m)):
            q0 = seen / total
            q2 = (seen + cur_w + w[i]) / total
            if (q2 - q0) * self.delta <= 1.0:
                cur_m = (cur_m * cur_w + m[i] * w[i]) / (cur_w + w[i])
                cur_w += w[i]
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                seen += cur_w
                cur_m, cur_w = m[i], w[i]
        out_m.append(cur_m)
        out_w.append(cur_w)
        return TDigest(np.array(out_m), np.array(out_w), self.delta)

    def merge(self, other: "TDigest") -> "TDigest":
        return TDigest(
            np.concatenate([self.means, other.means]),
            np.concatenate([self.weights, other.weights]),
            self.delta,
        ).compress()

    def quantile(self, q: float) -> float:
        if len(self.means) == 0:
            return float("nan")
        if len(self.means) == 1:
            return float(self.means[0])
        total = self.weights.sum()
        target = q * total
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return float(self.means[0])
        if target >= cum[-1]:
            return float(self.means[-1])
        i = np.searchsorted(cum, target) - 1
        t = (target - cum[i]) / (cum[i + 1] - cum[i])
        return float(self.means[i] + t * (self.means[i + 1] - self.means[i]))

    def to_arrays(self):
        return self.means.tolist(), self.weights.tolist()


def tdigest_quantiles(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    delta: int = 100,
    n_shards: int = 32,
) -> DataFrame:
    """Per-key quantiles via parallelism-invariant two-phase t-digest.

    Phase 1: partial digest per (key, deterministic value-hash shard)
    — grouped pandas UDF over sorted values.
    Phase 2: per key, one merge-all compression over the shard
    centroids in (shard, emission) order.

    Shards are the portable polynomial hash of the centi-quantized
    value (identical in any SQL engine — the DuckDB twin replays the
    whole digest).
    """
    from spartan2_spark.operators.text import _poly_hash

    src = df.select(*key_cols, F.col(value_col).cast("double").alias("v"))
    shard_h = _poly_hash(F.round(F.col("v") * 100).cast("long").cast("string"))
    src = src.withColumn("shard", F.pmod(shard_h, F.lit(n_shards)))

    part_schema = T.StructType(
        [df.schema[k] for k in key_cols]
        + [
            T.StructField("shard", T.LongType()),
            T.StructField("means", T.ArrayType(T.DoubleType())),
            T.StructField("weights", T.ArrayType(T.DoubleType())),
        ]
    )

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        d = TDigest.from_values(pdf["v"].to_numpy(), delta)
        m, w = d.to_arrays()
        row = {k: [pdf[k].iloc[0]] for k in key_cols}
        row.update({"shard": [pdf["shard"].iloc[0]], "means": [m], "weights": [w]})
        return pd.DataFrame(row)

    # key x shard explodes group count by n_shards with a few hundred
    # rows each — the partition-batched apply (operators/grouped.py)
    # pays Arrow cost per batch, not per (key, shard)
    from spartan2_spark.operators.grouped import batched_group_apply

    partials = batched_group_apply(
        src, [*key_cols, "shard"], partial, part_schema
    )

    final_schema = T.StructType(
        [df.schema[k] for k in key_cols]
        + [T.StructField(f"q{int(round(q * 100))}", T.DoubleType()) for q in qs]
    )

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("shard", kind="mergesort")
        # merge-all-then-compress (Dunning's merging-digest fold): ONE
        # deterministic compression over the concatenated shard
        # centroids in shard order — better accuracy than 32 chained
        # incremental compressions, and the single sequential walk is
        # replayable by the DuckDB oracle twin
        acc = TDigest(
            np.concatenate([np.asarray(m, dtype=np.float64) for m in pdf["means"]])
            if len(pdf)
            else np.array([]),
            np.concatenate(
                [np.asarray(w, dtype=np.float64) for w in pdf["weights"]]
            )
            if len(pdf)
            else np.array([]),
            delta,
        ).compress()
        row = {k: [pdf[k].iloc[0]] for k in key_cols}
        for q in qs:
            row[f"q{int(round(q * 100))}"] = [acc.quantile(q)]
        return pd.DataFrame(row)

    return batched_group_apply(
        partials, [*key_cols], final, final_schema, order=("shard",)
    )


def countmin_build(
    df,
    key_col: str = "key",
    depth: int = 4,
    width: int = 1024,
):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) as a relation:
    one row per occupied (row j, column h_j(key) mod width) cell with
    its count — the mergeable heavy-hitter / frequency-estimate state a
    streaming pipeline checkpoints per window and unions across
    shards (cells simply re-aggregate: sum on (j, cell)).

    Hashes are the engine-portable polynomial family
    h_j(x) = ((2j+1)*poly(x) + j^2+7) mod p (same as minhash/LSH), so
    the sketch — and every estimate read from it — is value-exact
    reproducible in any SQL engine. depth*width cells bound memory
    regardless of key cardinality; estimate error <= 2N/width with
    prob 1 - 2^-depth.
    """
    from pyspark.sql import functions as F

    from spartan2_spark.operators.spectral import _POLY_P
    from spartan2_spark.operators.text import _poly_hash

    # ONE scan, ONE poly-hash evaluation per key; the depth cells are
    # derived from it with integer arithmetic and exploded (a per-row
    # union would re-read and re-hash the input `depth` times)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    (F.lit(2 * j + 1) * F.col("__h") + F.lit(j * j + 7))
                    % _POLY_P
                    % width
                ).alias("cell"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(_poly_hash(F.col(key_col).cast("string")).alias("__h"))
        .select(F.explode(cells).alias("c"))
        .select("c.j", "c.cell")
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    sketch,
    keys,
    key_col: str = "key",
    depth: int = 4,
    width: int = 1024,
):
    """Point-estimate each key's frequency from a count-min relation:
    min over the depth cells the key hashes to. Broadcast-join the
    (tiny, <= depth*width row) sketch against the probe keys."""
    from pyspark.sql import functions as F

    from spartan2_spark.operators.spectral import _poly_node_hash

    probes = keys
    for j in range(depth):
        probes = probes.withColumn(
            f"c{j}", _poly_node_hash(key_col, j) % width
        )
    est = None
    for j in range(depth):
        s = sketch.filter(F.col("j") == j).select(
            F.col("cell").alias(f"c{j}"), F.col("cnt").alias(f"n{j}")
        )
        probes = probes.join(F.broadcast(s), f"c{j}", "left")
    est = F.least(*[F.coalesce(F.col(f"n{j}"), F.lit(0)) for j in range(depth)])
    return probes.select(key_col, est.alias("cms_estimate"))


def _bloom_positions(key_col, k: int, m: int):
    """The k engine-portable bit positions of a key: the same salted
    polynomial family as count-min/minhash, so a bitset built on ANY
    engine probes identically on any other."""
    from spartan2_spark.operators.spectral import _POLY_P
    from spartan2_spark.operators.text import _poly_hash

    h = _poly_hash(F.col(key_col).cast("string"))
    return F.array_distinct(
        F.array(
            *[
                ((F.lit(2 * j + 1) * h + F.lit(j * j + 7)) % _POLY_P % m)
                for j in range(k)
            ]
        )
    )


def bloom_build(df, key_col: str = "key", k: int = 3, m: int = 8192):
    """Bloom filter (Bloom 1970) as a relation: the DISTINCT occupied
    bit positions (<= m rows) of the build side's key set.

    The relation form is what makes it a distributed primitive: shards
    build their own position sets map-side, union + distinct merges
    them (bitwise OR), and the result broadcast-joins against any probe
    — replacing a full shuffle semi-join with a <= m-row broadcast when
    the build side is small-cardinality but physically huge (the
    classic "which of these 10^12 rows touch the hot set" prefilter).
    No false negatives; false-positive rate ~ (1 - e^{-kn/m})^k.
    """
    return (
        df.select(F.explode(_bloom_positions(key_col, k, m)).alias("pos"))
        .distinct()
    )


def bloom_probe(bitset, probes, key_col: str = "key", k: int = 3, m: int = 8192):
    """Probe keys against a bloom bitset relation: a key is
    maybe-present iff ALL of its (distinct) positions are set.

    Plan: explode probe positions, broadcast-join the bitset, count
    hits per key — no shuffle of the probe side beyond its own
    re-aggregation on key.
    """
    pos = probes.select(
        key_col, F.explode(_bloom_positions(key_col, k, m)).alias("pos")
    )
    hit = pos.join(
        F.broadcast(bitset.withColumn("_set", F.lit(1))), "pos", "left"
    )
    return (
        hit.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce(F.col("_set"), F.lit(0))).alias("_hits"),
        )
        .select(
            key_col,
            (F.col("_hits") == F.col("_n")).alias("maybe_present"),
        )
    )


_HLL_W = 23  # value-bit width above the 8 register bits under p = 2^31-1


def hll_registers(df, key_col: str = "key", m: int = 256):
    """HyperLogLog registers (Flajolet et al. 2007) as a relation:
    (reg, max_rho), reg = poly_hash(key) mod m, rho = 1 + leading
    zeros of the remaining W bits (via bin()-string length — integer
    arithmetic only, value-exact on any engine).

    The relation is the mergeable state: shards union + groupBy(reg)
    max(max_rho). m=256 keeps the broadcast state <= 256 rows for a
    ~6.5% standard error — the cardinality prefilter for dedup
    planning at 10^12 keys where count_distinct would shuffle
    everything.
    """
    from spartan2_spark.operators.spectral import _POLY_P
    from spartan2_spark.operators.text import _poly_hash

    # double MINSTD finalizer: the raw poly fold under-mixes short
    # digit keys (consecutive ids -> small, correlated hashes), and the
    # rho statistic reads the HIGH bits — two multiplicative spreads
    # make them uniform enough for the HLL error bound
    h = _poly_hash(F.col(key_col).cast("string"))
    h = (h * 48271) % _POLY_P
    h = (h * 48271) % _POLY_P
    df2 = df.select(h.alias("_h")).select(
        (F.col("_h") % m).alias("reg"),
        ((F.col("_h") - F.col("_h") % m) / m).cast("long").alias("_w"),
    )
    rho = F.when(F.col("_w") > 0, F.lit(_HLL_W + 1) - F.length(F.bin("_w"))).otherwise(
        F.lit(_HLL_W + 1)
    )
    return (
        df2.select("reg", rho.alias("_rho"))
        .groupBy("reg")
        .agg(F.max("_rho").cast("long").alias("max_rho"))
    )


def hll_estimate(registers, m: int = 256):
    """Raw HLL cardinality estimate from a register relation.

    Z = sum over ALL m registers of 2^-M_j (empty registers contribute
    2^0 = 1). Every term is an exact dyadic double and the sum spans
    < 53 bits, so Z is bit-exact on any engine; the alpha correction
    and final division are a fixed literal expression evaluated in one
    deterministic order. Returns one row
    (n_occupied, z_sum, hll_estimate).
    """
    # 2^-rho via integer shift + one division: exact dyadic doubles on
    # any engine (pow() exactness for 2^-k is merely conventional)
    inv_pow2 = F.lit(1.0) / F.expr("shiftleft(1L, cast(max_rho as int))")
    return registers.agg(
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        (
            F.sum(inv_pow2)
            + (F.lit(m) - F.count(F.lit(1))).cast("double")
        ).alias("z_sum"),
    ).select(
        "n_occupied",
        "z_sum",
        (
            F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
            * F.lit(float(m * m))
            / F.col("z_sum")
        ).alias("hll_estimate"),
    )


def hll_tier(
    df,
    key_col: str = "key",
    time_col: str = "ts",
    item_col: str = "item",
    tier: str = "1h",
    m: int = 256,
):
    """Bucketed HLL register state — the COUNT DISTINCT continuous
    aggregate the cnt/sum/min/max tier ladder cannot express (distinct
    counts are not re-aggregable exactly; HLL registers ARE, by
    register-wise max). One row per (key, bucket_ts, reg) with
    ``max_rho`` — same portable poly-hash/rho construction as
    :func:`hll_registers`, same merge discipline as the rollup tiers:
    a commutative, associative max-merge, so tier-up state is
    bit-identical at any parallelism and to raw-computed state.

    Plan shape: ONE scalar hash aggregation over (key, bucket, reg) —
    partial map-side combine + final; state per bucket is <= m rows.
    """
    from spartan2_spark.operators.rollup import TIERS

    unit = TIERS[tier]
    pts = hll_point_registers(
        df, key_col=key_col, time_col=time_col, item_col=item_col, m=m
    )
    return (
        pts.select(
            "key",
            F.date_trunc(unit, F.col("ts")).alias("bucket_ts"),
            "reg",
            "rho",
        )
        .groupBy("key", "bucket_ts", "reg")
        .agg(F.max("rho").cast("long").alias("max_rho"))
    )


def hll_tier_up(state, tier: str):
    """Coarser-bucket HLL state FROM STORED STATE only: register-wise
    max over the re-bucketed rows — ONE scalar hash aggregation, the
    exact analogue of ``rollup_tier_up`` for distinct counts."""
    from spartan2_spark.operators.rollup import TIERS

    unit = TIERS[tier]
    return state.groupBy(
        "key",
        F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
        "reg",
    ).agg(F.max("max_rho").cast("long").alias("max_rho"))


def hll_tier_estimate(state, m: int = 256):
    """Per-(key, bucket) raw HLL estimate from tier state — same exact
    dyadic 2^-rho arithmetic as :func:`hll_estimate`, grouped."""
    inv_pow2 = F.lit(1.0) / F.expr("shiftleft(1L, cast(max_rho as int))")
    z = state.groupBy("key", "bucket_ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        (
            F.sum(inv_pow2) + (F.lit(m) - F.count(F.lit(1))).cast("double")
        ).alias("z_sum"),
    )
    return z.select(
        "key",
        "bucket_ts",
        "n_occupied",
        "z_sum",
        (
            F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
            * F.lit(float(m * m))
            / F.col("z_sum")
        ).alias("hll_estimate"),
    )


def kmv_distinct(df, key_col: str = "key", k: int = 64):
    """KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002): the k
    minimum distinct finalized poly-hashes of the key set. Estimate =
    (k-1) * P / h_(k), one exact-integer product and one division —
    value-exact on any engine.

    The bottom-k set is the mergeable state (union two sketches, keep
    the k smallest) and Spark plans the global bottom-k as
    TakeOrderedAndProject — per-partition heaps, no full sort. Returns
    one row (k_used, kth_hash, kmv_estimate).
    """
    from spartan2_spark.operators.spectral import _POLY_P
    from spartan2_spark.operators.text import _poly_hash

    h = _poly_hash(F.col(key_col).cast("string"))
    h = (h * 48271) % _POLY_P
    h = ((h * 48271) % _POLY_P).alias("h")
    bottom = df.select(h).distinct().orderBy("h").limit(k)
    return bottom.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("h").alias("kth_hash"),
    ).select(
        "k_used",
        "kth_hash",
        (
            ((F.col("k_used") - 1) * F.lit(_POLY_P)).cast("double")
            / F.col("kth_hash")
        ).alias("kmv_estimate"),
    )


def hll_point_registers(
    df,
    key_col: str = "key",
    time_col: str = "ts",
    item_col: str = "item",
    m: int = 256,
):
    """Per-ROW register projection shared by the batch
    (:func:`hll_tier`) and streaming (``stream_hll_tier``) distinct
    tiers: (key, ts, reg, rho) before any bucketing — the hash/rho
    math lives here ONCE so the two paths cannot drift."""
    from spartan2_spark.operators.spectral import _POLY_P
    from spartan2_spark.operators.text import _poly_hash

    h = _poly_hash(F.col(item_col).cast("string"))
    h = (h * 48271) % _POLY_P
    h = (h * 48271) % _POLY_P
    d = df.select(
        F.col(key_col).alias("key"),
        F.col(time_col).alias("ts"),
        h.alias("_h"),
    ).select(
        "key",
        "ts",
        (F.col("_h") % m).alias("reg"),
        ((F.col("_h") - F.col("_h") % m) / m).cast("long").alias("_w"),
    )
    rho = F.when(
        F.col("_w") > 0, F.lit(_HLL_W + 1) - F.length(F.bin("_w"))
    ).otherwise(F.lit(_HLL_W + 1))
    return d.select("key", "ts", "reg", rho.cast("long").alias("rho"))
