"""Tests for the explicit-partitioning layer: domain extraction, salt
planning for head-domain skew, range layout, and the distributed dense
id assigner."""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from spartan2_spark.datagen import synth_pages
from spartan2_spark.operators.partitioning import (
    domain_salt_map,
    global_dense_ids,
    salted_repartition,
    with_domain,
)


@contextlib.contextmanager
def _conf(spark, settings: dict[str, str]):
    """Session confs set for the block, restored after it."""
    saved = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_with_domain_extracts_host(spark):
    df = spark.createDataFrame(
        [("https://a.example.com/x/y",), ("https://b.org/p",)], "url string"
    )
    got = {r.domain for r in with_domain(df).collect()}
    assert got == {"a.example.com", "b.org"}


def test_salt_map_targets_hot_domains_only(spark):
    pages = with_domain(synth_pages(spark, 20_000, n_urls=200, days=2))
    m = domain_salt_map(pages, target_rows_per_salt=2_000).toPandas()
    # Zipf head: at least one hot domain needs >1 salt; cold ones absent
    assert len(m) >= 1
    assert (m["n_salts"] > 1).all()
    freqs = pages.groupBy("domain").count().toPandas().set_index("domain")
    assert all(freqs.loc[d, "count"] > 2_000 for d in m["domain"])


def test_salted_repartition_deterministic_and_bounded(spark):
    pages = synth_pages(spark, 20_000, n_urls=200, days=2)
    a = salted_repartition(pages, 16, target_rows_per_salt=2_000)
    b = salted_repartition(pages, 16, target_rows_per_salt=2_000)
    # same rows land with the same (domain, salt) on every run
    ka = a.select("url", "warc_ts", "salt").toPandas().sort_values(["url", "warc_ts"])
    kb = b.select("url", "warc_ts", "salt").toPandas().sort_values(["url", "warc_ts"])
    assert (ka["salt"].to_numpy() == kb["salt"].to_numpy()).all()
    # the hottest (domain, salt) cell is smaller than the hottest domain
    dom = a.groupBy("domain").count().agg(F.max("count")).collect()[0][0]
    cell = a.groupBy("domain", "salt").count().agg(F.max("count")).collect()[0][0]
    assert cell < dom


def test_global_dense_ids_order_and_parallelism_invariance(spark):
    keys = spark.createDataFrame(
        [(f"k{i:04d}",) for i in range(997)], "node_key string"
    )

    def dense(n_parts: int):
        with _conf(spark, {
            "spark.sql.shuffle.partitions": str(n_parts),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }):
            return global_dense_ids(keys, "node_key", "node_id").toPandas()

    a, b = dense(7), dense(2)
    a = a.sort_values("node_key").reset_index(drop=True)
    b = b.sort_values("node_key").reset_index(drop=True)
    # dense 0..n-1 in key sort order, independent of partition count
    assert list(a["node_id"]) == list(range(997))
    assert (a["node_id"].to_numpy() == b["node_id"].to_numpy()).all()


def test_global_row_numbers_matches_single_partition_reference(spark):
    """Property: the distributed numbering equals the plain
    row_number() over a single-partition window, including with
    duplicate sort keys broken by a unique tie-break column — and the
    byte-weighted prefix sum behind ``compaction_plan`` equals its
    single-window cumsum. Both must hold under every {exchange reuse,
    AQE} plan environment: the input below comes out of a shuffle, so
    its per-partition row order (and with it the range-bound sample)
    differs between evaluations, and an unpinned ranged relation read
    twice pairs local sums with another evaluation's offsets."""
    import numpy as np
    from pyspark.sql import Window as W

    from spartan2_spark.operators.compaction import compaction_plan
    from spartan2_spark.operators.partitioning import global_row_numbers

    rng = np.random.default_rng(7)
    rows = [(int(i), float(rng.integers(0, 20))) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, score double")
    order = [F.desc("score"), F.asc("id")]
    with _conf(spark, {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }):
        got = global_row_numbers(df, order, "rn").toPandas()
    ref = df.withColumn("rn_ref", F.row_number().over(W.orderBy(*order))).toPandas()
    m = got.merge(ref[["id", "rn_ref"]], on="id")
    assert (m["rn"] == m["rn_ref"]).all()

    n = 200_000
    skewed = (
        spark.range(2 * n)
        .select(
            (F.col("id") % n).alias("url"),
            # 70% of the rows in one tier
            F.when(F.col("id") % 10 < 7, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 13).cast("string")))
            .alias("tier"),
            (F.col("id") % 97 + 1).alias("bytes"),
        )
        .groupBy("url")
        .agg(F.first("tier").alias("tier"), F.sum("bytes").alias("bytes"))
        .withColumn("start_ts", F.lit(0))
    )
    order = [F.col("tier"), F.col("bytes").desc(), F.col("url")]
    cum = W.partitionBy("tier").orderBy("url", "start_ts").rowsBetween(
        W.unboundedPreceding, 0
    )
    plan_cols = ["tier", "grp", "n_blocks", "total_bytes"]
    for reuse in ("true", "false"):
        for aqe in ("true", "false"):
            env = {"spark.sql.exchange.reuse": reuse, "spark.sql.adaptive.enabled": aqe}
            with _conf(spark, env):
                rn = global_row_numbers(skewed, order, "rn").select("url", "rn")
                rn_ref = skewed.select(
                    "url", F.row_number().over(W.orderBy(*order)).alias("rn_ref")
                )
                assert rn.count() == n, env
                bad = rn.join(rn_ref, "url").filter(F.col("rn") != F.col("rn_ref"))
                assert bad.count() == 0, env

                plan = compaction_plan(skewed, target_bytes=5000)
                plan_ref = (
                    skewed.withColumn("__c", F.sum("bytes").over(cum))
                    .withColumn("grp", F.floor((F.col("__c") - F.col("bytes")) / 5000))
                    .groupBy("tier", "grp")
                    .agg(
                        F.count(F.lit(1)).cast("long").alias("n_blocks"),
                        F.sum("bytes").cast("long").alias("total_bytes"),
                    )
                )
                assert sorted(map(tuple, plan.select(plan_cols).collect())) == sorted(
                    map(tuple, plan_ref.select(plan_cols).collect())
                ), env


def test_zorder_key_interleaves_and_clusters(spark):
    from pyspark.sql import functions as F

    from spartan2_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8)], "a long, b long"
    )
    out = {(r.a, r.b): r.z for r in df.select(
        "a", "b", zorder_key("a", "b", bits=3).alias("z")).collect()}
    # bit-interleave ground truth
    def morton(a, b):
        z = 0
        for i in range(3):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z
    assert all(out[(a, b)] == morton(a, b) for a in range(8) for b in range(8))
    # locality: sorting by z clusters both dims — any 8 consecutive
    # z-ordered points span at most a 4-wide box in each dimension
    order = sorted(out, key=lambda k: out[k])
    for i in range(0, 64, 8):
        blk = order[i:i + 8]
        assert max(x for x, _ in blk) - min(x for x, _ in blk) <= 4
        assert max(y for _, y in blk) - min(y for _, y in blk) <= 4


def test_key_skew_profile_planted(spark):
    from spartan2_spark.operators.partitioning import key_skew_profile

    # one head key with half the rows, a warm key, and a cold tail
    rows = [("hot", i) for i in range(50)]
    rows += [("warm", i) for i in range(30)]
    rows += [(f"cold{i}", 0) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, v long")
    prof = {r.key: r for r in key_skew_profile(df, "k", k=3).collect()}
    assert len(prof) == 3 and prof["hot"].rnk == 1 and prof["warm"].rnk == 2
    assert prof["hot"].share == 0.5 and prof["hot"].cum_share == 0.5
    assert prof["warm"].cum_share == 0.8
    assert prof["hot"].n_keys == 22
    # rank-3 key resolves ties deterministically by key name
    assert prof["cold0"].rnk == 3 and prof["cold0"].cnt == 1


def test_gini_concentration_planted(spark):
    from spartan2_spark.operators.partitioning import gini_concentration

    # uniform: every key the same count -> gini 0
    uni = spark.createDataFrame(
        [(f"k{i}", j) for i in range(4) for j in range(5)], "k string, v long"
    )
    r = gini_concentration(uni, "k").collect()[0]
    assert r.gini == 0.0 and r.n_keys == 4 and r.total == 20
    # counts [1, 9] -> G = (2*(1*1 + 2*9) - 3*10) / (2*10) = 0.4
    skew = spark.createDataFrame(
        [("a", 0)] + [("b", i) for i in range(9)], "k string, v long"
    )
    r2 = gini_concentration(skew, "k").collect()[0]
    assert r2.gini == 0.4


def test_allocate_quotas_largest_remainder():
    from spartan2_spark.operators.partitioning import allocate_quotas

    # 7 seats at 1/3 each: floors give 2+2+2, last seat to the
    # name-order tie-break winner
    q = allocate_quotas({"a": 1.0, "b": 1.0, "c": 1.0}, 7)
    assert q == {"a": 3, "b": 2, "c": 2}
    q2 = allocate_quotas({"x": 0.5, "y": 0.3, "z": 0.2}, 10)
    assert q2 == {"x": 5, "y": 3, "z": 2}
    assert sum(allocate_quotas({"a": 0.123, "b": 0.877}, 99).values()) == 99


def test_source_mix_sample_deterministic_and_shortfall(spark):
    from spartan2_spark.operators.partitioning import source_mix_sample

    rows = [(f"s{j}", i * 10 + j) for j in range(2) for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    w = {"s0": 0.8, "s1": 0.2}
    out1 = {
        (r.source, r.doc_id, r.rank)
        for r in source_mix_sample(df, w, total=25).collect()
    }
    # partitioning must not change the pick (hash-rank is data-pure)
    out2 = {
        (r.source, r.doc_id, r.rank)
        for r in source_mix_sample(
            df.repartition(7, "doc_id"), w, total=25
        ).collect()
    }
    assert out1 == out2 and len(out1) == 25
    assert sum(1 for s, _, _ in out1 if s == "s0") == 20
    # quota 40 for s0 but only 20 rows exist: shortfall surfaces as-is
    short = source_mix_sample(df, w, total=50).collect()
    per = {}
    for r in short:
        per[r.source] = per.get(r.source, 0) + 1
    assert per == {"s0": 20, "s1": 10}


def test_partition_split_plan_exact_ranks_and_invariance(spark):
    from spartan2_spark.operators.partitioning import partition_split_plan

    n, k = 100, 4
    df = spark.createDataFrame(
        [(i * 7 % n, i) for i in range(n)], "v long, id long"
    )
    plan = partition_split_plan(df, ["v", "id"], k).collect()
    assert [r["split_idx"] for r in plan] == [1, 2, 3]
    assert [r["rank"] for r in plan] == [25, 50, 75]
    assert [r["rows_in_bucket"] for r in plan] == [25, 25, 25]
    # boundary value = the rank-th smallest under the total order
    ordered = sorted((i * 7 % n, i) for i in range(n))
    assert [(r["v"], r["id"]) for r in plan] == [
        ordered[24], ordered[49], ordered[74]
    ]
    # boundaries independent of input partitioning
    plan2 = partition_split_plan(df.repartition(9), ["v", "id"], k).collect()
    assert [tuple(r) for r in plan] == [tuple(r) for r in plan2]


def test_partition_split_plan_uneven_counts(spark):
    from spartan2_spark.operators.partitioning import partition_split_plan

    # n=10, k=3: ranks 3, 6 -> buckets 3/3/4 (sizes differ by at most 1)
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    plan = partition_split_plan(df, ["v"], 3).collect()
    assert [r["rank"] for r in plan] == [3, 6]
    assert [r["rows_in_bucket"] for r in plan] == [3, 3]
    assert [r["v"] for r in plan] == [2, 5]


def test_join_strategy_plan_decisions(spark):
    """Broadcast flips to shuffle on the byte threshold; salt factor
    is exact ceil; skew flag follows the ppm cut."""
    import pandas as pd

    from spartan2_spark.operators.partitioning import join_strategy_plan

    fact = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 70 + ["b"] * 25 + ["c"] * 5})
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b", "c"], "name": ["xx", "yyy", "z"]})
    )
    out = {
        r.key: r
        for r in join_strategy_plan(
            fact, dim, key_col="k", broadcast_bytes=1000,
            rows_per_task=30, skew_ppm=500_000, top_k=10,
        ).collect()
    }
    # dim bytes: per row 8 (k is string? no -> k IS string: octets) ...
    # k strings: 1 byte each; name 2+3+1 = 6; total 3*1 + 6 = 9 bytes
    assert out["a"].dim_bytes == 9 and out["a"].strategy == "broadcast"
    assert out["a"].cnt == 70 and out["a"].share_ppm == 700_000
    assert out["a"].salted == 1 and out["b"].salted == 0
    assert out["a"].salt_parts == 3  # ceil(70/30)
    assert out["c"].salt_parts == 1
    tiny = join_strategy_plan(
        fact, dim, key_col="k", broadcast_bytes=8, rows_per_task=30,
    ).collect()[0]
    assert tiny.strategy == "shuffle"


def test_traffic_tiers_exact_cuts(spark):
    """10 domains, head 10% / torso 30%: ceil cuts put exactly 1
    domain in the head and 2 more in the torso; ppm shares floor."""
    import pandas as pd

    from spartan2_spark.operators.partitioning import traffic_tiers

    rows = []
    for i, n in enumerate([100, 50, 30, 10, 5, 4, 3, 2, 2, 1]):
        rows += [f"d{i}/x"] * n
    df = spark.createDataFrame(pd.DataFrame({"url": rows}))
    out = {r.tier: r for r in traffic_tiers(df, head_pct=10, torso_pct=30).collect()}
    total = 207
    assert out["head"].n_domains == 1 and out["head"].fetches == 100
    assert out["torso"].n_domains == 2 and out["torso"].fetches == 80
    assert out["tail"].n_domains == 7 and out["tail"].fetches == 27
    assert out["head"].share_ppm == 100 * 1_000_000 // total
    assert out["tail"].share_ppm == 27 * 1_000_000 // total


def test_mix_alpha_weights_temperature_semantics(spark):
    """alpha=0 -> uniform p; alpha=1 -> natural proportions; 0<alpha<1
    flattens (small source's p rises above its natural share); quotas
    and epochs exact; invalid alpha raises."""
    import pytest

    from spartan2_spark.operators.partitioning import mix_alpha_weights

    rows = [("big",)] * 900 + [("small",)] * 100
    df = spark.createDataFrame(rows, "source string")

    def by_stratum(alpha, **kw):
        return {
            r.stratum: r
            for r in mix_alpha_weights(df, "source", alpha=alpha, **kw).collect()
        }

    uni = by_stratum(0.0)
    assert abs(uni["big"].p - 0.5) < 1e-9 and abs(uni["small"].p - 0.5) < 1e-9

    nat = by_stratum(1.0)
    assert abs(nat["big"].p - 0.9) < 1e-6 and abs(nat["small"].p - 0.1) < 1e-6

    mid = by_stratum(0.3, target_total=1000)
    assert 0.1 < mid["small"].p < 0.5  # flattened above natural share
    assert mid["small"].quota + mid["big"].quota <= 1000
    assert abs(mid["small"].epochs - mid["small"].quota / 100) < 1e-12

    with pytest.raises(ValueError):
        mix_alpha_weights(df, "source", alpha=-0.1)


def test_mix_alpha_quota_exact_past_2_pow_53(spark):
    """quota = wq * T // wq_total exactly when wq * T passes 2^53 (where
    a double quotient can round up across an integer) and 2^63 (where a
    BIGINT product overflows)."""
    from spartan2_spark.operators.partitioning import mix_alpha_weights

    T = 10**12
    # with these sizes the double quotient of stratum "a" is one too high
    sizes = [("a", 285), ("b", 336), ("c", 424)]
    for strata in (sizes, sizes + [("d", 10**9)]):
        df = spark.createDataFrame(strata, "source string, tokens long")
        out = mix_alpha_weights(
            df, "source", size_col="tokens", alpha=0.3, target_total=T
        ).collect()
        wq_total = sum(r.wq for r in out)
        assert max(r.wq for r in out) * T > 2**53
        for r in out:
            assert r.quota == r.wq * T // wq_total, (r.stratum, r.quota)
