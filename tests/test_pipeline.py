"""End-to-end pipeline: manifests, resume, lineage, invariants."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from spartan2_spark.datagen import synth_pages
from spartan2_spark.operators import manifest as M
from spartan2_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def out_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("tiers"))


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 6000, n_urls=60, days=4)


@pytest.fixture(scope="module")
def first_run(spark, pages, out_root):
    return run_pipeline(spark, pages, out_root, resume=True)


def test_stages_and_manifests(spark, first_run, out_root):
    stages = [r["stage"] for r in first_run]
    assert stages == ["canonical", "t1m", "t1h", "t1d", "gapfill_1h", "blocks_1h"]
    for r in first_run:
        assert r["rows_written"] > 0
        man = M.read_manifest(out_root, r["stage"])
        assert man and all("value_crc" in e and "input_snapshot" in e for e in man)
        assert M.table_version(os.path.join(out_root, r["stage"])) >= 1


def test_tier_consistency(spark, out_root):
    t1m = spark.read.parquet(os.path.join(out_root, "t1m"))
    t1d = spark.read.parquet(os.path.join(out_root, "t1d"))
    assert t1m.agg(F.sum("cnt")).collect()[0][0] == t1d.agg(F.sum("cnt")).collect()[0][0]


def test_resume_skips_completed(spark, pages, first_run, out_root):
    r2 = run_pipeline(spark, pages, out_root, resume=True)
    by_stage = {r["stage"]: r for r in r2}
    for s in ("canonical", "t1m", "t1h", "t1d", "gapfill_1h", "blocks_1h"):
        assert by_stage[s]["new_partitions"] == 0, s
        assert by_stage[s]["skipped_partitions"] > 0, s
    # manifests unchanged content-wise (same crcs per dt)
    m1 = {e["dt"]: e["value_crc"] for e in M.read_manifest(out_root, "t1m")}
    assert len(m1) >= 4


def test_resume_recomputes_only_missing(spark, pages, out_root):
    """Kill/resume: drop one dt from the t1m manifest, rerun, verify the
    stage reports exactly one new partition and crc matches the original."""
    man = M.read_manifest(out_root, "t1m")
    victim = man[0]
    rest = man[1:]
    M.write_manifest(out_root, "t1m", rest)
    r = run_pipeline(spark, pages, out_root, resume=True)
    by_stage = {x["stage"]: x for x in r}
    assert by_stage["t1m"]["new_partitions"] == 1
    man2 = {e["dt"]: e for e in M.read_manifest(out_root, "t1m")}
    assert man2[victim["dt"]]["value_crc"] == victim["value_crc"]
    assert man2[victim["dt"]]["rows"] == victim["rows"]
    # crc lineage chaining: the recompute reproduced identical bytes, so
    # NOTHING downstream re-ran (incremental view maintenance)
    for s in ("t1h", "t1d", "gapfill_1h", "blocks_1h"):
        assert by_stage[s]["new_partitions"] == 0, s


def test_canonical_invariant(spark, out_root, pages):
    canon = spark.read.parquet(os.path.join(out_root, "canonical"))
    assert canon.groupBy("url").count().agg(F.max("count")).collect()[0][0] == 1
    # digest matches text bytes
    bad = canon.filter(
        F.sha2(F.col("canonical_text"), 256) != F.col("text_sha256")
    ).count()
    assert bad == 0


def test_late_arrival_recomputes_exactly_changed_dt(spark, tmp_path):
    """Late crawls land in an already-finalized warc_ts date: the per-dt
    raw-input crc chain must invalidate exactly that date down the
    ladder, and the refreshed tiers must equal a from-scratch run."""
    root_a = str(tmp_path / "a")
    root_b = str(tmp_path / "b")
    base = synth_pages(spark, 3000, n_urls=40, days=4)
    late = synth_pages(
        spark, 300, n_urls=40, start="2024-01-02 00:00:00", days=1
    )
    everything = base.unionByName(late)

    run_pipeline(spark, base, root_a, resume=True)

    # frozen-input mode documents the contract: without the input scan,
    # resume trusts the manifest and the late rows are NOT picked up
    r_frozen = {
        r["stage"]: r
        for r in run_pipeline(
            spark, everything, root_a, resume=True, detect_late_data=False
        )
    }
    assert r_frozen["t1m"]["new_partitions"] == 0

    r_late = {
        r["stage"]: r for r in run_pipeline(spark, everything, root_a, resume=True)
    }
    assert r_late["canonical"]["new_partitions"] == 1
    assert r_late["t1m"]["new_partitions"] == 1  # only 2024-01-02
    assert r_late["t1m"]["skipped_partitions"] == 3
    assert r_late["t1h"]["new_partitions"] == 1
    assert r_late["t1d"]["new_partitions"] == 1
    # gap-fill interpolates across dates: a changed t1h dt rebuilds it whole
    assert r_late["gapfill_1h"]["new_partitions"] >= 1
    assert r_late["gapfill_1h"]["skipped_partitions"] == 0
    assert r_late["blocks_1h"]["new_partitions"] >= 1

    # refreshed incrementally == computed from scratch, per-dt bit-equal
    run_pipeline(spark, everything, root_b, resume=True)
    for stage in ("t1m", "t1h", "t1d", "canonical", "gapfill_1h", "blocks_1h"):
        a = {e["dt"]: (e["rows"], e["value_crc"]) for e in M.read_manifest(root_a, stage)}
        b = {e["dt"]: (e["rows"], e["value_crc"]) for e in M.read_manifest(root_b, stage)}
        assert a == b, stage

    # idempotence: a third run over the same input is a full no-op
    r3 = {r["stage"]: r for r in run_pipeline(spark, everything, root_a, resume=True)}
    assert all(
        r3[s]["new_partitions"] == 0 for s in ("canonical", "t1m", "t1h", "t1d", "blocks_1h")
    )


def test_compaction_preserves_content_and_is_invisible_to_resume(spark, tmp_path):
    """Small-file compaction (Iceberg rewrite_data_files analogue):
    fewer files, identical per-dt crcs, and a resumed pipeline run sees
    nothing to do."""
    from spartan2_spark.operators.compaction import compact_tier

    root = str(tmp_path / "tiers")
    # many input partitions -> many small files per dt
    pages = synth_pages(spark, 4000, n_urls=40, days=3, num_partitions=24)
    run_pipeline(spark, pages, root, resume=True)

    man_before = {
        e["dt"]: (e["rows"], e["value_crc"]) for e in M.read_manifest(root, "t1m")
    }

    # fragment the tier the way many incremental runs would: rewrite the
    # same content round-robin across 12 tasks -> 12 files per dt
    t1m_dir = os.path.join(root, "t1m")
    frag = spark.read.parquet(t1m_dir).repartition(12)
    frag.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("dt").parquet(t1m_dir)

    rep = compact_tier(spark, root, "t1m", target_rows_per_file=100_000)
    assert rep["verified"] and rep["files_after"] < rep["files_before"]
    assert rep["files_after"] == rep["dts"]  # all rows fit one target file/dt

    # stored content still matches the (untouched) manifest lineage
    t1m = spark.read.parquet(os.path.join(root, "t1m"))
    live = {e["dt"]: (e["rows"], e["value_crc"]) for e in M.partition_lineage(t1m)}
    assert live == man_before

    # resume over the compacted table: nothing recomputes anywhere
    r = {x["stage"]: x for x in run_pipeline(spark, pages, root, resume=True)}
    for s in ("canonical", "t1m", "t1h", "t1d", "blocks_1h"):
        assert r[s]["new_partitions"] == 0, s


def test_manifest_entries_carry_physical_metrics(spark, first_run, out_root):
    for r in first_run:
        assert r["wall_sec"] > 0
    for st in ("t1m", "t1h", "t1d", "gapfill_1h", "blocks_1h"):
        for e in M.read_manifest(out_root, st):
            assert e["bytes"] > 0 and e["files"] >= 1, (st, e)


def test_gapfill_files_per_dt_follow_the_exchange(spark, first_run, out_root):
    """The gap rows stay on the tier's url exchange: a dt gets at most
    one file per shuffle partition, not a fixed round-robin spread."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    man = M.read_manifest(out_root, "gapfill_1h")
    assert man and all(e["files"] <= n for e in man), [e["files"] for e in man]


def test_manifests_match_inferred_schema_read(spark, first_run, out_root):
    """Each stage reads its output back with the schema it wrote; the
    lineage must equal that of a plain read that infers the schema from
    the files on disk."""
    def lineage(entries):
        return sorted((e["dt"], e["rows"], e["value_crc"]) for e in entries)

    for r in first_run:
        stage = r["stage"]
        live = M.partition_lineage(spark.read.parquet(os.path.join(out_root, stage)))
        assert lineage(M.read_manifest(out_root, stage)) == lineage(live), stage


def test_pipeline_and_compaction_leave_session_conf_alone(spark, tmp_path):
    """The overwrite mode is a per-write option: a caller's session
    setting survives run_pipeline and compact_tier unchanged."""
    from spartan2_spark.operators.compaction import compact_tier

    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        root = str(tmp_path / "t")
        run_pipeline(spark, synth_pages(spark, 1500, n_urls=20, days=2), root)
        assert spark.conf.get(key).lower() == "static"
        compact_tier(spark, root, "t1m")
        assert spark.conf.get(key).lower() == "static"
    finally:
        spark.conf.set(key, prior)


def test_vanished_upstream_dt_is_not_laundered_into_lineage(spark, tmp_path):
    """If an upstream date disappears (all its raw rows deleted), the
    downstream partition it produced must stay INVALID — not get
    re-stamped as current under the new input lineage."""
    root = str(tmp_path / "t")
    base = synth_pages(spark, 2000, n_urls=30, days=3)
    run_pipeline(spark, base, root, resume=True)
    dts = sorted(e["dt"] for e in M.read_manifest(root, "t1m"))
    victim = dts[0]

    shrunk = base.filter(F.to_date("warc_ts").cast("string") != victim)
    r = {x["stage"]: x for x in run_pipeline(spark, shrunk, root, resume=True)}
    # the surviving dates are untouched; the vanished date is neither
    # recomputed (no input) nor re-validated
    assert r["t1m"]["new_partitions"] == 0
    man = {e["dt"]: e for e in M.read_manifest(root, "t1m")}
    # stale entry still present but pinned to the OLD input crc -> a
    # further resume keeps treating it as invalid (never "done")
    from spartan2_spark.operators.manifest import completed_partitions, partition_lineage

    crcs = {
        e["dt"]: e["value_crc"]
        for e in partition_lineage(
            shrunk.withColumn("dt", F.to_date("warc_ts"))
        )
    }
    done = completed_partitions(root, "t1m", crcs)
    assert victim not in done
    assert set(done) == set(dts) - {victim}


def test_compaction_plan_greedy_groups_and_parallelism_invariance(spark):
    from spartan2_spark.operators.compaction import compaction_plan

    # blocks of 60 bytes at target 100: greedy cut by running total,
    # cumsum-before-block // 100 -> groups (0,60),(120,180),(240,300)...
    rows = [("1m", "u%02d" % i, 0, 60) for i in range(10)]
    df = spark.createDataFrame(
        rows, "tier string, url string, start_s long, bytes long"
    )
    plan = {
        r.grp: (r.n_blocks, r.total_bytes)
        for r in compaction_plan(
            df, bytes_col="bytes", target_bytes=100,
            part_cols=("tier",), order_cols=("url", "start_s"),
        ).collect()
    }
    # grp = cumsum-before // 100 over 60-byte blocks: 0,0,1,1,2,3,3,4,4,5
    assert plan == {0: (2, 120), 1: (2, 120), 2: (1, 60),
                    3: (2, 120), 4: (2, 120), 5: (1, 60)}
    # two-phase cumsum must not depend on the input partitioning
    plan2 = {
        r.grp: (r.n_blocks, r.total_bytes)
        for r in compaction_plan(
            df.repartition(8), bytes_col="bytes", target_bytes=100,
            part_cols=("tier",), order_cols=("url", "start_s"),
        ).collect()
    }
    assert plan2 == plan
    # partition column isolates the walk: second tier restarts at grp 0
    two = df.unionAll(
        spark.createDataFrame(
            [("1h", "u00", 0, 250)],
            "tier string, url string, start_s long, bytes long",
        )
    )
    p3 = compaction_plan(
        two, bytes_col="bytes", target_bytes=100,
        part_cols=("tier",), order_cols=("url", "start_s"),
    )
    assert {(r.tier, r.grp) for r in p3.collect()} >= {("1h", 0), ("1m", 0)}


def test_dict_encoding_plan_exact_bytes_and_verdicts(spark):
    from spartan2_spark.operators.compaction import dict_encoding_plan

    rows = (
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", None)]
        + [("g2", f"value-{i:04d}-{'x' * 20}") for i in range(8)]
    )
    df = spark.createDataFrame(rows, "source string, v string")
    out = {r["grp"]: r for r in dict_encoding_plan(df, "source", "v").collect()}
    g1 = out["g1"]
    # plain: 3 values x (1 byte + 4-byte prefix); dict: 2 distinct x 5
    # + (3 values x 1 bit + 7) DIV 8 = 1 index byte
    assert g1["n_values"] == 3 and g1["n_null"] == 1
    assert g1["n_distinct"] == 2 and g1["index_bits"] == 1
    assert g1["plain_bytes"] == 15 and g1["dict_bytes"] == 11
    assert g1["use_dict"] and g1["savings_bytes"] == 4
    g2 = out["g2"]
    # all-unique: dict page repeats every byte + pays index bits
    assert g2["n_distinct"] == g2["n_values"] == 8
    assert g2["index_bits"] == 3  # ceil(log2(8))
    assert g2["dict_bytes"] == g2["plain_bytes"] + (8 * 3 + 7) // 8
    assert not g2["use_dict"]


def test_dict_encoding_plan_width_boundaries(spark):
    from spartan2_spark.operators.compaction import dict_encoding_plan

    # d=1 -> conservative 1 bit; d=4 -> exactly 2 bits; d=5 -> 3 bits
    for d, want in ((1, 1), (4, 2), (5, 3)):
        df = spark.createDataFrame(
            [("g", f"v{i}") for i in range(d)], "source string, v string"
        )
        row = dict_encoding_plan(df, "source", "v").collect()[0]
        assert row["index_bits"] == want, (d, row["index_bits"])


def test_postings_plan_exact_varint_bytes(spark):
    from spartan2_spark.operators.compaction import postings_plan

    # term "x" in docs 0, 5, 300 -> deltas 0, 5, 295
    #   varint: bin(0)='0' ->1B; 5 ->1B; 295 (9 bits) ->2B => 4 bytes
    # term "solo" df=1 -> dropped by min_df=2
    rows = [
        (0, "x solo"),
        (5, "x"),
        (300, "x x"),  # duplicate hit in one doc: tf counts, df doesn't
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in postings_plan(df).collect()}
    assert "solo" not in out
    x = out["x"]
    assert (x["df"], x["tf"]) == (3, 4)
    assert x["varint_bytes"] == 4
    assert x["plain_bytes"] == 24
    assert x["varint_wins"] == 1


def test_postings_plan_varint_width_boundary(spark):
    from spartan2_spark.operators.compaction import postings_plan

    # gap 127 (7 bits) -> 1 byte; gap 128 (8 bits) -> 2 bytes: the
    # 2^(7k) boundary where a float-log ceil could go wrong
    rows = [(0, "a b"), (127, "a"), (128, "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in postings_plan(df).collect()}
    assert out["a"]["varint_bytes"] == 1 + 1
    assert out["b"]["varint_bytes"] == 1 + 2


def test_bloom_filter_plan_sizing(spark):
    from spartan2_spark.operators.compaction import bloom_filter_plan

    rows = (
        [("g1", f"k{i}") for i in range(5)]
        + [("g2", f"k{i}") for i in range(10)]
        + [("g2", "k0")]  # dup key: n_keys counts distinct
        + [("g3", f"k{i}") for i in range(16)]
    )
    df = spark.createDataFrame(rows, "grp string, key string")
    out = {r["grp"]: r for r in bloom_filter_plan(df, "grp", "key", 10).collect()}
    # g1: 5*10=50 <= 64 -> floor of 64 bits; k = (10*693+500) DIV 1000 = 7
    assert (out["g1"]["m_bits"], out["g1"]["k_hashes"]) == (64, 7)
    # g2: 10 distinct * 10 = 100 -> next pow2 = 128
    assert (out["g2"]["n_keys"], out["g2"]["m_bits"]) == (10, 128)
    # g3: 16*10=160 -> 256; bytes = m/8
    assert out["g3"]["m_bits"] == 256 and out["g3"]["bloom_bytes"] == 32
    # exact power of two stays put: 16 keys at 8 bits/key = 128
    out8 = {r["grp"]: r for r in bloom_filter_plan(df, "grp", "key", 8).collect()}
    assert out8["g3"]["m_bits"] == 128


def test_snapshot_diff_statuses(spark):
    """Four-way classification on planted manifests: added/removed/
    changed (count OR crc) / same, with exact row deltas."""
    import pandas as pd

    from spartan2_spark.operators.manifest import snapshot_diff

    a = spark.createDataFrame(pd.DataFrame({
        "part": ["p1", "p2", "p3", "p4"],
        "n_rows": [10, 20, 30, 40],
        "crc": [111, 222, 333, 444],
    }))
    b = spark.createDataFrame(pd.DataFrame({
        "part": ["p1", "p2", "p3", "p5"],
        "n_rows": [10, 25, 30, 7],
        "crc": [111, 222, 999, 50],
    }))
    out = {r.part: r for r in snapshot_diff(a, b).collect()}
    assert out["p1"].status == "same" and out["p1"].delta_rows == 0
    assert out["p2"].status == "changed" and out["p2"].delta_rows == 5
    assert out["p3"].status == "changed"  # crc moved, count identical
    assert out["p4"].status == "removed" and out["p4"].delta_rows == -40
    assert out["p5"].status == "added" and out["p5"].delta_rows == 7
    assert len(out) == 5


def test_week_tier_opt_in(spark, tmp_path):
    """week_tier=True appends the t1w hop: stage list gains t1w, the
    week tier's cnt mass equals t1m's (lossless re-aggregation), and —
    because a week partition aggregates SEVEN day partitions — resume
    must be ALL-OR-NOTHING: a second run skips the whole stage and the
    week state stays bit-identical (per-dt pruning would silently
    rebuild done weeks from 6/7 of their days)."""
    import os

    from spartan2_spark.datagen import ensure_pages
    from spartan2_spark.plans.pipeline import run_pipeline

    pages = ensure_pages(spark, str(tmp_path / "cache"), 4_000)
    out = str(tmp_path / "tiers_w")
    reports = run_pipeline(spark, pages, out, week_tier=True)
    stages = [r["stage"] for r in reports]
    assert "t1w" in stages
    assert stages.index("t1w") == stages.index("t1d") + 1
    t1m = spark.read.parquet(os.path.join(out, "t1m"))
    t1w = spark.read.parquet(os.path.join(out, "t1w"))
    assert (
        t1m.agg(F.sum("cnt")).collect()[0][0]
        == t1w.agg(F.sum("cnt")).collect()[0][0]
    )
    before = sorted(
        tuple(r)
        for r in t1w.select("url", "bucket_ts", "bin", "cnt", "vsum").collect()
    )
    r2 = {r["stage"]: r for r in run_pipeline(spark, pages, out, week_tier=True)}
    assert r2["t1w"]["new_partitions"] == 0
    assert r2["t1w"]["skipped_partitions"] > 0
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "t1w"))
        .select("url", "bucket_ts", "bin", "cnt", "vsum")
        .collect()
    )
    assert after == before


def test_all_or_nothing_rebuild_purges_orphans(spark, tmp_path):
    """ADVICE r4: a t1d retention trim must not launder orphan week
    partitions into the t1w manifest. The all-or-nothing rebuild now
    uses STATIC overwrite (orphan partitions wiped from disk) and a
    manifest REPLACE (orphan entries dropped), so after the upstream
    shrinks, t1w's disk and manifest both contain exactly the weeks
    derivable from the surviving days."""
    import shutil

    from spartan2_spark.datagen import synth_pages as _synth
    from spartan2_spark.operators import manifest as _M

    # two ISO weeks of data -> two week partitions
    pages = _synth(spark, 4000, n_urls=40, days=10)
    out = str(tmp_path / "tiers_orphan")
    run_pipeline(spark, pages, out, week_tier=True)
    t1w_dir = os.path.join(out, "t1w")
    weeks_before = {
        d for d in os.listdir(t1w_dir) if d.startswith("dt=")
    }
    assert len(weeks_before) >= 2

    # retention trim: a dt is dropped from EVERY tier (what
    # retention.apply_retention does) — remove enough trailing days to
    # eliminate the final ISO week entirely, from disk and manifests
    t1d_man = _M.read_manifest(out, "t1d")
    kept_days = sorted(e["dt"] for e in t1d_man)
    drop = set(kept_days[-4:])
    for stage in ("t1m", "t1h", "t1d"):
        sdir = os.path.join(out, stage)
        sman = _M.read_manifest(out, stage)
        for d in drop:
            p = os.path.join(sdir, f"dt={d}")
            if os.path.isdir(p):
                shutil.rmtree(p)
        _M.write_manifest(out, stage, [e for e in sman if e["dt"] not in drop])

    # resumed run over the trimmed corpus: the completed upstream dts
    # are skipped, the t1w fingerprint mismatch forces the week rebuild
    trimmed = pages.filter(
        F.to_date("warc_ts").cast("string") < min(drop)
    )
    run_pipeline(spark, trimmed, out, week_tier=True)
    weeks_after = {d for d in os.listdir(t1w_dir) if d.startswith("dt=")}
    man_after = {e["dt"] for e in _M.read_manifest(out, "t1w")}
    # disk and manifest agree, and both match the weeks of surviving days
    assert weeks_after == {f"dt={d}" for d in man_after}
    import datetime as dt

    surviving_weeks = {
        (dt.date.fromisoformat(d) - dt.timedelta(
            days=dt.date.fromisoformat(d).weekday())).isoformat()
        for e in _M.read_manifest(out, "t1d")
        for d in [e["dt"]]
    }
    assert man_after == surviving_weeks
    assert len(weeks_after) < len(weeks_before)
