"""Retention-tier expiry: coverage-gated partition drops, tombstones,
resume interaction, audit log."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from spartan2_spark.datagen import synth_pages
from spartan2_spark.operators import manifest as M
from spartan2_spark.operators.retention import apply_retention, read_retention_log
from spartan2_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def out_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ret_tiers"))


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 5000, n_urls=50, days=4, start="2024-01-01 00:00:00")


@pytest.fixture(scope="module")
def built(spark, pages, out_root):
    return run_pipeline(spark, pages, out_root, resume=True)


NOW = dt.date(2024, 1, 5)  # data spans 2024-01-01 .. 2024-01-04


def test_dry_run_plans_without_deleting(spark, built, out_root):
    plan = apply_retention(out_root, {"t1m": 2}, NOW, dry_run=True)
    exp = [a for a in plan if a["action"] == "expire"]
    assert {a["dt"] for a in exp} == {"2024-01-01", "2024-01-02"}
    for a in exp:
        assert a["coverer"] == "t1h"
        assert os.path.isdir(os.path.join(out_root, "t1m", f"dt={a['dt']}"))
    assert read_retention_log(out_root) == []
    assert all(
        e.get("expired_at") is None for e in M.read_manifest(out_root, "t1m")
    )


def test_refuses_uncovered_partition(spark, built, out_root):
    # tamper: break the crc chain for one covered dt
    man = M.read_manifest(out_root, "t1h")
    saved = None
    for e in man:
        if e["dt"] == "2024-01-01":
            saved = e["input_crc"]
            e["input_crc"] = e["input_crc"] + 1
    M.write_manifest(out_root, "t1h", man)
    try:
        plan = apply_retention(out_root, {"t1m": 2}, NOW, dry_run=True)
        by_dt = {a["dt"]: a["action"] for a in plan}
        assert by_dt["2024-01-01"] == "refused_uncovered"
        assert by_dt["2024-01-02"] == "expire"
    finally:
        for e in man:
            if e["dt"] == "2024-01-01":
                e["input_crc"] = saved
        M.write_manifest(out_root, "t1h", man)


def test_expire_drops_tombstones_and_logs(spark, built, out_root):
    v_before = M.table_version(os.path.join(out_root, "t1m"))
    plan = apply_retention(out_root, {"t1m": 2}, NOW)
    exp = {a["dt"] for a in plan if a["action"] == "expire"}
    assert exp == {"2024-01-01", "2024-01-02"}
    for d in exp:
        assert not os.path.isdir(os.path.join(out_root, "t1m", f"dt={d}"))
    # physical table now only serves retained dts
    dts = {
        str(r.dt)
        for r in spark.read.parquet(os.path.join(out_root, "t1m"))
        .select("dt")
        .distinct()
        .collect()
    }
    assert dts == {"2024-01-03", "2024-01-04"}
    # tombstones keep lineage for audit; version bumped
    man = {e["dt"]: e for e in M.read_manifest(out_root, "t1m")}
    for d in exp:
        assert man[d]["expired_at"] is not None
        assert man[d]["value_crc"] is not None
    assert M.table_version(os.path.join(out_root, "t1m")) == v_before + 1
    log = read_retention_log(out_root)
    assert {(a["stage"], a["dt"]) for a in log} == {("t1m", d) for d in exp}
    # idempotent: second run is a no-op
    assert apply_retention(out_root, {"t1m": 2}, NOW) == []
    assert len(read_retention_log(out_root)) == len(log)


def test_resume_does_not_resurrect_expired(spark, pages, built, out_root):
    reports = run_pipeline(spark, pages, out_root, resume=True)
    r = {x["stage"]: x for x in reports}
    # every stage fully skipped — expired dts count as durably complete
    assert r["t1m"]["new_partitions"] == 0
    assert r["t1m"]["skipped_partitions"] == 4
    assert r["t1h"]["new_partitions"] == 0
    for d in ("2024-01-01", "2024-01-02"):
        assert not os.path.isdir(os.path.join(out_root, "t1m", f"dt={d}"))
    # coarser tier still serves the whole history
    t1h_dts = {
        str(r2.dt)
        for r2 in spark.read.parquet(os.path.join(out_root, "t1h"))
        .select("dt")
        .distinct()
        .collect()
    }
    assert t1h_dts == {"2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"}


def test_uncovered_stage_policy(spark, built, out_root):
    # blocks_1h has no coverer -> TTL applies unconditionally
    plan = apply_retention(out_root, {"blocks_1h": 3}, NOW, dry_run=True)
    assert {a["dt"] for a in plan if a["action"] == "expire"} == {"2024-01-01"}
    assert all(a["coverer"] is None for a in plan)


def test_tombstone_sweep_ignores_current_cutoff(spark, built, out_root):
    """A tombstoned-but-undeleted partition is swept even when the
    stage's keep_days was raised (or the stage dropped from policies):
    expired_at alone authorizes the delete."""
    entries = M.read_manifest(out_root, "t1h")
    victim = min(entries, key=lambda e: e["dt"])
    part_dir = os.path.join(out_root, "t1h", f"dt={victim['dt']}")
    assert os.path.isdir(part_dir)
    # simulate a crash between tombstone write and directory delete
    victim["expired_at"] = 1.0
    M.write_manifest(out_root, "t1h", entries)
    # keep_days so large nothing is past the cutoff; different stage in
    # policies entirely — the sweep must still finish the delete
    plan = apply_retention(out_root, {"t1d": 9999}, NOW)
    assert plan == []
    assert not os.path.isdir(part_dir)
