"""bench.py's flagship number is the production job's: ``run_flagship``
times ``run_pipeline`` and reports its stages, not a chain of its own."""

from __future__ import annotations

import os

import bench
from spartan2_spark.operators import manifest as M

STAGES = ["canonical", "t1m", "t1h", "t1d", "gapfill_1h", "blocks_1h"]


def test_run_flagship_times_run_pipeline(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "CACHE", str(tmp_path))
    flag = bench.run_flagship(spark, 600, out_tag="_test")

    assert list(flag["stage_secs"]) == STAGES
    root = os.path.join(str(tmp_path), "bench_tiers_test")
    assert flag["tier_rows"] == {
        t: sum(e["rows"] for e in M.read_manifest(root, t)) for t in ("t1m", "t1h", "t1d")
    }
    assert all(n > 0 for n in flag["tier_rows"].values())
    assert flag["points_per_sec"] > 0
