"""Retention-tier expiry for the rollup ladder (the "retention" in
rollup + downsample + retention).

The north-rule pipeline keeps raw/fine tiers only for a TTL once the
coarser continuous aggregates cover them (TimescaleDB-style retention
policies on hypertables with continuous aggregates — re-expressed for
dt-partitioned parquet/Iceberg tables). Expiry is:

- **partition drops, not row deletes** — a tier is partitioned by
  ``dt`` and a day never spans partitions, so retention is a metadata
  operation per day at any scale (the Iceberg analogue is
  ``expire_snapshots`` + partition-predicate deletes);
- **safety-gated on chained lineage**: a dt of tier X may be dropped
  only if the covering tier's manifest entry for that dt records
  ``input_crc == X[dt].value_crc`` — i.e. the coarser aggregate was
  provably computed FROM the exact bytes being deleted (the same
  per-partition crc chain the resume layer uses);
- **tombstoned, not forgotten**: the stage manifest entry is kept with
  an ``expired_at`` stamp (rows + value_crc preserved for audit), so a
  resumed ``run_pipeline`` treats the dt as complete instead of
  resurrecting data the policy retired, and downstream crc validation
  keeps working;
- **logged**: every drop appends to ``_manifests/retention.json`` with
  the policy cutoff and the coverage evidence.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time

from . import manifest as M

__all__ = [
    "COVERERS",
    "apply_retention",
    "read_retention_log",
    "snapshot_expiry_plan",
]

# which coarser stage must cover a dt before the finer stage may drop it
COVERERS = {"t1m": "t1h", "t1h": "t1d"}


def _retention_log_path(root: str) -> str:
    return os.path.join(root, "_manifests", "retention.json")


def read_retention_log(root: str) -> list[dict]:
    p = _retention_log_path(root)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _parse_dt(s: str):
    try:
        return _dt.date.fromisoformat(s)
    except ValueError:
        return None  # non-date partitions (e.g. canonical's "ALL") never expire


def apply_retention(
    out_root: str,
    policies: dict[str, int],
    now_date: _dt.date,
    coverers: dict[str, str] | None = None,
    dry_run: bool = False,
) -> list[dict]:
    """Apply ``policies`` (stage -> keep_days) to the tier tables under
    ``out_root``. Returns the per-partition action plan; with
    ``dry_run=True`` nothing is deleted or written.

    A dt expires when ``dt < now_date - keep_days`` AND (if the stage
    has a coverer) the coverer's manifest proves coverage via the crc
    chain. Re-running is idempotent: tombstoned entries are skipped.
    """
    coverers = COVERERS if coverers is None else coverers
    plan: list[dict] = []
    now = time.time()

    # Finish crashed deletes FIRST, across every manifested stage — not
    # just stages still in `policies` and dts still past the *current*
    # cutoff. A tombstone (expired_at set) alone authorizes the delete:
    # the manifest already marks the partition retired, and raising
    # keep_days or dropping the stage from policies later must not leave
    # readers serving bytes the manifest says are gone.
    if not dry_run:
        mdir = os.path.join(out_root, "_manifests")
        stages = (
            [f[:-5] for f in os.listdir(mdir) if f.endswith(".json")]
            if os.path.isdir(mdir)
            else []
        )
        for stage in sorted(stages):
            for e in M.read_manifest(out_root, stage):
                if e.get("expired_at") is None:
                    continue
                part_dir = os.path.join(out_root, stage, f"dt={e['dt']}")
                if os.path.isdir(part_dir):
                    shutil.rmtree(part_dir)

    for stage, keep_days in sorted(policies.items()):
        cutoff = now_date - _dt.timedelta(days=keep_days)
        entries = M.read_manifest(out_root, stage)
        cov_stage = coverers.get(stage)
        cov_by_dt = (
            {e["dt"]: e for e in M.read_manifest(out_root, cov_stage)}
            if cov_stage
            else {}
        )
        to_expire: list[dict] = []
        for e in entries:
            d = _parse_dt(e["dt"])
            if d is None or d >= cutoff:
                continue
            part_dir = os.path.join(out_root, stage, f"dt={e['dt']}")
            if e.get("expired_at") is not None:
                # already tombstoned; the pre-pass above swept the
                # directory (idempotent re-run skips the entry here)
                continue
            action = {
                "stage": stage,
                "dt": e["dt"],
                "rows": e.get("rows"),
                "value_crc": e.get("value_crc"),
                "cutoff": str(cutoff),
                "coverer": cov_stage,
            }
            if cov_stage:
                cov = cov_by_dt.get(e["dt"])
                covered = (
                    cov is not None
                    and cov.get("input_crc") is not None
                    and cov.get("input_crc") == e.get("value_crc")
                )
                if not covered:
                    # refuse: the coarser tier does not (provably) hold
                    # an aggregate of these exact bytes. input_crc None
                    # never proves coverage (None == None must not
                    # launder an unproven partition into deletion).
                    plan.append({**action, "action": "refused_uncovered"})
                    continue
                action["coverer_value_crc"] = cov.get("value_crc")
            plan.append({**action, "action": "expire"})
            to_expire.append(e)
        if to_expire and not dry_run:
            # tombstone FIRST, then delete: a crash between the two
            # leaves tombstoned-but-present data (cleaned up by the next
            # run above), never deleted-but-live manifest entries that a
            # resumed pipeline would trust
            for e in to_expire:
                e["expired_at"] = now
            M.write_manifest(out_root, stage, entries)
            M.bump_table_version(os.path.join(out_root, stage))
            for e in to_expire:
                part_dir = os.path.join(out_root, stage, f"dt={e['dt']}")
                if os.path.isdir(part_dir):
                    shutil.rmtree(part_dir)
    if not dry_run:
        done = [dict(a, expired_at=now) for a in plan if a["action"] == "expire"]
        if done:
            log = read_retention_log(out_root) + done
            os.makedirs(os.path.join(out_root, "_manifests"), exist_ok=True)
            M._atomic_write(_retention_log_path(out_root), json.dumps(log, indent=0))
    return plan


def snapshot_expiry_plan(
    snapshots,
    keep_last: int = 3,
    horizon_us: int = 0,
):
    """Snapshot-expiry planning — the Iceberg ``expire_snapshots``
    policy computed as a relational plan over the snapshot log (one
    row per commit: ``table_name, snap_id, committed_us, n_files,
    n_rows``): a snapshot is KEPT if it is one of the ``keep_last``
    most recent commits of its table OR committed at/after
    ``horizon_us`` (the pinned time-travel horizon — callers pass
    ``now - retain_for``, never a wall clock read, so the plan is
    deterministic and resumable); everything else is EXPIRED. Reports
    one row per snapshot with its recency rank, the keep/expire
    action, and the per-table reclaim the expiry would free — the
    metadata-maintenance complement of :func:`apply_retention`'s
    partition drops.

    Exactness: ranks are ``row_number`` over the total order
    (committed_us DESC, snap_id DESC) — commits at the same
    microsecond are broken by snapshot id, so the cut is
    engine-deterministic; the keep predicate and all reclaim counts
    are pure BIGINT.

    Plan shape: one per-table window (hash(table_name) exchange) + a
    per-table aggregate that reuses the window's partitioning, joined
    back broadcast (one row per table) — a single shuffle over the
    snapshot log, which is metadata-sized (commits, not data).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("table_name").orderBy(
        F.col("committed_us").desc(), F.col("snap_id").desc()
    )
    ranked = snapshots.select(
        "table_name",
        F.col("snap_id").cast("long").alias("snap_id"),
        F.col("committed_us").cast("long").alias("committed_us"),
        F.col("n_files").cast("long").alias("n_files"),
        F.col("n_rows").cast("long").alias("n_rows"),
    ).withColumn("recency_rank", F.row_number().over(w))
    keep = (F.col("recency_rank") <= F.lit(int(keep_last))) | (
        F.col("committed_us") >= F.lit(int(horizon_us))
    )
    planned = ranked.withColumn(
        "action", F.when(keep, F.lit("keep")).otherwise(F.lit("expire"))
    )
    reclaim = planned.groupBy("table_name").agg(
        F.sum(F.when(F.col("action") == "expire", 1).otherwise(0))
        .cast("long")
        .alias("tbl_expired"),
        F.sum(
            F.when(F.col("action") == "expire", F.col("n_files")).otherwise(0)
        )
        .cast("long")
        .alias("tbl_files_reclaimed"),
        F.sum(
            F.when(F.col("action") == "expire", F.col("n_rows")).otherwise(0)
        )
        .cast("long")
        .alias("tbl_rows_reclaimed"),
    )
    return planned.join(F.broadcast(reclaim), "table_name")
