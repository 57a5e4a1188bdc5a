"""Checkpoint manifests with per-partition lineage + resume.

Every rollup stage writes, atomically (tmp file + rename), a JSON
manifest recording per output partition (calendar date of bucket_ts,
matching the table's physical ``dt`` layout):

    {"dt": ..., "rows": ..., "value_crc": ..., "input_snapshot": ...,
     "stage": ..., "written_at_version": ...}

``value_crc`` is an order-independent content checksum
(sum of pmod(xxhash64(all columns), 2^31)) so a resumed/re-run stage can
be byte-audited; ``input_snapshot`` records the upstream table version
the partition was computed from (the Iceberg snapshot-id analogue — the
sandbox table layer is a parquet directory with a version file). Resume
validity is decided by the crc lineage, not by that version.

Resume: ``completed_partitions`` names the stage's valid dts; a
resumed stage filters them out of its input before any compute, so a
killed job recomputes only missing dates — the north rule's "resumes
mid-tier without recomputation". ``write_manifest`` is the one writer
of the manifest file.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "table_version",
    "bump_table_version",
    "stage_manifest_path",
    "read_manifest",
    "completed_partitions",
    "write_manifest",
    "write_partition_entries",
    "partition_lineage",
]


# ------------------------------------------------------------ table layer
# Iceberg is not on the sandbox classpath; a parquet dir + version file
# gives the same code path (version == snapshot id). SURVEY.md section 7 M0.


def table_version(table_dir: str) -> int:
    p = os.path.join(table_dir, "_VERSION")
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip() or 0)


def bump_table_version(table_dir: str) -> int:
    os.makedirs(table_dir, exist_ok=True)
    v = table_version(table_dir) + 1
    _atomic_write(os.path.join(table_dir, "_VERSION"), str(v))
    return v


# ------------------------------------------------------------- manifests


def _atomic_write(path: str, content: str) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        f.write(content)
    os.replace(tmp, path)


def stage_manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, "_manifests", f"{stage}.json")


def read_manifest(root: str, stage: str) -> list[dict]:
    p = stage_manifest_path(root, stage)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def write_manifest(root: str, stage: str, entries: list[dict]) -> None:
    """Replace the stage manifest with ``entries``, sorted by dt,
    atomically."""
    _atomic_write(
        stage_manifest_path(root, stage),
        json.dumps(sorted(entries, key=lambda x: x["dt"]), indent=0),
    )


def upstream_crcs(root: str, src_stage: str) -> dict[str, int]:
    """Per-dt value checksums of an upstream stage's current manifest —
    the lineage tokens downstream entries pin themselves to."""
    return {e["dt"]: e["value_crc"] for e in read_manifest(root, src_stage)}


def completed_partitions(
    root: str,
    stage: str,
    upstream: dict[str, int] | None = None,
) -> set[str]:
    """dts already durably produced by this stage AND still valid.

    Validity is per-partition: with ``upstream`` given (a dt->crc map of
    the input stage's manifest), an entry stays valid iff the upstream
    crc it was computed from is unchanged — so one recomputed upstream
    date invalidates exactly one downstream date, never the whole table
    (incremental view maintenance, cf. the reference's delta
    re-aggregation, edgepropertyAnalysis.py:184-213). Without
    ``upstream`` the input is taken as frozen and every entry counts."""
    out = set()
    for e in read_manifest(root, stage):
        if e.get("expired_at") is not None:
            # retired by a retention policy (operators/retention.py):
            # treat as durably complete so a resumed run never
            # resurrects data the policy dropped
            out.add(e["dt"])
            continue
        if upstream is not None and (
            e.get("input_crc") is None
            or e["input_crc"] != upstream.get(e["dt"])
        ):
            # a missing input_crc means the entry predates crc chaining
            # or its upstream dt no longer exists — either way it cannot
            # be proven current, so it is NOT valid (None == None must
            # not launder a stale partition into the lineage)
            continue
        out.add(e["dt"])
    return out


def write_partition_entries(
    root: str,
    stage: str,
    entries: list[dict],
    input_snapshot: int,
    input_crcs: dict[str, int] | None = None,
    replace: bool = False,
) -> None:
    """Merge new per-partition entries into the stage manifest
    (last-writer-wins per dt), atomically.

    ``replace=True`` drops every existing entry first — the manifest
    becomes exactly ``entries``. Used by full-rebuild stages (t1w,
    gapfill_1h) after a static-overwrite rebuild: the rebuild's output
    IS the whole table, so entries for dts the rebuild did not produce
    describe partitions that no longer exist and must not survive the
    merge (a merged orphan entry would be stamped with the new upstream
    fingerprint and laundered back into the valid set)."""
    now = time.time()
    merged = {} if replace else {e["dt"]: e for e in read_manifest(root, stage)}
    for e in entries:
        e = dict(e)
        e["stage"] = stage
        e["input_snapshot"] = input_snapshot
        if input_crcs is not None:
            e["input_crc"] = input_crcs.get(e["dt"])
        e["written_at"] = now
        merged[e["dt"]] = e
    write_manifest(root, stage, list(merged.values()))


def partition_sizes(table_dir: str) -> dict[str, dict]:
    """Physical per-dt metrics of a partitioned table dir: bytes +
    parquet file count (what an Iceberg commit records as
    added-files-size / added-data-files per partition)."""
    out: dict[str, dict] = {}
    if not os.path.isdir(table_dir):
        return out
    for entry in os.listdir(table_dir):
        if not entry.startswith("dt="):
            continue
        p = os.path.join(table_dir, entry)
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        out[entry[len("dt=") :]] = {
            "bytes": sum(os.path.getsize(os.path.join(p, f)) for f in files),
            "files": len(files),
        }
    return out


def partition_lineage(df: DataFrame, dt_col="dt") -> list[dict]:
    """Compute per-dt lineage rows (row count + order-independent value
    checksum) for a stage output — one aggregation, no collect of data."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c != dt_col]), F.lit(1 << 31))
    rows = (
        df.groupBy(dt_col)
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(h).alias("value_crc"))
        .collect()
    )
    return [
        {"dt": str(r[dt_col]), "rows": r["rows"], "value_crc": r["value_crc"]}
        for r in rows
    ]


def snapshot_diff(
    snap_a: DataFrame,
    snap_b: DataFrame,
    part_col: str = "part",
    rows_col: str = "n_rows",
    crc_col: str = "crc",
) -> DataFrame:
    """Iceberg-style snapshot diff over two partition manifests — the
    DataFrame twin of the file-manifest resume logic above
    (``completed_partitions``): classify every partition as ``added``
    (only in B), ``removed`` (only in A), ``changed`` (present in both
    with a different row count or content CRC) or ``same``, and emit
    the exact row delta. This is what an incremental tier rebuild
    reads to schedule ONLY the dirty partitions, and what a lineage
    audit reads to explain a tier discrepancy ("which partitions moved
    between snapshot 41 and 47?").

    Exactness: all-BIGINT counts/CRCs, the status is a four-way CASE
    on null-markers and integer equality — no floats anywhere.

    Plan shape: ONE full-outer equi-join on the partition key (both
    manifests are partition-count-sized — thousands of rows per tier,
    never data-sized — so the join broadcasts); output is manifest-
    sized.
    """
    a = snap_a.select(
        F.col(part_col).alias("part"),
        F.col(rows_col).cast("long").alias("rows_a"),
        F.col(crc_col).cast("long").alias("crc_a"),
    )
    b = snap_b.select(
        F.col(part_col).alias("part"),
        F.col(rows_col).cast("long").alias("rows_b"),
        F.col(crc_col).cast("long").alias("crc_b"),
    )
    j = a.join(b, on="part", how="full_outer")
    status = (
        F.when(F.col("rows_a").isNull(), F.lit("added"))
        .when(F.col("rows_b").isNull(), F.lit("removed"))
        .when(
            (F.col("rows_a") != F.col("rows_b"))
            | (F.col("crc_a") != F.col("crc_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("same"))
    )
    return j.select(
        "part",
        "rows_a",
        "rows_b",
        "crc_a",
        "crc_b",
        status.alias("status"),
        (
            F.coalesce(F.col("rows_b"), F.lit(0))
            - F.coalesce(F.col("rows_a"), F.lit(0))
        ).cast("long").alias("delta_rows"),
    )
