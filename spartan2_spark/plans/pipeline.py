"""The north-rule end-to-end job: pages -> canonical text -> salted
partitioning -> raw->1m->1h->1d tier ladder -> gap-filled view ->
Gorilla blocks, with a checkpoint manifest per stage and mid-tier
resume.

Layout under ``out_root``:

    canonical/            url -> canonical text + sha256 (latest-wins)
    t1m/ t1h/ t1d/        tier state tables, parquet partitioned by dt
    gapfill_1h/ blocks_1h/  gap-filled view + Gorilla block table
    _manifests/<stage>.json per-partition lineage (rows, value_crc,
                            input_snapshot, input_crc)
    <table>/_VERSION        table snapshot counter (Iceberg-id analogue)

Resume contract (two layers):
1. every stage filters its INPUT to dts missing-or-invalid in its own
   manifest BEFORE any compute — for dt-partitioned parquet inputs that
   is a partition-pruned scan, so a resumed run doesn't even read
   completed dates — and writes with dynamic partition overwrite;
2. validity is chained per-partition via lineage crcs: a downstream
   entry records the upstream dt's value_crc it was computed from, so a
   recomputed upstream date invalidates exactly the matching downstream
   date (incremental view maintenance), and an upstream rewrite that
   reproduced identical bytes invalidates nothing.

Tier dts are self-contained (a minute/hour/day bucket never spans a
calendar date), which is what makes the date the correct resume unit.
The gap-fill stage interpolates ACROSS dates (and the opt-in week tier
spans seven dates), so each is a full rebuild: it pins a fingerprint
of the whole upstream manifest instead, and is skipped or rebuilt as a
whole.

Run via ``spark-submit --py-files spartan2_spark.zip`` on a cluster;
locally the same entry point drives local[N].
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spartan2_spark.operators import gapfill as G
from spartan2_spark.operators import gorilla as GO
from spartan2_spark.operators import manifest as M
from spartan2_spark.operators import partitioning as P
from spartan2_spark.operators import rollup as R

__all__ = ["run_pipeline"]


def _fingerprint(crcs: dict[str, int]) -> int:
    """One crc over a whole dt -> crc map: the lineage token of a stage
    whose every output partition depends on every input partition."""
    return zlib.crc32(";".join(f"{d}={c}" for d, c in sorted(crcs.items())).encode())


def build_t1m(pages: DataFrame, target_rows_per_salt: int = 1_000_000) -> DataFrame:
    """raw -> 1m with explicit salted partitioning for head domains.
    The salted exchange carries the projected (url, ts, value) points,
    not the page text; ``ts`` is ``warc_ts``, so every salt is the one
    hash(url, warc_ts) gives."""
    salted = P.salted_repartition(
        R.raw_points(pages), target_rows_per_salt=target_rows_per_salt, ts_col="ts"
    )
    return R.rollup_from_points(salted, "1m").withColumn("dt", F.to_date("bucket_ts"))


def _run_stage(
    spark: SparkSession,
    out_root: str,
    stage: str,
    input_df: DataFrame,
    input_dt_col,
    build,
    input_snapshot: int,
    resume: bool,
    upstream: dict[str, int] | None = None,
    fingerprint: int | None = None,
) -> tuple[dict, DataFrame]:
    """Stage protocol: resume-prune input -> build -> dynamic-overwrite
    write -> per-partition lineage -> manifest merge -> version bump.
    Returns the stage report and the stage's table, read with the
    schema the build wrote, so no reader infers it from the files.

    With ``fingerprint`` set the stage is a full rebuild (t1w,
    gapfill_1h): every output partition depends on every input
    partition, so the stage is skipped whole when every manifest entry
    already carries that fingerprint as its ``input_crc``. Otherwise
    the build's output IS the whole table: the write uses STATIC
    partition overwrite (the stage dir is wiped — orphan partitions
    from a previous, larger upstream cannot survive a retention trim)
    and the manifest is REPLACED with exactly the produced dts, each
    pinned to the fingerprint.

    Metrics: each manifest entry additionally records the partition's
    physical bytes + file count at write time, and the stage report
    carries wall seconds — the per-commit operational metrics the north
    rule pairs with lineage."""
    import time as _time

    t_start = _time.time()
    out_dir = os.path.join(out_root, stage)
    entries: list[dict] = []
    if fingerprint is None:
        # crc lineage decides validity alone; ``input_snapshot`` is
        # recorded in the entries, not compared (a version pin would
        # over-invalidate: an upstream rewrite that reproduced identical
        # bytes bumps the version but not the crc)
        done = M.completed_partitions(out_root, stage, upstream) if resume else set()
    else:
        # a full rebuild is current as a whole or not at all
        man = M.read_manifest(out_root, stage) if resume else []
        current = bool(man) and all(e.get("input_crc") == fingerprint for e in man)
        done = {e["dt"] for e in man} if current else set()

    def not_done(df: DataFrame, col) -> DataFrame:
        return df.filter(~col.cast("string").isin(sorted(done))) if done else df

    write = fingerprint is None or not done
    # a skipped full rebuild builds too: its plan is lazy and gives the
    # table's schema without running a job
    out_df = build(not_done(input_df, input_dt_col) if write else input_df)
    if write:
        out_df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic" if fingerprint is None else "static"
        ).partitionBy("dt").parquet(out_dir)
    # read with the schema just written: no inference job
    table = spark.read.schema(out_df.schema).parquet(out_dir)
    if write:
        new = not_done(table, F.col("dt"))
        if upstream:
            # a dt on disk but absent from the upstream lineage was NOT
            # rewritten by this run (dynamic overwrite only touches dts
            # the build produced) — it is stale, and stamping it with the
            # new input lineage would launder it into the manifest as
            # current. Leave it unstamped (and invalid) until a retention
            # policy or upstream repair deals with it.
            new = new.filter(F.col("dt").cast("string").isin(sorted(upstream)))
        entries = M.partition_lineage(new)
        sizes = M.partition_sizes(out_dir)
        for e in entries:
            e.update(sizes.get(e["dt"], {}))
        pins = upstream if fingerprint is None else {e["dt"]: fingerprint for e in entries}
        M.write_partition_entries(
            out_root, stage, entries, input_snapshot, pins,
            replace=fingerprint is not None,
        )
    # snapshot semantics: a run that added no partitions is not a new
    # snapshot (otherwise downstream version pins would churn on no-ops)
    version = M.bump_table_version(out_dir) if entries else M.table_version(out_dir)
    return {
        "stage": stage,
        "new_partitions": len(entries),
        "rows_written": sum(e["rows"] for e in entries),
        "bytes_written": sum(e.get("bytes", 0) for e in entries),
        "skipped_partitions": len(done),
        "version": version,
        "wall_sec": round(_time.time() - t_start, 3),
    }, table


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    resume: bool = True,
    target_rows_per_salt: int = 1_000_000,
    detect_late_data: bool = True,
    week_tier: bool = False,
) -> list[dict]:
    """Full ladder. Returns per-stage stats (for PROGRESS/BENCH logs).

    ``detect_late_data``: late crawls are the norm for a growing pages
    table — rows for a warc_ts date whose tier partitions were already
    finalized. With True (default) the run computes per-dt content crcs
    of the raw input (one hash aggregation over pages) and chains them
    as the canonical/t1m stages' upstream lineage, so a changed raw
    date invalidates and recomputes exactly the affected downstream
    partitions — the same incremental-view-maintenance rule the tier
    hops already use, extended to the external boundary. With False the
    raw input is assumed frozen (append-free) and resume trusts the
    manifest alone, skipping the input scan; on a real Iceberg catalog
    the changed-date set would come from the snapshot's incremental
    file manifest instead of a content scan, so production pays
    metadata cost, not a re-hash.
    """
    os.makedirs(out_root, exist_ok=True)
    reports = []
    # each stage's table, read with its written schema: the downstream
    # stages' input, with no schema-inference job
    tables: dict[str, DataFrame] = {}
    pages_version = 1  # external input table: pinned snapshot

    def stage(name: str, *args, **kwargs) -> None:
        report, tables[name] = _run_stage(spark, out_root, name, *args, **kwargs)
        reports.append(report)

    if detect_late_data and resume:
        pages_crcs = {
            e["dt"]: e["value_crc"]
            for e in M.partition_lineage(
                pages.withColumn("dt", F.to_date("warc_ts"))
            )
        }
        # canonical is a single global latest-wins table (dt="ALL"):
        # any changed raw date invalidates it as a whole
        canon_crcs = {"ALL": _fingerprint(pages_crcs)}
    else:
        pages_crcs = None
        canon_crcs = None

    # -- canonical text per url (byte-identical invariant; crc in manifest)
    stage(
        "canonical",
        pages, F.lit("ALL"),
        lambda df: R.canonical_text(df).withColumn("dt", F.lit("ALL")),
        pages_version, resume,
        upstream=canon_crcs,
    )

    # -- raw -> 1m, with explicit salted partitioning for head domains
    stage(
        "t1m",
        pages, F.to_date("warc_ts"),
        lambda df: build_t1m(df, target_rows_per_salt), pages_version, resume,
        upstream=pages_crcs,
    )

    # -- 1m -> 1h -> 1d from stored state only (per-dt lineage
    # chaining; these hops are per-dt resumable because input and
    # output dts coincide — a day tier row rebuilds from that day's
    # hour rows only)
    for src, dst, tier in (("t1m", "t1h", "1h"), ("t1h", "t1d", "1d")):
        stage(
            dst,
            tables[src], F.col("dt"),
            lambda df, t=tier: R.rollup_tier_up(df.drop("dt"), t).withColumn(
                "dt", F.to_date("bucket_ts")
            ),
            M.table_version(os.path.join(out_root, src)), resume,
            upstream=M.upstream_crcs(out_root, src),
        )

    # -- opt-in 1w long-retention hop: a full rebuild like the gapfill
    # view, NOT per-dt resumable: a week partition (dt = ISO Monday)
    # aggregates SEVEN t1d day partitions, so per-dt input pruning
    # against completed week dts would drop only the Monday day and
    # silently rebuild every done week from 6/7 of its days on resume.
    # The week tier is the coarsest state (smallest of the ladder), so
    # rebuild-on-any-t1d-change is cheap and keeps resume exact: the
    # stage is pinned to a fingerprint of the whole t1d manifest.
    if week_tier:
        stage(
            "t1w",
            tables["t1d"], None,
            lambda df: R.rollup_tier_up(df.drop("dt"), "1w").withColumn(
                "dt", F.to_date("bucket_ts")
            ),
            M.table_version(os.path.join(out_root, "t1d")), resume,
            fingerprint=_fingerprint(M.upstream_crcs(out_root, "t1d")),
        )

    # -- gap-filled 1h view (materialized for readers/BeatLex).
    # Interpolation crosses dates -> a full rebuild, pinned to a
    # fingerprint of the whole upstream manifest.
    def build_gap(df):
        # cluster the scan by url ONCE: HashPartitioning(url) satisfies
        # both the tier_view groupBy(url, bucket_ts) clustering AND the
        # gap-descriptor window partitionBy(url), so the whole
        # view -> lead-window -> explode chain plans a single Exchange
        # instead of two full shuffles of the tier (at N executors the
        # removed shuffle is cross-JVM serde, the dominant marginal
        # cost of the stage; output bit-identical — commutative aggs)
        view = R.tier_view(df.drop("dt").repartition(F.col("url")))
        return G.densify_fill(
            view.select("url", "bucket_ts", "cnt", "vmean"),
            "1h",
            ("vmean",),
            method="interp",
        ).withColumn("dt", F.to_date("bucket_ts"))

    stage(
        "gapfill_1h",
        tables["t1h"], None,
        build_gap, M.table_version(os.path.join(out_root, "t1h")), resume,
        fingerprint=_fingerprint(M.upstream_crcs(out_root, "t1h")),
    )

    # -- Gorilla blocks for the 1h tier (per url x dt; dt-resumable)
    stage(
        "blocks_1h",
        tables["gapfill_1h"], F.col("dt"),
        lambda df: GO.encode_tier_blocks(
            df, "1h", value_col="vmean", extra_group_cols=("dt",)
        ),
        M.table_version(os.path.join(out_root, "gapfill_1h")), resume,
        upstream=M.upstream_crcs(out_root, "gapfill_1h"),
    )
    return reports
