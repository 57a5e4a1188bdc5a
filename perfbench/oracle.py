"""Output checks: DuckDB twins of the pipeline's tables and reads.

Every function returns a list of problems (empty when the check holds);
the caller counts a non-empty list as one failed operation.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from spartan2_spark.functions import gorilla_codec as C
from tools.check_oracle import compare

STAGES = ("canonical", "t1m", "t1h", "t1d", "gapfill_1h", "blocks_1h")


def connect(pages_dirs: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB session with a ``pages`` view over the run's input parquet."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    globs = ", ".join(f"'{d}/*/*.parquet'" for d in pages_dirs)
    con.execute(
        f"CREATE VIEW pages AS SELECT url, warc_ts::TIMESTAMP AS ts, text "
        f"FROM read_parquet([{globs}])"
    )
    return con


def stage_scan(root: str, stage: str) -> str:
    return f"read_parquet('{root}/{stage}/*/*.parquet', hive_partitioning = true)"


def content_hashes(con, root: str) -> dict[str, dict[str, tuple[int, int]]]:
    """stage -> dt -> (rows, order-independent row-hash sum)."""
    out = {}
    for stage in STAGES:
        rows = con.execute(
            f"SELECT dt::VARCHAR, count(*), sum(hash(t)::HUGEINT)::VARCHAR "
            f"FROM (SELECT * EXCLUDE (dt), dt FROM {stage_scan(root, stage)}) t "
            f"GROUP BY dt"
        ).fetchall()
        out[stage] = {d: (n, int(h)) for d, n, h in rows}
    return out


def tier_view_problems(spark, con, root: str) -> list[str]:
    """``tier_view`` of the stored t1h/t1d state equals count/min/max/
    mean/p95 (``quantile_disc``) computed by DuckDB from the raw pages."""
    from pyspark.sql import functions as F

    from spartan2_spark.operators import rollup as R

    problems = []
    for stage, unit in (("t1h", "hour"), ("t1d", "day")):
        got = (
            R.tier_view(spark.read.parquet(os.path.join(root, stage)).drop("dt"))
            .select(
                "url",
                F.unix_timestamp("bucket_ts").alias("bucket_s"),
                "cnt", "vmin", "vmax", "vmean", "p95",
            )
            .toPandas()
        )
        want = con.execute(
            f"SELECT url, epoch(date_trunc('{unit}', ts))::BIGINT AS bucket_s, "
            f"count(*) AS cnt, min(v) AS vmin, max(v) AS vmax, "
            f"sum(v) / count(*) AS vmean, quantile_disc(v, 0.95) AS p95 "
            f"FROM (SELECT url, ts, length(text)::DOUBLE AS v FROM pages) "
            f"GROUP BY ALL"
        ).df()
        problems += [f"{stage} tier_view: {p}" for p in compare(got, want)]
    return problems


def canonical_problems(con, root: str) -> list[str]:
    """Stored canonical sha256 per url equals DuckDB's latest-wins text
    (ties broken by the greatest digest)."""
    got = con.execute(
        f"SELECT url, text_sha256 FROM {stage_scan(root, 'canonical')}"
    ).df()
    want = con.execute(
        "SELECT url, text_sha256 FROM (SELECT url, sha256(text) AS text_sha256, "
        "row_number() OVER (PARTITION BY url ORDER BY ts DESC, sha256(text) DESC) "
        "AS rn FROM pages) WHERE rn = 1"
    ).df()
    return [f"canonical: {p}" for p in compare(got, want)]


def decode_store_blocks(root: str) -> tuple[pd.DataFrame, dict]:
    """Decode every block of ``blocks_1h`` with the codec's multi
    kernels; returns the points and the raw block columns."""
    t = pq.read_table(
        os.path.join(root, "blocks_1h"),
        columns=["url", "n_points", "ts_block", "val_block"],
    )
    ns = t.column("n_points").to_numpy().astype(np.int64)
    tb = t.column("ts_block").to_pylist()
    vb = t.column("val_block").to_pylist()
    pts = pd.DataFrame(
        {
            "url": np.repeat(np.array(t.column("url").to_pylist(), dtype=object), ns),
            "ts": C.decode_ts_multi(tb, ns),
            "value": C.decode_vals_multi(vb, ns),
        }
    )
    return pts, {"ns": ns, "ts_block": tb, "val_block": vb}


def gap_points(con, root: str) -> pd.DataFrame:
    return con.execute(
        f"SELECT url, epoch(bucket_ts)::BIGINT AS ts, vmean AS value "
        f"FROM {stage_scan(root, 'gapfill_1h')}"
    ).df()


def blocks_problems(con, root: str) -> list[str]:
    """Decoded ``blocks_1h`` equals ``gapfill_1h`` exactly."""
    pts, _ = decode_store_blocks(root)
    return [f"blocks_1h vs gapfill_1h: {p}" for p in compare(pts, gap_points(con, root))]


def build_problems(spark, con, root: str) -> list[str]:
    return (
        tier_view_problems(spark, con, root)
        + canonical_problems(con, root)
        + blocks_problems(con, root)
    )


def hash_problems(got: dict, want: dict, what: str) -> list[str]:
    return [
        f"{what}: {stage} content differs on dts "
        f"{sorted(d for d in set(got[stage]) | set(want[stage]) if got[stage].get(d) != want[stage].get(d))}"
        for stage in STAGES
        if got[stage] != want[stage]
    ]


class ReadOracle:
    """DuckDB copy of a store's ``gapfill_1h`` points, for checking reads."""

    def __init__(self, con, root: str):
        self.con = con
        con.execute(
            f"CREATE OR REPLACE TABLE gap AS SELECT url, epoch(bucket_ts)::BIGINT AS ts, "
            f"vmean AS value FROM {stage_scan(root, 'gapfill_1h')}"
        )

    def problems(self, got: pd.DataFrame, urls: list[str], t0: int, t1: int) -> list[str]:
        want = self.con.execute(
            "SELECT url, ts, value FROM gap WHERE list_contains(?, url) "
            "AND ts BETWEEN ? AND ?",
            [urls, t0, t1],
        ).df()
        return compare(got[["url", "ts", "value"]], want)
