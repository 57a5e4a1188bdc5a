"""Seeded pages and late-batch generators for the benchmark.

Same shape and skew as ``spartan2_spark.datagen.synth_pages`` (which
hard-codes its hash seeds): Zipf domains, head-skewed urls
(``u ** 2.2``), one in seven (url, hour) cells dropped, one in five
crawls a text revision, text length and language fixed per url. Built
with NumPy and written with pyarrow, so the inputs exist before Spark
starts and the same seed gives byte-identical parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi ut aliquip ex ea "
    "commodo consequat duis aute irure dolor in reprehenderit in voluptate "
    "velit esse cillum dolore eu fugiat nulla pariatur excepteur sint "
    "occaecat cupidatat non proident sunt in culpa qui officia deserunt "
    "mollit anim id est laborum "
) * 12
_LANGS = np.array(["en", "de", "zh", "fr", "es", "ru", "ja", "pt"])
START_S = 1704067200  # 2024-01-01 00:00:00 UTC
GAP_MOD = 7
REV_MOD = 5


def _mix(x: np.ndarray, key: int) -> np.ndarray:
    """splitmix64 finalizer of ``x`` keyed by ``key``: a stateless hash."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64((key * 0x9E3779B97F4A7C15) % (1 << 64))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


class Shape:
    """Per-seed url universe shared by a base table and its late batch."""

    def __init__(self, seed: int, n_rows: int, days: int):
        self.seed = seed
        self.days = days
        self.n_urls = max(n_rows // 8, 16)
        self.n_domains = max(self.n_urls // 64, 8)
        uid = np.arange(self.n_urls)
        u_dom = _mix(uid, seed * 4 + 1) / float(1 << 64)
        self.domain = np.floor(self.n_domains ** u_dom).astype(np.int64) % self.n_domains
        self.text_len = 80 + (_mix(uid, seed * 4 + 2) % np.uint64(2000)).astype(np.int64)
        self.lang = _LANGS[(_mix(uid, seed * 4 + 3) % np.uint64(len(_LANGS))).astype(np.int64)]

    def url(self, url_id: np.ndarray) -> np.ndarray:
        return np.char.add(
            np.char.add(
                np.char.add("https://d", self.domain[url_id].astype(str)),
                ".example.com/p/",
            ),
            url_id.astype(str),
        )

    def table(self, rng: np.random.Generator, n: int, day_lo: np.ndarray) -> pa.Table:
        """``n`` crawl draws; ``day_lo[i]`` is the first day row i may land on
        (a row spans one day when ``day_lo`` is set per row, else all days)."""
        url_id = np.floor(self.n_urls * rng.random(n) ** 2.2).astype(np.int64)
        span = np.where(day_lo < 0, self.days * 86400, 86400)
        offset = np.maximum(day_lo, 0) * 86400 + np.floor(rng.random(n) * span).astype(np.int64)
        hour = offset // 3600
        keep = _mix(url_id * 1_000_003 + hour, self.seed * 4 + 4) % np.uint64(GAP_MOD) != 0
        url_id, offset = url_id[keep], offset[keep]
        rev = rng.integers(0, REV_MOD, len(url_id)) == 0
        urls = self.url(url_id)
        text = [
            f"url {u} :: {_LOREM[:k]}{' [rev2]' if r else ''}"
            for u, k, r in zip(urls.tolist(), self.text_len[url_id].tolist(), rev.tolist())
        ]
        ts = (START_S + offset) * 1_000_000
        return pa.table(
            {
                "url": pa.array(urls.tolist(), pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(
                    [f"<html><body>{t}</body></html>".encode() for t in text], pa.binary()
                ),
                "text": pa.array(text, pa.string()),
                "lang": pa.array(self.lang[url_id].tolist(), pa.string()),
                "dt": pa.array(
                    np.datetime_as_string(
                        (START_S + offset).astype("datetime64[s]"), unit="D"
                    ).tolist(),
                    pa.string(),
                ),
            }
        )


def write_pages(table: pa.Table, path: str) -> int:
    """Write ``table`` as dt-partitioned parquet (the ``ensure_pages``
    layout); returns the row count."""
    pq.write_to_dataset(table, path, partition_cols=["dt"])
    return table.num_rows


def base_pages(shape: Shape, n_rows: int) -> pa.Table:
    rng = np.random.default_rng([shape.seed, 1])
    return shape.table(rng, n_rows, np.full(n_rows, -1))


def late_batch(shape: Shape, n_rows: int, n_dates: int) -> pa.Table:
    """Late crawls: ``n_rows`` draws landing on ``n_dates`` seeded
    existing dates."""
    rng = np.random.default_rng([shape.seed, 2])
    days = rng.choice(shape.days, n_dates, replace=False)
    return shape.table(rng, n_rows, rng.choice(days, n_rows))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
