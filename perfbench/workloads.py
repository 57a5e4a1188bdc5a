"""The workloads, their output checks and their metrics.

Each run: record the environment; set up ``SETUP_REPS`` times (fresh
Spark session, seeded inputs written and loaded) and keep the last; do the
workload's untimed preparation; then time operations in a closed loop,
one client, until ``seconds`` have passed and a minimum count is
reached. Every operation's output is checked; a failed check or an
exception counts as a failed operation. A traced run then restarts the
session with Spark's event log on and the outside wrappers installed,
repeats a few operations (``cold_build`` adds one late-data refresh
cycle), and reports the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import oracle
import pages as PG
import tracing

N_ROWS = 6_000  # crawl draws per base table (about 5.1k points after gaps)
DAYS = 7
LATE_ROWS = N_ROWS // 100  # the late batch: 1% of the base ...
LATE_DATES = 2  # ... landing on two existing dates
RETAIN = {"t1m": 4}  # keep four days of 1m state
NOW_DATE = dt.date(2024, 1, 1) + dt.timedelta(days=DAYS)
ROUND = ("point",) * 4 + ("scan",)  # reads come in rounds of 4 point + 1 scan
SCAN_URLS = 200
SCAN_DAYS = 7
SETUP_REPS = 5
MIN_OPS = {"cold_build": 3, "range_reads": 3 * len(ROUND)}
TRACED_OPS = {"cold_build": 2, "range_reads": 10}
WINDOWS = oracle.STAGES + ("compaction", "read_point", "read_scan")
SPARK_FIELDS = ("executor_cpu_ms", "jvm_gc_ms", "shuffle_write_bytes", "spill_bytes", "task_skew")
SELF_SPANS = ("pipeline", "pipeline.stage", "manifest.partition_lineage", "read")


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def environment(spark, env: dict) -> dict:
    """The run's recorded environment, with a co-tenant calibration
    (three timed 2000x2000 matmuls, as ``bench.py`` records)."""
    import pyarrow

    a = np.random.default_rng(0).random((2000, 2000))
    mm = []
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        mm.append(round(time.perf_counter() - t0, 3))
    jvm = spark.sparkContext._jvm.System
    return {
        **env,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "load_avg_1m": round(os.getloadavg()[0], 2),
        "host_calibration": {"matmul_2000_sec": mm},
    }


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, work: str, out: str,
                 env: dict, rss: tracing.RssSampler | None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.out = out  # span files
        self.env = env
        self.rss = rss  # None in untraced runs
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.shape = PG.Shape(seed, N_ROWS, DAYS)
        self.n = 0  # ops started, names each op's store dir

    # -- session and set-up -------------------------------------------
    def start_session(self, extra_conf: dict | None = None):
        from spartan2_spark.session import get_spark

        self.stop_session()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.env['nproc']}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                **(extra_conf or {}),
            },
        )

    def stop_session(self) -> None:
        from spartan2_spark.session import stop_all

        if self.spark is not None:
            stop_all()
            self.spark = None

    @staticmethod
    def stop_jvm(timeout: float = 60.0) -> None:
        """Shut the py4j gateway's JVM down and wait until it, and every
        other process this one started, has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                proc.wait(timeout)
        deadline = time.monotonic() + timeout
        while tracing.descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)

    def setup(self) -> dict:
        """Set up ``SETUP_REPS`` times; the last set-up's inputs stay.
        The late batch is written too: the traced refresh cycle uses it."""
        totals, starts, gens = [], [], []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            t1 = time.perf_counter()
            dirs = [os.path.join(self.work, f"in{i}", d) for d in ("pages", "late")]
            self.raw_points = PG.write_pages(PG.base_pages(self.shape, N_ROWS), dirs[0])
            PG.write_pages(PG.late_batch(self.shape, LATE_ROWS, LATE_DATES), dirs[1])
            t2 = time.perf_counter()
            self.page_dirs = dirs
            self.load_pages()
            if self.pages.count() != self.raw_points:
                raise RuntimeError("loaded pages disagree with the generated row count")
            t3 = time.perf_counter()
            totals.append(t3 - t0)
            starts.append(t1 - t0)
            gens.append(t2 - t1)
        print(f"perfbench: set-up seconds {[round(t, 3) for t in totals]} "
              f"(session {[round(t, 3) for t in starts]})", file=sys.stderr)
        self.con = oracle.connect(self.page_dirs[:1])
        return {"setup_s": _median(totals), "session.start_s": _median(starts),
                "datagen.pages_s": _median(gens)}

    def load_pages(self) -> None:
        """``pages``: the base table; ``late_pages``: base + late batch."""
        base, late = (self.spark.read.parquet(d) for d in self.page_dirs)
        cols = ("url", "warc_ts", "html", "text", "lang")
        self.pages = base.select(*cols)
        self.late_pages = base.unionByName(late).select(*cols)

    # -- checked operations -------------------------------------------
    def checked(self, fn, check) -> tuple[object, float]:
        """Run ``fn`` timed, then ``check(result)`` untimed. Returns
        (result, seconds); an exception or a problem is a failed op."""
        self.attempted += 1
        try:
            with self.rss.measuring() if self.rss else contextlib.nullcontext():
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
            problems = check(out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, float("nan")
        if problems:
            self.failed += 1
            print(f"perfbench: check failed: {problems[:5]}", file=sys.stderr)
        return out, wall

    def store(self, tag: str) -> str:
        self.n += 1
        return os.path.join(self.work, f"{tag}{self.n}")

    def build(self, pages, root: str):
        from spartan2_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, pages, root)

    def build_checked(self, pages, root: str, con) -> dict | None:
        """A pipeline build fully checked against DuckDB over ``con``'s
        pages; returns its content hashes, or None if it failed."""
        failed = self.failed
        self.checked(
            lambda: self.build(pages, root),
            lambda _: oracle.build_problems(self.spark, con, root),
        )
        return oracle.content_hashes(con, root) if self.failed == failed else None

    # -- workloads ----------------------------------------------------
    def prepare(self) -> None:
        """Untimed work before the first timed operation: two warm-up
        builds (cold_build), or the store to read and one warm-up round
        of reads (range_reads). After one warm-up build the next build
        was still about 15% slower than the ones after it."""
        if self.workload == "cold_build":
            self.final = self.store("cold")
            self.ref = self.build_checked(self.pages, self.final, self.con)
            self.op()
        else:
            self.final = self.store("store")
            self.build(self.pages, self.final)
            self.reads = ReadPlan(self.seed, self.con, self.final)
            self.blocks = self.spark.read.parquet(os.path.join(self.final, "blocks_1h"))
            for kind in ROUND:
                self.op(self.reads.next(kind))

    def op(self, read: dict | None = None) -> tuple[float, dict]:
        """One timed operation of the workload; returns (seconds, info)."""
        if self.workload == "cold_build":
            root = self.store("cold")
            # with no verified warm-up to compare against, check in full
            reports, wall = self.checked(
                lambda: self.build(self.pages, root),
                lambda _: oracle.hash_problems(
                    oracle.content_hashes(self.con, root), self.ref, "rebuild"
                ) if self.ref else oracle.build_problems(self.spark, self.con, root),
            )
            if reports is not None:
                shutil.rmtree(self.final, ignore_errors=True)
                self.final = root
            return wall, {"reports": reports, "points": self.raw_points}
        read = read or self.reads.next()
        pdf, wall = self.checked(
            lambda: self.read(read),
            lambda got: self.reads.oracle.problems(got, read["urls"], read["t0"], read["t1"]),
        )
        return wall, {"read": read, "points": 0 if pdf is None else len(pdf)}

    def read(self, read: dict):
        from spartan2_spark.operators import gorilla

        return gorilla.read_points(
            self.blocks, read["t0"], read["t1"], urls=read["urls"]
        ).toPandas()

    def refresh_cycle(self, ref: dict) -> tuple[float, dict]:
        """On a copy of the current (base) store: resume onto base +
        late, compact t1m, apply retention. Checked against ``ref``, the
        content hashes of a cold build over base + late."""
        from spartan2_spark.operators import compaction, retention

        root = self.store("cycle")
        shutil.copytree(self.final, root)
        info: dict = {}

        def cycle():
            info["reports"] = self.build(self.late_pages, root)
            info["compaction"] = compaction.compact_tier(self.spark, root, "t1m", 2_000)
            info["retention"] = retention.apply_retention(root, RETAIN, NOW_DATE)
            return info

        def check(_):
            if ref is None:
                return ["no verified base + late build to compare against"]
            expired = {a["dt"] for a in info["retention"] if a["action"] == "expire"}
            cutoff = str(NOW_DATE - dt.timedelta(days=RETAIN["t1m"]))
            want = {k: dict(v) for k, v in ref.items()}
            want["t1m"] = {d: v for d, v in want["t1m"].items() if d >= cutoff}
            problems = oracle.hash_problems(oracle.content_hashes(self.con, root), want, "refresh")
            if not info["compaction"]["verified"]:
                problems.append("compact_tier did not verify")
            if expired != {d for d in ref["t1m"] if d < cutoff}:
                problems.append(f"retention expired {sorted(expired)}")
            return problems

        _, wall = self.checked(cycle, check)
        return wall, info

    def loop(self, min_ops: int) -> list[tuple[float, dict]]:
        ops = []
        t_end = time.perf_counter() + self.seconds
        step = len(ROUND) if self.workload == "range_reads" else 1
        while len(ops) < min_ops or time.perf_counter() < t_end:
            ops += [self.op() for _ in range(step)]
        print(f"perfbench: op seconds {[round(w, 3) for w, _ in ops]}", file=sys.stderr)
        return ops

    # -- metrics ------------------------------------------------------
    def end_to_end(self, setup: dict, ops) -> dict:
        walls = [w for w, _ in ops if w == w]
        wall = _median(walls)
        if self.workload == "range_reads":
            pps = sum(i["points"] for _, i in ops) / max(sum(walls), 1e-9)
        else:
            pps = self.raw_points / wall if wall else 0.0
        stored = sum(PG.dir_bytes(os.path.join(self.final, s)) for s in oracle.STAGES)
        return {
            "setup_s": setup["setup_s"],
            "wall_s": wall,
            "points_per_sec": pps,
            "bytes_per_point": stored / self.raw_points,
        }


class ReadPlan:
    """Seeded read mix over a store: point reads (one url, one day, urls
    drawn head-skewed by point count so popular urls recur) and scan
    reads (``SCAN_URLS`` uniform urls over ``SCAN_DAYS`` days)."""

    def __init__(self, seed: int, con, root: str):
        self.rng = np.random.default_rng([seed, 3])
        self.oracle = oracle.ReadOracle(con, root)
        rows = con.execute(
            "SELECT url, min(ts), max(ts) FROM gap GROUP BY url "
            "ORDER BY count(*) DESC, url"
        ).fetchall()
        self.urls = [r[0] for r in rows]
        self.span = {r[0]: (r[1], r[2]) for r in rows}
        self.pending: list[str] = []

    def next(self, kind: str | None = None) -> dict:
        """The next read, or one of ``kind``; reads come in shuffled
        rounds of ``ROUND`` so every run holds the same mix."""
        if kind is None:
            if not self.pending:
                self.pending = list(self.rng.permutation(ROUND))
            kind = self.pending.pop()
        if kind == "point":
            url = self.urls[int(len(self.urls) * self.rng.random() ** 2.2)]
            lo, hi = ((t - PG.START_S) // 86400 for t in self.span[url])
            t0 = PG.START_S + int(self.rng.integers(lo, hi + 1)) * 86400
            return {"kind": kind, "urls": [url], "t0": t0, "t1": t0 + 86399}
        k = min(SCAN_URLS, len(self.urls))
        urls = sorted(self.rng.choice(self.urls, k, replace=False).tolist())
        t0 = PG.START_S + int(self.rng.integers(0, DAYS - SCAN_DAYS + 1)) * 86400
        return {"kind": kind, "urls": urls, "t0": t0, "t1": t0 + SCAN_DAYS * 86400 - 1}


def store_probe(con, root: str) -> dict:
    """Codec and store numbers on a built store: Gorilla bits/value per
    track, encode/decode ns/value of the ``*_multi`` kernels (median of
    three), points per block, dense rows per tier row, bytes per stage."""
    from spartan2_spark.functions import gorilla_codec as C

    pts, raw = oracle.decode_store_blocks(root)
    ns = raw["ns"]
    n = int(ns.sum())
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    ts = pts["ts"].to_numpy(np.int64)
    vals = pts["value"].to_numpy(np.float64)
    dec, enc = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        C.decode_ts_multi(raw["ts_block"], ns)
        C.decode_vals_multi(raw["val_block"], ns)
        t1 = time.perf_counter()
        C.encode_ts_multi(ts, starts)
        C.encode_vals_multi(vals, starts)
        enc.append(time.perf_counter() - t1)
        dec.append(t1 - t0)
    dense, real = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE NOT is_gap) "
        f"FROM {oracle.stage_scan(root, 'gapfill_1h')}"
    ).fetchone()
    out = {
        "gapfill.dense_rows_per_tier_row": dense / real,
        "gorilla.points_per_block": n / len(ns),
        "gorilla_codec.ts_bits_per_value": 8 * sum(map(len, raw["ts_block"])) / n,
        "gorilla_codec.val_bits_per_value": 8 * sum(map(len, raw["val_block"])) / n,
        "gorilla_codec.encode_ns_per_value": _median(enc) * 1e9 / n,
        "gorilla_codec.decode_ns_per_value": _median(dec) * 1e9 / n,
    }
    out.update({f"store.{s}.bytes": PG.dir_bytes(os.path.join(root, s)) for s in oracle.STAGES})
    return out


def traced(run: Run, untraced_wall: float) -> dict:
    """Restart the session with the event log on and the wrappers
    installed, repeat a few operations, and derive per-layer metrics.
    ``cold_build`` then runs one refresh cycle, checked against a cold
    build over base + late made (untraced) beforehand."""
    log_dir = os.path.join(run.work, "eventlog")
    os.makedirs(log_dir)
    t_session = time.perf_counter()
    run.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.compress": "false",
    })
    run.load_pages()
    if run.workload == "cold_build":
        ref = run.build_checked(
            run.late_pages, run.store("ref"), oracle.connect(run.page_dirs)
        )
    else:
        run.blocks = run.spark.read.parquet(os.path.join(run.final, "blocks_1h"))
    tracer = tracing.Tracer(run.spark, f"{run.workload}-{run.seed}")
    tracer.install()
    ops, refresh = [], None
    try:
        for _ in range(TRACED_OPS[run.workload]):
            if run.workload == "range_reads":
                read = run.reads.next()
                with tracer.span("read", f"read_{read['kind']}"):
                    ops.append(run.op(read))
            else:
                with tracer.span("pipeline", "pipeline_other"):
                    ops.append(run.op())
        n_spans = len(tracer.spans)
        if run.workload == "cold_build":
            tracer.stage_prefix = "refresh."
            with tracer.span("refresh", "refresh_other"):
                refresh = run.refresh_cycle(ref)
    finally:
        tracer.uninstall()
    run.stop_session()  # flushes the event log
    session_wall = time.perf_counter() - t_session
    windows = tracing.event_log_windows(log_dir)
    os.makedirs(run.out, exist_ok=True)
    tracer.dump(os.path.join(run.out, f"spans-{run.workload}-{run.seed}.json"))

    m = {}
    walls = [w for w, _ in ops if w == w]
    m["trace.overhead_s"] = _median(walls) - untraced_wall
    busy = sum(w["executor_run_ms"] for w in windows.values()) / 1000
    m["trace.executor_busy_share"] = busy / (session_wall * run.env["nproc"])
    if m["trace.executor_busy_share"] > 1.0:
        run.failed += 1
        print("perfbench: summed executor time exceeds wall x cores", file=sys.stderr)

    reports = [r for _, i in ops for r in (i.get("reports") or [])]
    for s in oracle.STAGES:
        rs = [r for r in reports if r["stage"] == s]
        m[f"pipeline.{s}.wall_s"] = _median([r["wall_sec"] for r in rs])
        m[f"pipeline.{s}.rows_written"] = _median([r["rows_written"] for r in rs])
        m[f"pipeline.{s}.bytes_written"] = _median([r["bytes_written"] for r in rs])
        m[f"pipeline.{s}.rewritten_partitions"] = _median([r["new_partitions"] for r in rs])

    reads = [i["read"] for _, i in ops if "read" in i]
    per_window_ops = {w: len(ops) for w in oracle.STAGES}
    per_window_ops["compaction"] = 1
    per_window_ops.update({f"read_{k}": sum(r["kind"] == k for r in reads) for k in ("point", "scan")})
    for w in WINDOWS:
        got = windows.get(w)
        if got and per_window_ops[w]:
            for q in SPARK_FIELDS:
                m[f"spark.{w}.{q}"] = got[q] if q == "task_skew" else got[q] / per_window_ops[w]

    n_ops = max(len(ops), 1)
    selfs = tracer.self_times(0, n_spans)
    for name in SELF_SPANS:
        m[f"self_s.{name}"] = selfs.get(name, 0.0) / n_ops
    m["manifest.partition_lineage.calls"] = tracer.count("manifest.partition_lineage", 0, n_spans) / n_ops
    m["manifest.partition_lineage_s"] = tracer.total("manifest.partition_lineage", 0, n_spans) / n_ops
    if refresh is not None and refresh[0] == refresh[0]:
        wall, info = refresh
        by_stage = {r["stage"]: r for r in info["reports"]}
        m["refresh.wall_s"] = wall
        m["refresh.gapfill_1h.wall_s"] = by_stage["gapfill_1h"]["wall_sec"]
        m["refresh.blocks_1h.wall_s"] = by_stage["blocks_1h"]["wall_sec"]
        m["refresh.partition_lineage_s"] = tracer.total("manifest.partition_lineage", n_spans)
        for s in oracle.STAGES:
            m[f"refresh.{s}.rewritten_partitions"] = by_stage[s]["new_partitions"]
        m["compaction.compact_tier_s"] = tracer.total("compaction.compact_tier", n_spans)
        m["compaction.files_before"] = info["compaction"]["files_before"]
        m["compaction.files_after"] = info["compaction"]["files_after"]
        m["retention.apply_retention_s"] = tracer.total("retention.apply_retention", n_spans)
        m["retention.expired_partitions"] = sum(a["action"] == "expire" for a in info["retention"])
    if reads:
        m.update(read_layer(run, reads, windows))
    return m


def read_layer(run: Run, reads: list[dict], windows: dict) -> dict:
    """Wasted scan work (blocks the scans read per block the read needs,
    from the event log's input records) and the decode kernels' time on
    each read's needed blocks."""
    import pyarrow.parquet as pq

    from spartan2_spark.functions import gorilla_codec as C

    t = pq.read_table(
        os.path.join(run.final, "blocks_1h"),
        columns=["url", "start_ts", "end_ts", "n_points", "ts_block", "val_block"],
    )
    url = np.array(t.column("url").to_pylist(), dtype=object)
    start = t.column("start_ts").to_numpy()
    end = t.column("end_ts").to_numpy()
    needed, decode = 0, []
    for r in reads:
        idx = np.flatnonzero(np.isin(url, r["urls"]) & (end >= r["t0"]) & (start <= r["t1"]))
        needed += len(idx)
        sub = t.take(idx)
        ns = sub.column("n_points").to_numpy().astype(np.int64)
        t0 = time.perf_counter()
        C.decode_ts_multi(sub.column("ts_block").to_pylist(), ns)
        C.decode_vals_multi(sub.column("val_block").to_pylist(), ns)
        decode.append(time.perf_counter() - t0)
    scanned = sum(windows.get(f"read_{k}", {}).get("input_records", 0) for k in ("point", "scan"))
    return {
        "read.blocks_scanned_per_block_needed": scanned / max(needed, 1),
        "read.decode_s": _median(decode),
    }


def read_percentiles(ops) -> dict:
    point = [w * 1e3 for w, i in ops if w == w and i["read"]["kind"] == "point"]
    scan = [w * 1e3 for w, i in ops if w == w and i["read"]["kind"] == "scan"]
    both = point + scan
    return {
        "reads.point_p50_ms": _median(point),
        "reads.scan_p50_ms": _median(scan),
        "reads.p90_ms": float(np.percentile(both, 90)) if both else 0.0,
        "reads.per_sec": len(both) / max(sum(both) / 1e3, 1e-9),
    }


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, out: str,
        env: dict, units: dict) -> dict:
    """One run; ``units`` maps the metrics to report to their units. A
    per-layer metric of a layer the workload does not run reports 0."""
    ticks = _cpu_ticks()
    with tracing.RssSampler() if trace else contextlib.nullcontext() as rss:
        r = Run(workload, seed, seconds, work, out, env, rss)
        try:
            setup = r.setup()
            print(json.dumps({"environment": environment(r.spark, env)}))
            t0 = time.perf_counter()
            r.prepare()
            warmup = time.perf_counter() - t0
            ops = r.loop(MIN_OPS[workload])
            values = r.end_to_end(setup, ops)
            if trace:
                layer = traced(r, values["wall_s"])
                layer.update(store_probe(r.con, r.final))
                if workload == "range_reads":
                    layer.update(read_percentiles(ops))
                layer.update({k: setup[k] for k in ("session.start_s", "datagen.pages_s")})
                layer["warmup_s"] = warmup
                layer["peak_rss_mb"] = r.rss.peak_mb
                layer["ops.failed_op_share"] = r.failed / r.attempted
                values = {n: layer.get(n, 0.0) for n in units}
            else:
                layer = values
                values = {n: layer[n] for n in units}
            if set(layer) - set(units):
                raise RuntimeError(f"not in BENCHMARK.json: {sorted(set(layer) - set(units))}")
        finally:
            r.stop_session()
            r.stop_jvm()
    used = [b - a for a, b in zip(ticks, _cpu_ticks())]
    print(f"perfbench: cpu share over the run: busy {1 - (used[3] + used[4]) / sum(used):.3f}, "
          f"steal {used[7] / sum(used):.3f}", file=sys.stderr)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    }

