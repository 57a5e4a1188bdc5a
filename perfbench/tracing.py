"""Tracing from outside the program: spans around public calls, Spark
job descriptions, an event-log parser and a process-tree RSS sampler.

Spans live in memory (name, start, end, parent, run id) and are written
out once, when the run ends. Wrappers replace module attributes of the
imported package for the life of a ``Tracer``; no source file changes.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

# (module, attribute, span name, job window) of the eager public calls
# timed by wrappers; a None window inherits the caller's
WRAPPED = (
    ("spartan2_spark.operators.manifest", "partition_lineage", "manifest.partition_lineage", None),
    ("spartan2_spark.operators.compaction", "compact_tier", "compaction.compact_tier", "compaction"),
    ("spartan2_spark.operators.retention", "apply_retention", "retention.apply_retention", None),
)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.stage_prefix = ""  # window prefix for run_pipeline's stages
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, window: str | None = None):
        """Time ``name``; Spark jobs started inside are tagged with
        ``window`` (or the enclosing span's window)."""
        parent = self.stack[-1] if self.stack else None
        window = window or (self.spans[parent]["window"] if parent is not None else name)
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "window": window, "start": time.time(), "end": None,
             "parent": parent, "run": self.run_id}
        )
        self.stack.append(idx)
        self.sc.setJobDescription(f"perfbench:{window}")
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self.stack.pop()
            outer = self.spans[self.stack[-1]]["window"] if self.stack else None
            self.sc.setJobDescription(f"perfbench:{outer}" if outer else None)

    def _wrap(self, fn, name: str, window_of=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, window_of(args, kwargs) if window_of else None):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the eager public calls, and ``run_pipeline``'s per-stage
        protocol so jobs carry the stage that ran them."""
        import importlib

        targets = [
            (importlib.import_module(m), a, n, (lambda a, k, w=w: w) if w else None)
            for m, a, n, w in WRAPPED
        ]
        pipe = importlib.import_module("spartan2_spark.plans.pipeline")
        # the stage name is _run_stage's 3rd positional argument; the
        # stage report is built from exactly this call's boundaries
        targets.append(
            (pipe, "_run_stage", "pipeline.stage", lambda a, k: self.stage_prefix + a[2])
        )
        for mod, attr, name, window_of in targets:
            fn = getattr(mod, attr)
            self._undo.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name, window_of))
        # pipeline.py calls M.partition_lineage through its module alias,
        # so the wrapper on the module object is what run_pipeline runs

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    def self_times(self, lo: int = 0, hi: int | None = None) -> dict[str, float]:
        """name -> summed self time (duration minus child-covered time)
        of spans ``lo:hi``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in list(zip(self.spans, child))[lo:hi]:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def total(self, name: str, lo: int = 0, hi: int | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[lo:hi] if s["name"] == name)

    def count(self, name: str, lo: int = 0, hi: int | None = None) -> int:
        return sum(s["name"] == name for s in self.spans[lo:hi])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_windows(log_dir: str) -> dict[str, dict]:
    """Parse Spark's event log into per-window task metrics.

    Window = the ``perfbench:<window>`` job description of the job that
    ran the stage. Returns window -> {executor_cpu_ms, executor_run_ms,
    jvm_gc_ms, shuffle_write_bytes, spill_bytes, input_records,
    task_skew}; ``task_skew`` is max / median task run time of the
    window's busiest stage with at least four tasks (1.0 if none)."""
    stage_window: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    window = desc[len("perfbench:"):] if desc.startswith("perfbench:") else "untagged"
                    for sid in ev.get("Stage IDs", []):
                        stage_window.setdefault(sid, window)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )
    out: dict[str, dict] = {}
    busiest: dict[str, tuple[float, float]] = {}
    for sid, ts in tasks.items():
        w = stage_window.get(sid, "untagged")
        acc = out.setdefault(
            w,
            {"executor_cpu_ms": 0.0, "executor_run_ms": 0.0, "jvm_gc_ms": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "input_records": 0,
             "task_skew": 1.0},
        )
        for t in ts:
            acc["executor_cpu_ms"] += t["cpu_ms"]
            acc["executor_run_ms"] += t["run_ms"]
            acc["jvm_gc_ms"] += t["gc_ms"]
            acc["shuffle_write_bytes"] += t["shuffle_write_bytes"]
            acc["spill_bytes"] += t["spill_bytes"]
            acc["input_records"] += t["input_records"]
        run = [t["run_ms"] for t in ts]
        if len(run) >= 4 and sum(run) > busiest.get(w, (-1.0, 0.0))[0]:
            skew = max(run) / max(statistics.median(run), 1.0)
            busiest[w] = (sum(run), skew)
            acc["task_skew"] = skew
    return out


def descendants(root_pid: int) -> list[int]:
    """Pids of all live descendants of ``root_pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":  # a zombie has ended already
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``interval`` s
    while inside ``measuring()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        rss_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        total = 0
        for pid in [root_pid, *descendants(root_pid)]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * rss_kb
            except (OSError, ValueError, IndexError):
                continue  # the process exited between listing and reading
        return total

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak_kb = max(self.peak_kb, self._tree_rss_kb(pid))
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def measuring(self):
        self._on.set()
        try:
            yield
        finally:
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))
            self._on.clear()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
