"""Spans, Spark event-log counters and process-tree RSS for the benchmark.

Spans are recorded by the benchmark around each call into a layer's
public function; nothing inside ``jsonld_spark`` is instrumented. Each
span sets its own Spark job group, so the jobs, tasks and SQL metrics
that Spark writes to its event log can be attributed back to the span
that caused them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and set
    no job groups, so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Set job groups on ``spark``'s context (None: on no context)."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None or not self.enabled:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children of one parent never overlap: spans nest on one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}

    def dump(self, path: str, counters: dict[int, dict]) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "dur_s": s["end"] - s["start"],
                                    "self_s": selfs[s["id"]],
                                    "spark": counters.get(s["id"], {})})
                        + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL-metric names Spark attaches to its Python (mapInArrow) nodes.
PY_TIME_METRICS = ("time to start Python workers",
                   "time to initialize Python workers",
                   "time to run Python workers")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def event_log_counters(log_dir: str) -> dict[int, dict]:
    """Per-span Spark counters from the newest event log in ``log_dir``:
    jobs, input bytes, shuffle bytes written, spill bytes, Python worker
    time and Arrow bytes in and out of Python."""
    logs = sorted(glob.glob(os.path.join(log_dir, "*")),
                  key=os.path.getmtime)
    if not logs:
        return {}
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(logs[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group or not group.startswith("span-"):
                    continue
                sid = int(group[5:])
                out[sid]["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                c = out[sid]
                m = ev.get("Task Metrics") or {}
                c["input_bytes"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name in PY_TIME_METRICS:
                        c["python_ms"] += float(upd)
                    elif name == PY_SENT:
                        c["arrow_bytes_in"] += float(upd)
                    elif name == PY_RETURNED:
                        c["arrow_bytes_out"] += float(upd)
    return {sid: dict(c) for sid, c in out.items()}


# ---------------------------------------------------------------------------
# resident memory of this process and everything it started
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> tuple[int, dict]:
    """Summed RSS of ``root`` and its descendants, and its split into this
    process, JVMs and other processes (the Python workers)."""
    children = defaultdict(list)
    rss = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(d))
        rss[int(d)] = resident * _PAGE
    split = {"driver_mb": 0.0, "jvm_mb": 0.0, "other_mb": 0.0, "other_n": 0}
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        r = rss.get(pid, 0)
        total += r
        if pid == root:
            split["driver_mb"] += r / 2**20
        elif _is_jvm(pid):
            split["jvm_mb"] += r / 2**20
        else:
            split["other_mb"] += r / 2**20
            split["other_n"] += 1
        todo.extend(children.get(pid, ()))
    return total, split


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0", 1)[0].endswith(b"java")
    except OSError:
        return False


class RssSampler:
    """Polls the summed RSS of this process tree (this process, the JVM,
    the Python workers) from ``/proc`` on a background thread and keeps
    the peak and how it splits between the processes."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total, split = _tree_rss_bytes(os.getpid())
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
