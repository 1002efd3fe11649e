"""Benchmark-side instrumentation: spans around layer calls, Spark phase
counters from the event log, and PSS sampling of a process tree.

Nothing here reaches into the program: spans wrap the benchmark's own calls
into public functions, phases are Spark job groups the benchmark sets on its
own thread, and counters come from the event log Spark writes when the
session is configured with ``spark.eventLog.dir``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (id, name, start, end, parent, run); written as JSON
    by the caller when the run ends.  ``phase`` additionally labels the
    Spark jobs started inside it with a job group of the same name."""

    on = True

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = None
        if group and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def phase(self, name: str):
        return self.span(name, group=True)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0,
                     self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


_PHASE_KEYS = ("jobs", "tasks", "run_ms", "gc_ms", "shuffle_write_bytes",
               "shuffle_read_bytes", "spill_bytes")


def phase_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Job group → summed task counters, read from the one event log in
    ``event_dir`` (the session must have been stopped so the log is
    complete)."""
    logs = [p for p in glob.glob(os.path.join(event_dir, "*"))
            if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, got {logs}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(logs[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    out.setdefault(grp, dict.fromkeys(_PHASE_KEYS, 0))["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if grp is None or not m:
                    continue
                c = out[grp]
                c["tasks"] += 1
                c["run_ms"] += m.get("Executor Run Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) \
                    + rd.get("Local Bytes Read", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) \
                    + m.get("Disk Bytes Spilled", 0)
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Background thread: peak of the summed PSS over ``root``'s process
    tree, sampled every ``interval`` seconds.  Also remembers every pid it
    has seen, so the caller can make sure none outlives the run.  Sampling
    a GB-sized JVM's ``smaps_rollup`` costs CPU the job would otherwise
    use: at 4 samples a second the sampler took about a tenth of a core."""

    def __init__(self, root: int, interval: float = 1.0):
        self.root = root
        self.interval = interval
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            pids = process_tree(self.root)
            self.seen.update(pids)
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
