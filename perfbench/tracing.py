"""Measurement plumbing that needs no engine change.

* ``Tracer``: in-memory spans (name, start, end, parent, trace id, counts)
  recorded around calls into the engine's public functions; each span also
  names the Spark job group its jobs run under.
* ``spark_counters``: per-job-group stage and task metrics parsed from a
  Spark event log after the session stopped.
* ``RssSampler``: peak resident memory of this process and every process
  it spawned (the driver JVM and the Python workers the JVM forks), read
  from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory; ``dump`` writes them when the run ends."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self._sc = None
        self._next_trace = 0

    def attach(self, spark_context) -> None:
        """Run the Spark jobs of later spans under per-span job groups."""
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, new_trace: bool = False):
        parent = self._stack[-1] if self._stack else None
        if new_trace or parent is None:
            self._next_trace += 1
            trace_id = f"t{self._next_trace}"
        else:
            trace_id = parent["trace_id"]
        rec = {"id": len(self.spans), "name": name, "trace_id": trace_id,
               "parent": parent["id"] if parent else None,
               "group": f"{trace_id}:{len(self.spans)}:{name}",
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(rec["group"], rec["name"])

    def self_seconds(self, rec) -> float:
        """Span duration minus the part of it its child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.spans
                     if c["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, rec["start"]), min(e, rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def dump(self, path: str, extra: dict | None = None) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [{**{k: v for k, v in s.items() if k not in ("start", "end")},
                "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                "self_s": self.self_seconds(s)} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": out, **(extra or {})}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

COUNTERS = ("tasks", "executor_run_s", "executor_cpu_s", "jvm_wait_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "gc_share", "task_skew")


def spark_counters(event_log: str) -> dict:
    """Per job group: the Spark counters of every task its jobs ran.

    ``jvm_wait_s`` is task run time minus task CPU time (time the task
    thread waited, e.g. on a Python worker); ``gc_share`` is JVM GC time /
    task run time; ``task_skew`` is max / median task run time in the
    group's widest stage."""
    stage_group: dict = {}
    tasks: dict = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    per_group: dict = {}
    for sid, evs in tasks.items():
        group = stage_group.get(sid)
        if group is not None:
            per_group.setdefault(group, []).append(evs)
    return {g: _summarize(stages) for g, stages in per_group.items()}


def _summarize(stages: list) -> dict:
    out = dict.fromkeys(COUNTERS, 0.0)
    gc_s = 0.0
    for evs in stages:
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            cpu_s = m.get("Executor CPU Time", 0) / 1e9
            out["tasks"] += 1
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += cpu_s
            out["jvm_wait_s"] += max(0.0, run_s - cpu_s)
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            gc_s += m.get("JVM GC Time", 0) / 1e3
    out["gc_share"] = gc_s / out["executor_run_s"] if out["executor_run_s"] else 0.0
    widest = max(stages, key=len)
    times = [(ev.get("Task Info") or {}).get("Finish Time", 0)
             - (ev.get("Task Info") or {}).get("Launch Time", 0) for ev in widest]
    med = statistics.median(times)
    out["task_skew"] = max(times) / med if med > 0 else 1.0
    return out


# ---------------------------------------------------------------------------
# resident memory of the process tree
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds
    from ``start()`` to ``stop()``; ``take()`` returns the peak since the
    previous ``take()`` (or the start)."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def take(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
