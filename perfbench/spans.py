"""Spans, a timing store wrapper and Spark event-log attribution.

Everything here is recorded from the benchmark's side of the calls into
the program: the engine is driven through its public constructor (a
store object is accepted via ``CrawlEngine(store=...)``) and the bloom
module's public functions are wrapped for the traced pass only.

Spans are kept in memory and written out once, at the end of a run.
Each span has a name, start and end (``time.time()`` seconds, the same
clock the Spark event log uses), a parent span id and the run's trace
id. Spark jobs and tasks are attributed to the innermost span that
contains their submission (job) or launch (task) time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
import uuid
from typing import Dict, Iterable, List, Optional, Tuple

from krawler_spark.plans.store import SnapshotStore


class Tracer:
    def __init__(self, workload: str, seed: int):
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: List[dict] = []
        self._lock = threading.Lock()
        self.root = self.add(f"workload.{workload}", time.time(), 0.0, seed=seed)

    def finish(self) -> None:
        self.spans[self.root]["end"] = time.time()

    def add(self, name: str, start: float, end: float,
            parent: Optional[int] = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end,
                               "trace_id": self.trace_id, **attrs})
        return sid

    def children(self, sid: int) -> List[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
                for c in self.children(span["id"])]
        return (span["end"] - span["start"]) - union_length(kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -------------------------------------------------------------- store wrapper
class ClockStore(SnapshotStore):
    """Records when each ``commit_round`` returns: the round clock that
    the end-to-end ``step_gmean_s`` reads, at negligible cost."""

    def __init__(self, spark, path: str):
        super().__init__(spark, path)
        self.commit_times: List[float] = []

    def commit_round(self, round_no, state=None):
        super().commit_round(round_no, state)
        self.commit_times.append(time.time())


_TIMED = ("read_frontier", "read_history", "read_snapshot", "read_delta_round",
          "read_delta_all", "read_metrics", "drain_submissions", "write_delta",
          "write_table", "write_table_swap", "write_rows_local", "commit_round",
          "last_committed", "committed_state")


class TracedStore(ClockStore):
    """Times every public store call. ``calls`` holds
    (method, first-arg label, start, end, thread name) tuples; the round
    and phase spans are rebuilt from them after the crawl."""

    def __init__(self, spark, path: str):
        super().__init__(spark, path)
        self.calls: List[tuple] = []
        self._lock = threading.Lock()

    def __getattribute__(self, name):
        attr = super().__getattribute__(name)
        if name not in _TIMED:
            return attr
        calls, lock = super().__getattribute__("calls"), super().__getattribute__("_lock")

        def timed(*args, **kwargs):
            label = str(args[0]) if args else ""
            t0 = time.time()
            try:
                return attr(*args, **kwargs)
            finally:
                with lock:
                    calls.append((name, label, t0, time.time(),
                                  threading.current_thread().name))
        return timed


@contextlib.contextmanager
def traced_bloom(calls: list):
    """Wrap the bloom module's public functions for the duration of one
    traced crawl. The engine looks them up on the module at call time,
    so the wrapper sees every call; the originals are restored after."""
    from krawler_spark.operators import bloom

    originals = {n: getattr(bloom, n) for n in ("probe", "build_delta", "merge_shards")}

    def wrap(name, fn):
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                calls.append((f"bloom.{name}", t0, time.time()))
        return timed

    for n, fn in originals.items():
        setattr(bloom, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(bloom, n, fn)


PHASES = ("frontier", "chain", "write_delta", "followup", "commit")


def round_phases(calls: List[tuple], run_start: float) -> List[dict]:
    """Cut a crawl into rounds and phases from the timed store calls.

    round r spans from the previous round boundary (the seed write's
    return for round 0, the previous ``commit_round`` return after) to
    round r's ``commit_round`` return. Its phases tile it:
      frontier    read_frontier call  -> read_history call
      chain       read_history call   -> write_delta call
      write_delta the write_delta call
      followup    write_delta return  -> write_rows_local call
      commit      write_rows_local call -> commit_round return
    and ``other`` is what precedes read_frontier (driver loop gap)."""
    main = sorted((c for c in calls if c[4] == "MainThread"), key=lambda c: c[2])
    seed_end = next((c[3] for c in main if c[0] == "write_table"
                     and c[1] == "frontier"), run_start)
    rounds = []
    prev = seed_end
    cur: Dict[str, float] = {}
    for name, label, t0, t1, _ in main:
        if t0 < seed_end:
            continue
        if name == "read_frontier" and "frontier" not in cur:
            cur["frontier"] = t0
        elif name == "read_history" and "chain" not in cur:
            cur["chain"] = t0
        elif name == "write_delta":
            cur["write_delta"], cur["write_delta_end"] = t0, t1
        elif name == "write_rows_local":
            cur["commit"] = t0
        elif name == "commit_round":
            bounds = [cur["frontier"], cur["chain"], cur["write_delta"],
                      cur["write_delta_end"], cur["commit"], t1]
            rounds.append({
                "round": int(label), "start": prev, "end": t1,
                "phases": dict(zip(PHASES, zip(bounds[:-1], bounds[1:]))),
                "other": (prev, cur["frontier"]),
            })
            prev, cur = t1, {}
    return rounds


# ------------------------------------------------------------- Spark event log
def read_event_log(log_dir: str) -> Tuple[List[dict], List[dict]]:
    """(jobs, tasks) from the newest application log in ``log_dir``.
    jobs: {id, submit, end}; tasks: {launch, finish, run_s, cpu_s, gc_s,
    shuffle_write, shuffle_read, spill}."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not paths:
        return [], []
    jobs: Dict[int, dict] = {}
    tasks: List[dict] = []
    with open(paths[-1]) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"id": ev["Job ID"],
                                      "submit": ev["Submission Time"] / 1e3,
                                      "end": None}
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                if info.get("Launch Time") is None:
                    continue
                tasks.append({
                    "launch": info["Launch Time"] / 1e3,
                    "finish": info["Finish Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return [j for j in jobs.values() if j["end"] is not None], tasks


def attribute(tracer: Tracer, jobs: List[dict], tasks: List[dict]) -> None:
    """Attach job and task counts and shuffle bytes to the
    innermost span containing each job's submission / task's launch."""
    # shortest first; on a tie the later (child) span wins
    spans = sorted(tracer.spans, key=lambda s: (s["end"] - s["start"], -s["id"]))

    def innermost(t: float) -> Optional[dict]:
        return next((s for s in spans if s["start"] <= t <= s["end"]), None)

    for s in tracer.spans:
        s.update(jobs=0, tasks=0, shuffle_write=0, shuffle_read=0)
    for j in jobs:
        s = innermost(j["submit"])
        if s is not None:
            s["jobs"] += 1
    for t in tasks:
        s = innermost(t["launch"])
        if s is not None:
            s["tasks"] += 1
            s["shuffle_write"] += t["shuffle_write"]
            s["shuffle_read"] += t["shuffle_read"]


def spark_totals(jobs: List[dict], tasks: List[dict], start: float, end: float,
                 cores: int) -> Dict[str, float]:
    """Event-log totals over one wall interval (a timed pass)."""
    js = [j for j in jobs if start <= j["submit"] <= end]
    ts = [t for t in tasks if start <= t["launch"] <= end]
    span = max(end - start, 1e-9)
    busy = union_length((max(j["submit"], start), min(j["end"], end)) for j in js)
    return {
        "spark.jobs": len(js),
        "spark.tasks": len(ts),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
        "spark.spill_bytes": sum(t["spill"] for t in ts),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.gc_s": sum(t["gc_s"] for t in ts),
        "spark.busy_frac": sum(t["run_s"] for t in ts) / (cores * span),
        "spark.idle_s": span - busy,
    }
