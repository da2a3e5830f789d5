"""Tracing for the per-layer run: span recorders around the program's
public calls, Spark's event log grouped by job group, and Catalyst's
phase tracker. None of this is loaded into an untraced run."""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

from stats import median


class Tracer:
    """Records spans (name, start, end, parent, op) in memory.

    Wrappers are installed once with `wrap` and record only while
    `active` is set, so traced and untraced rounds can alternate in one
    session; `close` puts every original attribute back."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self.active = False
        self.op: str | None = None  # label of the op being timed
        self.captured: dict[str, list] = {}

    def wrap(self, owner, attr: str, name: str, capture: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if capture:
                tracer.captured.setdefault(name, []).append((args, kwargs, out))
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "t0": time.perf_counter(), "t1": None,
             "parent": parent, "op": self.op}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["t1"] = time.perf_counter()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children
        cover (spans nest, so direct children never overlap), in ms,
        aligned with `spans`."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["t1"] - s["t0"])
        return [((s["t1"] - s["t0"]) - child.get(i, 0.0)) * 1e3
                for i, s in enumerate(self.spans)]


def catalyst_ms(df) -> float | None:
    """Analysis + optimization + planning time of a DataFrame that has
    executed, from Spark's QueryPlanningTracker."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 — a plan without a tracker
        return None
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application logged under `log_dir` (plain JSON
    lines; the traced run turns event-log compression off)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith("appstatus"):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_by_group(events: list[dict]) -> dict[str, dict]:
    """Roll the event log up per job group: jobs, tasks, executor CPU,
    GC, task wait (launch minus stage submit), shuffle bytes written,
    bytes spilled and each job's [submit, complete] interval in epoch
    ms. Jobs outside any group are left out."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}

    def g(name):
        return groups.setdefault(
            name,
            {"jobs": 0, "tasks": 0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
             "task_wait_ms": [], "shuffle_bytes": 0, "spill_bytes": 0,
             "intervals": {}},
        )

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if grp is None:
                continue
            job_group[e["Job ID"]] = grp
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = grp
            rec = g(grp)
            rec["jobs"] += 1
            rec["intervals"][e["Job ID"]] = [e["Submission Time"], None]
        elif kind == "SparkListenerJobEnd":
            grp = job_group.get(e["Job ID"])
            if grp is not None:
                g(grp)["intervals"][e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if info.get("Submission Time") is not None:
                stage_submit[info["Stage ID"]] = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            grp = stage_group.get(e["Stage ID"])
            if grp is None:
                continue
            rec = g(grp)
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            rec["gc_ms"] += m.get("JVM GC Time", 0)
            rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            submit = stage_submit.get(e["Stage ID"])
            if submit is not None and info.get("Launch Time") is not None:
                rec["task_wait_ms"].append(info["Launch Time"] - submit)
    for rec in groups.values():
        rec["intervals"] = [
            (a, b) for a, b in rec["intervals"].values() if b is not None
        ]
    return groups


def union_ms(intervals) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


SPARK_STATS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_ms", "ms"),
    ("gc_ms", "ms"),
    ("task_wait_ms", "ms"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)


def _op_type(group: str) -> str:
    """Op type of a job group `<op_type>#<n>`. Exact searches of either
    metric or store count as one op type, as do gets of either store."""
    base = group.split("#")[0]
    if base.startswith("search_exact_"):
        return "search_exact"
    return base.removesuffix("_int8")


def spark_op_metrics(groups: dict[str, dict], op_type: str) -> dict[str, float]:
    """Median per op of each Spark stat, over the job groups
    `<op_type>#<n>` (task wait: median over the op type's tasks)."""
    recs = [r for name, r in groups.items() if _op_type(name) == op_type]
    out = {}
    for stat, _unit in SPARK_STATS:
        if not recs:
            out[stat] = 0.0
        elif stat == "task_wait_ms":
            waits = [w for r in recs for w in r["task_wait_ms"]]
            out[stat] = float(median(waits)) if waits else 0.0
        else:
            out[stat] = float(median([r[stat] for r in recs]))
    return out
