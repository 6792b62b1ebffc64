"""Tracing for the benchmark: the benchmark's own spans around each call
into the engine, and attribution of Spark's event log to the engine's
layers.

Spans live in memory and are written out when the run ends.  Spark
work is read back from the uncompressed event log
(``spark.eventLog.enabled``); each SQL execution that starts inside a
timed op is attributed to a layer:

- inside a ``frontier`` span (``CrawlEngine.run``):
  - ``collect at .../plans/frontier.py`` whose plan runs the fetch UDF
    (``FlatMapGroupsInPandas``) is the wave summary, which schedules,
    fetches and extracts: ``frontier.fetch``;
  - Spark writes carry no Python call site, so they are told apart by
    the output path in the physical plan: the frontier delta's
    ``adds`` write runs the lazy expand -> robots -> dedup -> bloom plan
    (``frontier.expand_dedup``); every other write is ``catalog``;
  - anything else (resume reads, budget scheduling, emptiness probes)
    is ``frontier.other``;
- inside a ``parse``, ``clean`` or ``publish`` span: that layer.

Time inside a frontier span is split among the executions running at
each instant (equal shares when several overlap, as the engine's
writer pool does), and the part no execution covers is
``frontier.driver``.  Parse, clean and publish time is their span's
duration.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from statistics import median


class Spans:
    """In-memory spans: (name, start, end, parent index)."""

    def __init__(self) -> None:
        self.rows: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.rows)
        self.rows.append([name, time.time(), None, parent])
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.rows[idx][2] = time.time()
            self._stack.pop()

    def end_of_last(self, name: str) -> float:
        return next(r[2] for r in reversed(self.rows) if r[0] == name)

    def children(self, idx: int) -> list[int]:
        return [k for k, r in enumerate(self.rows) if r[3] == idx]

    def dump(self, path: str, extra: list[dict]) -> None:
        rows = [
            {"id": k, "name": n, "start": s, "end": e, "parent": p}
            for k, (n, s, e, p) in enumerate(self.rows)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows + extra}, f)


SPARK_LAYERS = ("frontier", "catalog", "parse", "clean", "publish")
_WRITE_PATH = re.compile(r"file:(\S*?)/([A-Za-z_]+)/snap-\d+\.tmp/(\w+)")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def load_events(log_dir: str) -> list[dict]:
    """All events of the single application logged under *log_dir*
    (Spark 4 writes a directory of ``events_<n>_<app>`` files)."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if n.startswith("events_")]
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for p in files:
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class _Exec:
    def __init__(self, eid: int, start: float, desc: str, plan: str) -> None:
        self.id, self.start, self.end = eid, start, start
        self.desc, self.plan = desc, plan
        self.stages: list[int] = []
        self.jobs = 0
        self.label = None  # layer label, set by attribution
        self.table = None  # output table of a write


def _executions(events: list[dict]):
    execs: dict[int, _Exec] = {}
    root: dict[int, int] = {}
    stage_exec: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            eid = e["executionId"]
            r = e.get("rootExecutionId", eid)
            root[eid] = r if r in execs else eid
            if root[eid] == eid:
                execs[eid] = _Exec(
                    eid, e["time"] / 1e3, e.get("description", ""),
                    e.get("physicalPlanDescription", ""),
                )
        elif kind.endswith("SQLExecutionEnd"):
            x = execs.get(root.get(e["executionId"], -1))
            if x is not None:
                x.end = max(x.end, e["time"] / 1e3)
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            x = execs.get(root.get(int(eid), -1)) if eid is not None else None
            if x is not None:
                x.jobs += 1
                for sid in e.get("Stage IDs", []):
                    stage_exec[sid] = x.id
                    x.stages.append(sid)
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            stage_submit[si["Stage ID"]] = si.get("Submission Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
    return execs, stage_exec, stage_submit, tasks


def _classify(x: _Exec) -> None:
    m = _WRITE_PATH.search(x.plan) if "InsertIntoHadoopFsRelation" in x.plan else None
    if m:
        x.table = m.group(2)
        x.label = (
            "frontier.expand_dedup"
            if (m.group(2), m.group(3)) == ("frontier", "adds")
            else "catalog"
        )
    elif "plans/frontier.py" in x.desc and "FlatMapGroupsInPandas" in x.plan:
        x.label = "frontier.fetch"
    else:
        x.label = "frontier.other"


def _split(intervals: list[tuple[float, float, str]], lo: float, hi: float):
    """Exclusive time per label inside [lo, hi]; overlapping intervals
    share each instant equally.  Returns (per-label seconds, covered)."""
    cuts = sorted({lo, hi} | {min(max(t, lo), hi) for a, b, _ in intervals for t in (a, b)})
    out: dict[str, float] = {}
    covered = 0.0
    for a, b in zip(cuts, cuts[1:]):
        active = [lab for s, e, lab in intervals if s <= a and e >= b]
        if not active:
            continue
        covered += b - a
        for lab in active:
            out[lab] = out.get(lab, 0.0) + (b - a) / len(active)
    return out, covered


def attribute(events: list[dict], spans: Spans, op_ids: list[int]) -> tuple[dict, list[dict]]:
    """Per-op layer metrics from the event log, plus the executions as
    spans (children of the benchmark span they started in)."""
    execs, stage_exec, stage_submit, tasks = _executions(events)
    n_ops = max(len(op_ids), 1)
    calls = [
        (k, spans.rows[k]) for op in op_ids for k in spans.children(op)
    ]
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v

    exec_spans: list[dict] = []
    skews: list[float] = []
    frontier_jobs = frontier_tasks = 0
    for k, (name, s0, s1, _) in calls:
        inside = [x for x in execs.values() if s0 <= x.start <= s1]
        for x in inside:
            if name == "frontier":
                _classify(x)
            else:
                x.label = name
            exec_spans.append({
                "name": x.label, "start": x.start, "end": x.end, "parent": k,
                "execution": x.id, "table": x.table, "description": x.desc,
            })
            layer = x.label.split(".")[0]
            for sid in x.stages:
                ts = tasks.get(sid, [])
                if ts:
                    launch = min(t["Task Info"]["Launch Time"] for t in ts) / 1e3
                    add(f"{layer}.sched_wait_s", max(0.0, launch - stage_submit.get(sid, launch)))
                for t in ts:
                    m = t.get("Task Metrics") or {}
                    add(f"{layer}.shuffle_bytes",
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                    add(f"{layer}.gc_s", m.get("JVM GC Time", 0) / 1e3)
                    add(f"{layer}.spill_bytes",
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                    if x.label == "frontier.fetch":
                        for a in t["Task Info"].get("Accumulables", []):
                            if a.get("Name") in _PY_BYTES:
                                add("frontier.python_bytes", float(a.get("Update") or 0))
                if name == "frontier":
                    frontier_tasks += len(ts)
            if name == "frontier":
                frontier_jobs += x.jobs
            if x.label == "frontier.fetch":
                skews.append(_fetch_skew(x, tasks))
        if name == "frontier":
            shares, covered = _split([(x.start, x.end, x.label) for x in inside], s0, s1)
            for lab, v in shares.items():
                add(f"{lab}_s" if lab != "catalog" else "catalog.write_s", v)
            add("frontier.driver_s", (s1 - s0) - covered)
        else:
            add(f"{name}.s", s1 - s0)
    out = {k: v / n_ops for k, v in acc.items()}
    out["frontier.fetch_task_skew"] = median(skews) if skews else 0.0
    out["_frontier_jobs"] = frontier_jobs
    out["_frontier_tasks"] = frontier_tasks
    return out, exec_spans


def _fetch_skew(x: _Exec, tasks: dict[int, list[dict]]) -> float:
    """max / median task time of the execution's fetch stage: the stage
    that spent the most task time in Python workers."""
    best, best_py = None, -1.0
    for sid in x.stages:
        py = sum(
            float(a.get("Update") or 0)
            for t in tasks.get(sid, [])
            for a in t["Task Info"].get("Accumulables", [])
            if a.get("Name") == "time to run Python workers"
        )
        if tasks.get(sid) and py > best_py:
            best, best_py = sid, py
    if best is None:
        return 0.0
    d = [
        t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
        for t in tasks[best]
    ]
    return max(d) / max(median(d), 1.0)
