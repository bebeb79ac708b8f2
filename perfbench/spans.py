"""Per-layer tracing from outside the program.

A ``Tracer`` times the benchmark's own calls into ``wdel_spark``'s public
functions.  Each span runs under its own Spark job group, so the event
log (``spark.eventLog.enabled``, traced runs only) attributes every task
to the span that launched it.  Spans nest; each keeps its parent, its
wall time, its self time (wall minus the time its child spans cover) and
its counters.  Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

AUX_GROUP = "pb-aux"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # job groups the program sets itself (a streaming query's run id)
        self.adopted: dict[str, list[str]] = defaultdict(list)

    def adopt(self, group: str) -> None:
        """Attribute jobs of ``group`` to the most recently opened span."""
        self.adopted[self.spans[-1]["id"]].append(group)

    def _set_group(self, group: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb-span-{len(self.spans):03d}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "counters": {},
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec["counters"]
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["self_s"] = rec["wall_s"] - rec.pop("child_s")
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["wall_s"]
                self._set_group(parent["id"], parent["name"])
            else:
                self._set_group(AUX_GROUP, "perfbench auxiliary")

    @contextmanager
    def aux(self):
        """Work that prepares a span's input: outside every span."""
        cur = self._stack[-1] if self._stack else None
        self._set_group(AUX_GROUP, "perfbench auxiliary")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if cur is not None:
                cur["child_s"] += time.perf_counter() - t0
                self._set_group(cur["id"], cur["name"])


class NullTracer:
    """Stands in for a ``Tracer`` in untraced units: no spans, and the job
    group stays the unit's own."""

    @contextmanager
    def span(self, name: str):
        yield {}

    @contextmanager
    def aux(self):
        yield


NULL = NullTracer()


# ------------------------------------------------------------- event log

_ZERO = {"busy_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}


def parse_event_log(log_dir: Path) -> tuple[dict, dict, dict]:
    """-> (per-group totals, per-group job count, per-stage task run times).

    Tasks are attributed to the job group of the first job that lists
    their stage; a stage that later jobs skip keeps that attribution."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    totals: dict[str, dict] = defaultdict(lambda: dict(_ZERO))
    task_times: dict[int, list[float]] = defaultdict(list)
    for path in sorted(Path(log_dir).iterdir()):
        if path.name.endswith(".inprogress") and not path.stat().st_size:
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an in-progress log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or AUX_GROUP
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    tm = ev.get("Task Metrics") or {}
                    group = stage_group.get(sid, AUX_GROUP)
                    t = totals[group]
                    run_ms = tm.get("Executor Run Time", 0)
                    t["busy_s"] += run_ms / 1e3
                    t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    t["tasks"] += 1
                    task_times[sid].append(run_ms / 1e3)
    stages_by_group: dict[str, list[int]] = defaultdict(list)
    for sid, group in stage_group.items():
        if task_times.get(sid):
            stages_by_group[group].append(sid)
    return dict(totals), dict(jobs), {
        g: [task_times[s] for s in sids]
        for g, sids in stages_by_group.items()}


def _skew(stage_times: list[list[float]]) -> float:
    """Largest max/median task run time over the stages with ≥ 2 tasks."""
    best = 1.0
    for times in stage_times:
        if len(times) < 2:
            continue
        med = statistics.median(times)
        if med > 0:
            best = max(best, max(times) / med)
    return best


def span_table(tracer: Tracer, log_dir: Path) -> tuple[list[dict], dict]:
    """Join the spans with the event log.  Counters of a span include its
    child spans' tasks.  Returns (spans, totals of the traced section)."""
    totals, jobs, stage_times = parse_event_log(log_dir)
    kids: dict[str, list[str]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"]:
            kids[s["parent"]].append(s["id"])

    def subtree(sid: str) -> list[str]:
        out, stack = [], [sid]
        while stack:
            cur = stack.pop()
            out.append(cur)
            out.extend(tracer.adopted.get(cur, []))
            stack.extend(kids.get(cur, []))
        return out

    rows = []
    for s in tracer.spans:
        ids = subtree(s["id"])
        agg = dict(_ZERO)
        for g in ids:
            for k, v in totals.get(g, {}).items():
                agg[k] += v
        row = {
            "id": s["id"], "name": s["name"], "parent": s["parent"],
            "wall_s": s["wall_s"], "self_s": s["self_s"],
            "jobs": sum(jobs.get(g, 0) for g in ids),
            "task_skew": _skew([t for g in ids
                                for t in stage_times.get(g, [])]),
            **agg,
        }
        row.update(s["counters"])
        rows.append(row)
    # the whole traced section: every span, the groups they adopted and
    # the auxiliary work between them (not the untraced units or checks)
    groups = {AUX_GROUP}
    for s in tracer.spans:
        groups.update(subtree(s["id"]))
    whole = dict(_ZERO)
    for g in groups:
        for k, v in totals.get(g, {}).items():
            whole[k] += v
    whole["jobs"] = sum(jobs.get(g, 0) for g in groups)
    return rows, whole


_SUMMED = ("wall_s", "self_s", "busy_s", "cpu_s", "gc_s",
           "shuffle_write_bytes", "spill_bytes", "tasks", "jobs", "rows_out",
           "bytes_written", "files", "snapshots")


def by_name(rows: list[dict]) -> dict[str, dict]:
    """Fold spans that share a name (a function called several times):
    additive counters sum, ``task_skew`` keeps the worst, the rest keep
    the last call's value; ``calls`` counts them."""
    out: dict[str, dict] = {}
    for r in rows:
        cur = out.get(r["name"])
        if cur is None:
            cur = out[r["name"]] = {"calls": 0}
        cur["calls"] += 1
        for k, v in r.items():
            if k in ("id", "name", "parent"):
                continue
            if k in _SUMMED and k in cur:
                cur[k] += v
            elif k == "task_skew" and k in cur:
                cur[k] = max(cur[k], v)
            else:
                cur[k] = v
    return out
