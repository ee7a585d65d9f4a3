"""Outside-in tracing: spans around calls into the program's layers.

A span has a name, start, end, parent and run id. Each span runs its
Spark jobs under its own job group, and a nested span restores its
parent's group on exit, so every task Spark runs is attributed to the
innermost span open when its job was submitted. Task metrics come from
Spark's event log, read back once the session has stopped (the UI and
its REST API are off in this program's sessions).

Nothing in the program is edited: :meth:`Tracer.wrap` replaces module
attributes that the program resolves at call time, and
:meth:`Tracer.unpatch` puts them back.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"{self.run_id}.{self._next}",
        }
        self._next += 1
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name_of, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs the original
        inside a span named ``name_of(args, kwargs)``; ``after(rec, args,
        kwargs, result)`` runs inside the span once the call returns."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name_of(args, kwargs)) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def cached_bytes(self) -> int:
        """Bytes held by cached RDD blocks right now (memory + disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def _new_group() -> dict:
    return {
        "jobs": 0, "stages": {}, "task_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "bytes_written": 0,
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task seconds, shuffle-write/spill/output bytes
    and per-stage task run times, from every event log under ``log_dir``
    (Spark 4 writes rolling ``eventlog_v2_*/events_<n>_*`` files)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: (os.path.dirname(p),
                              int(os.path.basename(p).split("_")[1])))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        groups.setdefault(g, _new_group())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    agg = groups.setdefault(g, _new_group())
                    run_s = m["Executor Run Time"] / 1000.0
                    agg["task_s"] += run_s
                    st = agg["stages"].setdefault(
                        ev["Stage ID"], {"tasks": [], "shuffle_write": 0})
                    st["tasks"].append(run_s)
                    w = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st["shuffle_write"] += w
                    agg["shuffle_write_bytes"] += w
                    agg["spill_bytes"] += m["Disk Bytes Spilled"]
                    agg["bytes_written"] += m["Output Metrics"]["Bytes Written"]
    return groups


def group_summary(agg: dict | None) -> dict:
    """Flat metrics of one job group; the skew is max/median task time of
    the group's heaviest stage."""
    if agg is None:
        agg = _new_group()
    stages = agg["stages"].values()
    skew = 0.0
    if stages:
        heavy = max(stages, key=lambda s: sum(s["tasks"]))["tasks"]
        med = statistics.median(heavy)
        skew = max(heavy) / med if med > 0 else 1.0
    return {
        "jobs": agg["jobs"],
        "task_s": agg["task_s"],
        "task_skew": skew,
        "shuffle_write_bytes": agg["shuffle_write_bytes"],
        "shuffle_stages": sum(1 for s in stages if s["shuffle_write"] > 0),
        "spill_bytes": agg["spill_bytes"],
        "bytes_written": agg["bytes_written"],
    }
