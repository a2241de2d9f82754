"""Spans, job-group attribution and the event-log fold for the traced run.

A span is recorded by the benchmark around each call it makes into a
layer, or that the engine makes into an object the benchmark handed it
(see :class:`Proxy`).  Every span sets its own Spark job group, so each
job, stage and task Spark runs while the span is innermost is
attributed to that span.  Job counts come from ``sc.statusTracker()``
while the run is live; task metrics (run time, CPU time, shuffle bytes,
spill) come from the Spark event log, folded once the session is
stopped, because Spark only completes the log on stop.  Event-log stage
names carry no Python call site, so the job group is the only key.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder.  ``spans`` is written out by the caller
    when the benchmark ends."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0   # time spent in the tracer's own calls

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty(_GROUP_PROP, None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"pb-{self.run_id}-{sid}", **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        t0 = time.perf_counter()
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(self.sc.statusTracker()
                              .getJobIdsForGroup(rec["group"]))
            self._stack.pop()
            self._set_group(parent)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    # -- queries over the recorded spans ---------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, root: dict) -> list[dict]:
        out, frontier = [root], [root["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(kids)
            frontier = [s["id"] for s in kids]
        return out

    def self_seconds(self, span: dict) -> float:
        """Span duration minus the part of it covered by its children."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == span["id"])
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

    def total_seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


class Proxy:
    """Thin pass-through around an object the engine accepts
    (transport, checkpoint, seen store, bloom, cuckoo): every method
    call becomes a span named ``<layer>.<method>``; attribute reads and
    writes (``n_added``, ``host_delays``) go straight to the wrapped
    object, so the engine sees the same behaviour."""

    def __init__(self, inner, layer: str, tracer: Tracer):
        object.__setattr__(self, "_inner", inner)
        object.__setattr__(self, "_layer", layer)
        object.__setattr__(self, "_tracer", tracer)

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr
        tracer, label = self._tracer, f"{self._layer}.{name}"

        def traced(*args, **kwargs):
            with tracer.span(label):
                return attr(*args, **kwargs)

        return traced

    def __setattr__(self, name, value):
        setattr(self._inner, name, value)


def fold_event_log(log_dir: Path) -> dict[str, dict]:
    """Per-job-group totals from a (completed) uncompressed event log:
    jobs, stages, tasks, executor run/CPU seconds, shuffle-write bytes
    and spilled bytes.  Spark 4 writes a rolling ``eventlog_v2_*``
    directory of ``events_*`` files; a single-file log also works."""
    files = sorted(p for p in log_dir.rglob("*") if p.is_file()
                   and not p.name.startswith((".", "appstatus")))
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        })

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP_PROP)
                    acc(group)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    group = (ev.get("Properties") or {}).get(_GROUP_PROP)
                    stage_group[sid] = group
                    acc(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    a = acc(group)
                    a["tasks"] += 1
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out


def sum_groups(folded: dict[str, dict], spans: list[dict]) -> dict:
    """Add up the folded event-log totals of ``spans``' job groups."""
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for s in spans:
        for k, v in folded.get(s["group"], {}).items():
            tot[k] += v
    return tot
