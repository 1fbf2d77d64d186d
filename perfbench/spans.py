"""Spans and the Spark event-log reader behind the per-layer metrics.

A span is the benchmark's own call into one public engine function. It
sets one Spark job group for the duration of the call, so every job the
call runs is attributable to it; spans are kept in memory and joined to
the event log after the session has stopped (the log is complete only
then). Nothing is instrumented inside the engine.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# counters summed from the event log for one span's job group
COUNTERS = ("jobs", "stages", "tasks", "spec_tasks", "executor_run_ms",
            "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "py_boot_ms", "py_init_ms", "py_run_ms",
            "py_sent_bytes")
# SQL metrics of the Python-evaluating plan nodes (ArrowEvalPython,
# MapInPandas, ...), by the name Spark registers them under
PY_METRICS = {"time to start Python workers": "py_boot_ms",
              "time to initialize Python workers": "py_init_ms",
              "time to run Python workers": "py_run_ms",
              "data sent to Python workers": "py_sent_bytes"}
# SQL metric types in the event log: "timing" is ms, "nsTiming" ns
_TO_MS = {"timing": 1.0, "nsTiming": 1e-6}


class Tracer:
    """Records spans as (id, name, parent, start, end); `finish` adds
    each span's job count from `statusTracker`.

    `active=False` makes `span` a no-op except for the `op` span (the
    per-op job group the op's job count needs), so an untraced run pays
    for one job-group switch per op and nothing per layer."""

    def __init__(self, sc, active: bool):
        self.sc = sc
        self.active = active
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        if not (self.active or name == "op"):
            yield None
            return
        self._n += 1
        sid = f"perfbench-{self._n}"
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(sid, name)
        self._stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def finish(self) -> None:
        """Fill each span's `status_jobs` from `statusTracker` once the
        listener bus has drained (job-start events are delivered
        asynchronously, so counting right after an action can miss the
        last job)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        st = self.sc.statusTracker()
        for s in self.spans:
            s["status_jobs"] = len(st.getJobIdsForGroup(s["id"]))

    def children(self, sid: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {counter: total}} from every event-log file under
    `log_dir` (uncompressed JSON lines); jobs run outside any group land
    under "". A stage belongs to the group of the job that submitted
    it, so a stage skipped because an earlier job's shuffle output was
    reused counts nowhere."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith(
                       (".", "appstatus")))
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_group: dict[int, str] = {}
    metric_ms: dict[int, float] = {}  # SQL accumulator id -> ms factor

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", ()):
            metric_ms[m["accumulatorId"]] = _TO_MS.get(m["metricType"], 1.0)
        for c in node.get("children", ()):
            plan_metrics(c)

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if "sparkPlanInfo" in e:
                    plan_metrics(e["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    out[g or ""]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[e["Stage Info"]["Stage ID"]] = g
                    out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    c = out[g]
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["spec_tasks"] += bool(info.get("Speculative"))
                    c["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    c["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    c["gc_ms"] += tm.get("JVM GC Time", 0)
                    rd = tm.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                                + rd.get("Local Bytes Read", 0))
                    c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                                 or {}).get("Shuffle Bytes Written", 0)
                    for a in info.get("Accumulables", ()):
                        key = PY_METRICS.get(a.get("Name"))
                        if key and a.get("Update") is not None:
                            v = float(a["Update"])
                            if key.endswith("_ms"):
                                v *= metric_ms.get(a["ID"], 1.0)
                            c[key] += v
    return dict(out)


def span_counters(span: dict, groups: dict[str, dict[str, float]],
                  tracer: Tracer) -> dict[str, float]:
    """Counters of a span including its descendants' job groups, plus
    its wall time."""
    tot = dict.fromkeys(COUNTERS, 0.0)
    todo = [span]
    while todo:
        s = todo.pop()
        for k, v in groups.get(s["id"], {}).items():
            tot[k] += v
        todo.extend(tracer.children(s["id"]))
    tot["wall_ms"] = (span["end"] - span["start"]) * 1e3
    return tot
