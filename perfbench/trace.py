"""Spans recorded from the benchmark's side of each call into a layer.

A span has a name, start, end, parent and the run id all spans of one run
share. When tracing is on, each span runs its Spark jobs under its own job
group, so ``statusTracker`` attributes jobs and stages to the innermost open
span, and the stage data the status store keeps gives their shuffle bytes.
Spans stay in memory until ``write`` at the end of the run. When tracing is
off, ``span`` yields a throw-away record and touches no Spark API, so the
untraced timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time

from . import stats


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec.update(run_id=self.run_id, span_id=f"{self.run_id}:{len(self.spans)}",
                   parent=parent["span_id"] if parent else None)
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["span_id"], name, interruptOnCancel=False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["span_id"], parent["name"], interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(_job_counters(self.spark, rec["span_id"]))

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        """Write the spans, each with its self time, and ``extra``."""
        for span in self.spans:
            kids = [(s["start"], s["end"]) for s in self.spans if s.get("parent") == span["span_id"]]
            span["self_s"] = stats.self_time((span["start"], span["end"]), kids)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1,
                      default=str)


def _job_counters(spark, group: str) -> dict:
    """Jobs, stages and stage-level shuffle bytes of one job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    with contextlib.suppress(Exception):  # best effort: lets stage data settle
        jsc.listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    store = jsc.statusStore()
    shuffle = 0
    ran = 0
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt data
            continue
        if sd.numCompleteTasks() > 0:
            ran += 1
            shuffle += sd.shuffleWriteBytes()
    return {"jobs": len(jobs), "stages": ran, "shuffle_bytes": shuffle}


def planning_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution, from ``queryExecution().tracker().phases()``."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.length())]


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_counters(df) -> dict:
    """Walk ``df``'s executed plan, AQE query stages included, for scan and
    Python-runner counters. Call after an action on ``df`` itself."""
    out = {"scan_files": 0, "scan_rows": 0, "python_bytes": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name in ("FileSourceScanExec", "BatchScanExec"):
            out["scan_files"] += _metric(node, "numFiles")
            out["scan_rows"] += _metric(node, "numOutputRows")
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            out["python_bytes"] += _metric(node, "pythonDataSent") + _metric(node, "pythonDataReceived")
        todo.extend(_children(node))
    return out
