"""Spans around the benchmark's calls into each layer, and the arithmetic
that turns them plus Spark's own job/stage records into per-layer metrics.

A span is recorded in memory only (`Tracer.spans`) and written out when the
run ends. Each op is a parent span; the layer calls inside it are child
spans carrying the op's id. Jobs and stages come from one REST fetch at the
end of the run and are attributed to the child span whose interval holds
their submission time.

The arithmetic (`union_seconds`, `build_seconds`, `self_seconds`,
`attribute`) is pure, so the tests check it on synthetic intervals.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import urllib.request
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import _parse_rest_ts, stage_bucket, stage_rollup  # noqa: E402

# a REST submission time is floored to the millisecond, so a job submitted
# in the first millisecond of a span can read up to 1 ms before its start
_TS_SLACK_S = 0.001


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def build_seconds(span: dict, job_intervals) -> float:
    """The span's wall time not covered by any Spark job it submitted:
    driver Python, py4j round trips and eager analysis."""
    wall = span["t1"] - span["t0"]
    return max(0.0, wall - union_seconds(job_intervals, span["t0"], span["t1"]))


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - union_seconds(children.get(s["id"], ()), s["t0"], s["t1"])
        for s in spans
    }


def attribute(spans: list[dict], ts: float | None) -> dict | None:
    """The child span whose interval holds `ts`; of two adjacent spans the
    later one wins the slack millisecond at their shared edge."""
    if ts is None:
        return None
    hit = None
    for s in spans:
        if s["t0"] - _TS_SLACK_S <= ts <= s["t1"] and (hit is None or s["t0"] > hit["t0"]):
            hit = s
    return hit


class Tracer:
    """In-memory span recorder. With `enabled` false every method is a
    no-op context, so the untraced run pays nothing but the `with`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._op: dict | None = None

    @contextmanager
    def op(self, kind: str):
        if not self.enabled:
            yield
            return
        s = {"id": len(self.spans), "name": f"op.{kind}", "parent": None, "t0": time.time()}
        self.spans.append(s)
        self._op = s
        try:
            yield
        finally:
            s["t1"] = time.time()
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._op["id"] if self._op else None
        s = {"id": len(self.spans), "name": name, "parent": parent, "t0": time.time()}
        self.spans.append(s)
        try:
            yield
        finally:
            s["t1"] = time.time()


# --- Spark REST reads (one fetch each, at run end) -----------------------------

def rest_get(spark, endpoint: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{endpoint}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def drain_listener_bus(spark) -> None:
    """Wait until the Spark driver has delivered every queued listener event, so
    the status store (and any registered listener) has seen every job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_intervals(jobs: list) -> list[tuple[float, float]]:
    out = []
    for j in jobs:
        a = _parse_rest_ts(j.get("submissionTime"))
        b = _parse_rest_ts(j.get("completionTime"))
        if a is not None and b is not None:
            out.append((a, b))
    return out


def layer_metrics(spans: list[dict], jobs: list, stages: list, span_names: list[str],
                  heavy: set[str]) -> dict[str, float]:
    """Per-call means for each named child span: wall_s, build_s, jobs,
    exec_cpu_s, and for the `heavy` spans shuffle_mb and spill_mb. A span
    the run never entered reports zeros (zero calls, zero work)."""
    children = [s for s in spans if s.get("parent") is not None]
    per_span_jobs: dict[int, list] = {s["id"]: [] for s in children}
    for a, b in job_intervals(jobs):
        s = attribute(children, a)
        if s is not None:
            per_span_jobs[s["id"]].append((a, b))
    per_span_io: dict[int, list[float]] = {s["id"]: [0.0, 0.0] for s in children}
    for st in stages or ():
        if not isinstance(st, dict) or st.get("status") == "SKIPPED":
            continue
        s = attribute(children, _parse_rest_ts(st.get("submissionTime")))
        if s is None:
            continue
        io = per_span_io[s["id"]]
        io[0] += (st.get("shuffleReadBytes") or 0) + (st.get("shuffleWriteBytes") or 0)
        io[1] += (st.get("memoryBytesSpilled") or 0) + (st.get("diskBytesSpilled") or 0)
    windows = {s["id"]: (s["t0"] - _TS_SLACK_S, s["t1"]) for s in children}
    # windows may share an edge; stage_bucket bills a stage to the first
    # matching window, so order them latest-start first like `attribute`
    windows = dict(sorted(windows.items(), key=lambda kv: -kv[1][0]))
    cpu = stage_bucket(stages, windows) if stages else {}

    out: dict[str, float] = {}
    for name in span_names:
        mine = [s for s in children if s["name"] == name]
        n = len(mine) or 1
        out[f"{name}.wall_s"] = sum(s["t1"] - s["t0"] for s in mine) / n
        out[f"{name}.build_s"] = sum(build_seconds(s, per_span_jobs[s["id"]]) for s in mine) / n
        out[f"{name}.jobs"] = sum(len(per_span_jobs[s["id"]]) for s in mine) / n
        out[f"{name}.exec_cpu_s"] = sum(
            ((cpu.get(s["id"]) or {}).get("cpu_ms") or 0) / 1e3 for s in mine) / n
        if name in heavy:
            out[f"{name}.shuffle_mb"] = sum(per_span_io[s["id"]][0] for s in mine) / n / 1e6
            out[f"{name}.spill_mb"] = sum(per_span_io[s["id"]][1] for s in mine) / n / 1e6
    return out


def child_coverage(spans: list[dict]) -> float:
    """The smallest share, over ops, of an op's wall covered by its child
    spans."""
    ops = [s for s in spans if s.get("parent") is None]
    selfs = self_seconds(spans)
    worst = 1.0
    for s in ops:
        wall = s["t1"] - s["t0"]
        if wall > 0:
            worst = min(worst, 1.0 - selfs[s["id"]] / wall)
    return worst


def streaming_metrics(progress: list[dict], ops: int) -> dict[str, float]:
    """Micro-batch counts per op and p50 phase times from the streaming
    queries' recentProgress entries."""
    dur = [p.get("durationMs") or {} for p in progress]

    def p50(key):
        vals = [d[key] for d in dur if key in d]
        return statistics.median(vals) if vals else 0.0

    return {
        "streaming.batches": len(progress) / max(1, ops),
        "streaming.batch_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
    }


def run_cpu_over_run(stages: list) -> float | None:
    """Executor CPU over executor run time across the run's stages, the
    in-run sign of a descheduled or stalled host (record only)."""
    roll = stage_rollup(stages)
    return (roll or {}).get("cpu_over_run")


_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def parse_phases(text: str) -> dict[str, tuple[int, int]]:
    """`QueryPlanningTracker.phases().toString()` -> {phase: (start_ms, end_ms)}."""
    return {m[1]: (int(m[2]), int(m[3])) for m in _PHASE_RE.finditer(text)}


class CatalystListener:
    """QueryExecutionListener (a py4j callback) that records the analysis,
    optimization and planning phase times of every query that completes.

    One py4j round trip per query reads the phases as text. A frame
    collected twice reuses its QueryExecution and reports identical phase
    intervals, so each distinct set of intervals counts once. A record's
    time is its first phase's start, for attribution to traced ops."""

    def __init__(self):
        self.records: dict[tuple, dict[str, tuple[int, int]]] = {}

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = parse_phases(qe.tracker().phases().toString())
        if phases:
            self.records[tuple(sorted(phases.items()))] = phases

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def totals_ms(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for phases in self.records.values():
            t = min(a for a, _ in phases.values()) / 1e3
            if any(a - _TS_SLACK_S <= t <= b for a, b in windows):
                for k in out:
                    if k in phases:
                        out[k] += phases[k][1] - phases[k][0]
        return out
