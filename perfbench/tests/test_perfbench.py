"""Tests for the benchmark itself (not the engine).

    python -m pytest perfbench/tests -q

The smoke tests start Spark once per workload at the tiny input size, so
this file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LISTED_WORKLOADS, E2E_UNITS, WORKLOADS, per_layer_units)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- seeded inputs ---------------------------------------------------------------

@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_inputs(tmp_path, workload):
    _, a = gen.generate(str(tmp_path / "a"), workload, 7, "tiny")
    _, b = gen.generate(str(tmp_path / "b"), workload, 7, "tiny")
    _, c = gen.generate(str(tmp_path / "c"), workload, 8, "tiny")
    assert a == b
    assert a["hashes"] and a["hashes"] != c["hashes"]


def test_inputs_are_cached_per_seed(tmp_path):
    d1, m1 = gen.generate(str(tmp_path), "import_batch", 3, "tiny")
    stamp = os.path.getmtime(os.path.join(d1, "manifest.json"))
    d2, m2 = gen.generate(str(tmp_path), "import_batch", 3, "tiny")
    assert (d1, m1) == (d2, m2)
    assert os.path.getmtime(os.path.join(d2, "manifest.json")) == stamp


def test_import_manifest_counts_are_consistent(tmp_path):
    _, m = gen.generate(str(tmp_path), "import_batch", 1, "tiny")
    for t in m["tables"].values():
        d = t["defects"]
        s = t["summary"]
        # each defect row has one defect; a duplicated key flags both rows
        assert s["violations"] == (d["null_name"] + d["short_name"] + d["bad_prefix"]
                                   + 2 * d["dup_key_pairs"] + d["bad_fk"])
        assert s["valid"] + s["violations"] == s["loaded"] == t["rows"]


# --- span arithmetic ---------------------------------------------------------------

def test_union_seconds_merges_and_clips():
    iv = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert tr.union_seconds(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert tr.union_seconds(iv, 2.5, 6.5) == pytest.approx(1.5 + 0.5)
    assert tr.union_seconds([], 0.0, 5.0) == 0.0


def test_build_seconds_subtracts_job_union():
    span = {"t0": 10.0, "t1": 20.0}
    # two overlapping jobs (12-15, 14-16) and one running past the span end
    jobs = [(12.0, 15.0), (14.0, 16.0), (19.0, 25.0)]
    assert tr.build_seconds(span, jobs) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.build_seconds(span, []) == pytest.approx(10.0)


def test_self_seconds_subtracts_children():
    spans = [
        {"id": 0, "name": "op.x", "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "name": "a", "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "name": "b", "parent": 0, "t0": 4.0, "t1": 9.5},
    ]
    selfs = tr.self_seconds(spans)
    assert selfs[0] == pytest.approx(1.5)
    assert selfs[1] == pytest.approx(3.0) and selfs[2] == pytest.approx(5.5)
    assert tr.child_coverage(spans) == pytest.approx(0.85)


def test_attribute_prefers_later_span_at_shared_edge():
    a = {"id": 1, "t0": 0.0, "t1": 1.0}
    b = {"id": 2, "t0": 1.0, "t1": 2.0}
    assert tr.attribute([a, b], 0.5) is a
    assert tr.attribute([a, b], 1.0) is b
    assert tr.attribute([a, b], 0.998) is a
    assert tr.attribute([a, b], 5.0) is None


def test_layer_metrics_on_synthetic_jobs_and_stages():
    spans = [
        {"id": 0, "name": "op.t", "parent": None, "t0": 100.0, "t1": 110.0},
        {"id": 1, "name": "imports.run", "parent": 0, "t0": 100.0, "t1": 104.0},
        {"id": 2, "name": "imports.export", "parent": 0, "t0": 104.0, "t1": 110.0},
    ]

    def ts(sec: float) -> str:
        import datetime as dt
        d = dt.datetime.fromtimestamp(sec, dt.timezone.utc)
        return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{d.microsecond // 1000:03d}GMT"

    jobs = [{"submissionTime": ts(101.0), "completionTime": ts(102.5)},
            {"submissionTime": ts(105.0), "completionTime": ts(106.0)},
            {"submissionTime": ts(107.0), "completionTime": ts(109.0)}]
    stages = [{"stageId": 1, "attemptId": 0, "status": "COMPLETE",
               "submissionTime": ts(101.1), "executorRunTime": 2000,
               "executorCpuTime": 1_500_000_000, "shuffleReadBytes": 1_000_000,
               "shuffleWriteBytes": 2_000_000, "memoryBytesSpilled": 0,
               "diskBytesSpilled": 500_000}]
    m = tr.layer_metrics(spans, jobs, stages, ["imports.run", "imports.export", "smo.refresh"],
                         {"imports.run"})
    assert m["imports.run.jobs"] == 1 and m["imports.export.jobs"] == 2
    assert m["imports.run.build_s"] == pytest.approx(4.0 - 1.5, abs=1e-3)
    assert m["imports.export.build_s"] == pytest.approx(6.0 - 3.0, abs=1e-3)
    assert m["imports.run.exec_cpu_s"] == pytest.approx(1.5)
    assert m["imports.run.shuffle_mb"] == pytest.approx(3.0)
    assert m["imports.run.spill_mb"] == pytest.approx(0.5)
    # a span the run never entered reports zero work
    assert m["smo.refresh.wall_s"] == 0 and m["smo.refresh.jobs"] == 0


def test_parse_phases():
    text = ("Map(planning -> PhaseSummary(30, 45), optimization -> PhaseSummary(12, 30), "
            "analysis -> PhaseSummary(10, 12))")
    assert tr.parse_phases(text) == {"planning": (30, 45), "optimization": (12, 30),
                                     "analysis": (10, 12)}


# --- names, units and the BENCHMARK.json contract ------------------------------------

@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_name_is_valid_and_has_a_unit(workload):
    for units in (E2E_UNITS, per_layer_units(workload)):
        for name, unit in units.items():
            assert NAME_RE.match(name), name
            assert UNIT_RE.match(unit), (name, unit)


def test_typical_op_is_mean_of_kind_medians():
    from perfbench.run import typical_op_s

    assert typical_op_s({"a": [1.0], "b": [4.0]}) == pytest.approx(2.5)
    # each kind's median counts once, however many ops of it were timed
    assert typical_op_s({"a": [1.0, 9.0, 1.0], "b": [4.0]}) == pytest.approx(2.5)
    # one kind slowing moves it by that change over the number of kinds
    base = {"small": [0.2], "mid": [1.0], "large": [5.0], "huge": [6.0]}
    slower_mid = dict(base, mid=[1.5])
    assert typical_op_s(slower_mid) - typical_op_s(base) == pytest.approx(0.5 / 4)


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == LISTED_WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    for w in LISTED_WORKLOADS:
        assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units(w)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert len(json.dumps(spec)) < 64 * 1024


# --- whole runs -------------------------------------------------------------------------

def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [(w, t) for w in LISTED_WORKLOADS for t in (0, 1)]
                         + [("corpus_curation", 1), ("stream_ingest", 1)])
def test_smoke_run_emits_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2, proc.stdout
    want = per_layer_units(workload) if trace else E2E_UNITS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["tracing.child_coverage"] >= 0.95
        if workload == "corpus_curation":
            assert m["operators.curation.curate.jobs"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("import_batch", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "{" not in proc.stdout
