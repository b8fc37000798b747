"""Repeat runs and summarize their spread.

    python3 perfbench/repeat.py --workloads import_batch catalog_status --seeds 1-10
    python3 perfbench/repeat.py --summarize-only

Runs `perfbench/run.py` once per (workload, seed), one run at a time, and
keeps each run's result line under `.perfbench_work/results/`. Then, for
every (workload, metric) pair over the kept results, prints the median,
the first and third quartiles (`statistics.quantiles(values, n=4)`), the
sample count, and the spread (third minus first quartile, over the median).
A pair whose spread exceeds its bound in BENCHMARK.json is flagged `OVER`;
the bound does not apply to setup_s's spread, which is shown for
information. Exits 1 if any pair is flagged or any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".perfbench_work", "results")


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(res, f)
    return res


def summarize(spec: dict, trace: int) -> bool:
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    per: dict[tuple[str, str], list[float]] = {}
    failed = 0
    for fn in sorted(os.listdir(RESULTS)) if os.path.isdir(RESULTS) else ():
        if not fn.endswith(f"-trace{trace}.json"):
            continue
        workload = fn.split("-seed")[0]
        with open(os.path.join(RESULTS, fn)) as f:
            res = json.load(f)
        failed += res["failed"]
        for name, m in res["metrics"].items():
            per.setdefault((workload, name), []).append(m["value"])
    ok = failed == 0
    print(f"{'workload':16} {'metric':44} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for (workload, name), vals in sorted(per.items()):
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / abs(med) if med else 0.0
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s" and spread > bound:
            flag, ok = "OVER", False
        elif bound is not None and name != "setup_s" and spread > bound / 3:
            flag = "over 1/3"
        print(f"{workload:16} {name:44} {len(vals):3d} {med:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{spread:7.3f} {'' if bound is None else bound:>6} {flag}")
    if failed:
        print(f"{failed} failed ops across the runs")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summarize-only", action="store_true")
    ap.add_argument("--fresh", action="store_true", help="delete kept results first")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.fresh and os.path.isdir(RESULTS):
        for fn in os.listdir(RESULTS):
            os.remove(os.path.join(RESULTS, fn))
    ok = True
    if not args.summarize_only:
        workloads = args.workloads or [w["name"] for w in spec["workloads"]]
        for w in workloads:
            for seed in _seeds(args.seeds):
                ok &= run_once(w, seed, spec["run_seconds"], args.trace) is not None
    ok &= summarize(spec, args.trace)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
