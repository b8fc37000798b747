"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload import_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (tracing off); with --trace 1 they are the
per-layer ones, from spans around every call the benchmark makes into a
layer, and the spans themselves go to `.perfbench_work/traces/`. Lines
before it are a readable report: every metric with its unit, the ops
attempted and failed, and each failed check.

Generated inputs, Spark scratch space and run outputs all live under
`.perfbench_work/` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 5  # set-ups per run; setup_s is their median
KEEP_INPUT_SEEDS = 6  # cached input sets kept per workload

def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _proc_status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (own plus reaped children) of the JVM's Python workers."""
    total = 0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _retained_mb(spark) -> float:
    """Memory the run leaves live: the driver JVM's heap in use after full
    GCs at run end (cached blocks, plan memos, anything leaked) plus the
    driver Python process's resident set. The first GC can leave objects
    awaiting finalization, so the smallest of three readings counts."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        heap.append(rt.totalMemory() - rt.freeMemory())
    return min(heap) / 2**20 + _proc_status_kb("self", "VmRSS") / 1024


def start_session():
    from schemamap_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    return get_spark("perfbench", extra_configs={
        "spark.local.dir": local,
        # keep the JVM's temp and perf-data files out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # every job and stage of a run must survive to the one REST fetch
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    all of them to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — last resort, then wait again
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def _prune_inputs(workload: str, keep: str) -> None:
    base = os.path.join(WORK, "inputs")
    mine = sorted((os.path.join(base, d) for d in os.listdir(base) if d.startswith(workload + "-")),
                  key=os.path.getmtime)
    for d in mine[:-KEEP_INPUT_SEEDS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def tracing_overhead_pct(workload: str, size: str, by_kind: dict[str, list]) -> float | None:
    """Traced op time against untraced, per op kind: the median over kinds
    of (this traced run's median / the median over the untraced runs kept
    in this checkout) - 1, in percent. None before any untraced run."""
    path = os.path.join(WORK, "untraced", f"{workload}-{size}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        runs = [json.loads(line) for line in f]
    ratios = []
    for kind, vals in by_kind.items():
        base = [r[kind] for r in runs if kind in r]
        if base:
            ratios.append(statistics.median(vals) / statistics.median(base))
    return 100 * (statistics.median(ratios) - 1) if ratios else None


def typical_op_s(by_kind: dict[str, list]) -> float:
    """The latency of a typical op: the mean over op kinds of each kind's
    median latency. Op kinds differ in cost by up to 30x and a run times
    only a few ops of each, so a median pooled over all ops falls between
    two unrelated kinds and jumps when either moves. A geometric mean would
    weight the sub-second kinds, whose run-to-run spread is up to three
    times that of the others, as much as the rest."""
    return statistics.mean(statistics.median(v) for v in by_kind.values())


def _keep_untraced(workload: str, size: str, by_kind: dict[str, list]) -> None:
    os.makedirs(os.path.join(WORK, "untraced"), exist_ok=True)
    with open(os.path.join(WORK, "untraced", f"{workload}-{size}.jsonl"), "a") as f:
        f.write(json.dumps({k: statistics.median(v) for k, v in by_kind.items()}) + "\n")


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    from perfbench import gen
    from perfbench import trace as tr
    from perfbench.workloads import HEAVY_SPANS, WORKLOADS, traced_spans

    marks = [("start", time.perf_counter())]
    inputs, manifest = gen.generate(WORK, workload, seed, size)
    marks.append(("inputs", time.perf_counter()))
    _prune_inputs(workload, inputs)
    run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = tr.Tracer(False)
    wl = WORKLOADS[workload](inputs, manifest, run_dir, tracer)

    # --- set-up, several times; the last session is the one measured
    setups, spark, session_start = [], None, None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        if session_start is None:
            session_start = time.perf_counter() - t0
        spark.range(1).count()
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    marks.append(("setup", time.perf_counter()))
    listener = None
    if trace:
        listener = tr.CatalystListener()
        listener.register(spark)
    jvm_pid = spark.sparkContext._gateway.proc.pid

    # --- ops. The first is the cold op. Warm-up ops follow untimed (see
    # Workload.warmup_ops). The memory left live is read after them, so it
    # follows a fixed amount of work. Then whole cycles of the workload's op
    # kinds are timed: another starts only if it should end, at the last
    # cycle's pace, within `seconds`. Every op kind is timed at least once;
    # the op count varies with the host's speed, the reported statistics
    # do not. A traced run traces the timed ops only.
    durations, errors, items = [], [], 0
    by_kind: dict[str, list] = {}
    attempted = failed = 0
    cycle = len(wl.kinds())

    def one_op(i: int) -> tuple[float, int, str]:
        nonlocal attempted, failed
        kind = wl.op_kind(i)
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.op(kind):
                n, check = wl.op(i)
            dt = time.perf_counter() - t0
            err = check()
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op
            dt, n, err = time.perf_counter() - t0, 0, f"op {i} ({kind}) raised {e!r}"
        if err:
            failed += 1
            errors.append(err)
        return dt, n, kind

    first_op = one_op(0)[0]
    marks.append(("cold_op", time.perf_counter()))
    warmup = wl.warmup_ops()
    for i in range(1, 1 + warmup):
        one_op(i)
    marks.append(("warmup", time.perf_counter()))
    retained_mb = _retained_mb(spark)
    worker_cpu0 = python_worker_cpu_s(jvm_pid)
    tracer.enabled = trace
    i = 1 + warmup
    t_start = time.perf_counter()
    while True:
        t_cycle = time.perf_counter()
        for _ in range(cycle):
            dt, n, kind = one_op(i)
            durations.append(dt)
            items += n
            by_kind.setdefault(kind, []).append(dt)
            i += 1
        now = time.perf_counter()
        if now - t_start + (now - t_cycle) > seconds or i + cycle > wl.max_ops():
            break
    marks.append(("measured", time.perf_counter()))
    tracer.enabled = False
    worker_cpu = python_worker_cpu_s(jvm_pid) - worker_cpu0
    peak_rss_kb = _proc_status_kb("self", "VmHWM") + _proc_status_kb(jvm_pid, "VmHWM")

    result = {
        "workload": workload, "seed": seed, "cpus": _cpus(), "size": size,
        "ops": len(durations), "warmup_ops": warmup, "attempted": attempted, "failed": failed,
        "errors": errors[:10], "items": wl.items,
    }
    result["e2e"] = {
        "setup_s": statistics.median(setups),
        "first_op_s": first_op,
        "op_p50_s": typical_op_s(by_kind),
        "items_per_s": items / sum(durations),
        "retained_mb": retained_mb,
    }
    extra = {
        "setup_runs_s": setups,
        "op_s_by_kind": {k: [round(x, 3) for x in v] for k, v in by_kind.items()},
        "op_failed_ratio": failed / attempted,
        "peak_rss_mb": peak_rss_kb / 1024,
        "stored_bytes_per_input_byte": wl.stored_bytes_per_input_byte(),
    }
    # the highest percentile with at least 10 samples beyond it: nearest
    # rank n - 10 of the sorted durations
    if len(durations) >= 20:
        n = len(durations)
        extra["op_tail_s"] = {"percentile": round(100 * (n - 10) / n, 1),
                              "value": sorted(durations)[n - 11]}
    result["extra"] = extra

    if trace:
        from bench import _stage_metrics

        tr.drain_listener_bus(spark)
        jobs = tr.rest_get(spark, "jobs")
        stages = _stage_metrics(spark) or []
        executors = tr.rest_get(spark, "executors")
        rdds = tr.rest_get(spark, "storage/rdd")
        spans = tracer.spans
        layer = tr.layer_metrics(spans, jobs, stages, traced_spans(workload), HEAVY_SPANS)
        op_windows = [(s["t0"], s["t1"]) for s in spans if s["parent"] is None]
        for k, v in listener.totals_ms(op_windows).items():
            layer[f"catalyst.{k}_ms"] = v / len(op_windows)  # per traced op
        overhead = tracing_overhead_pct(workload, size, by_kind)
        if overhead is None:
            print("# no untraced run kept yet: tracing.overhead_pct reads 0", file=sys.stderr)
        layer.update({
            "session.start_s": session_start,
            "session.gc_s": sum(e.get("totalGCTime", 0) for e in executors) / 1e3,
            "session.cached_rdds_end": len(rdds),
            "session.storage_mb_end": sum(
                r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 1e6,
            "python_workers.cpu_s": worker_cpu / len(durations),  # per measured op
            "tracing.overhead_pct": overhead or 0.0,
            "tracing.child_coverage": tr.child_coverage(spans),
            "run.cpu_over_run": tr.run_cpu_over_run(stages) or 0.0,
        })
        if workload == "stream_ingest":
            layer.update(tr.streaming_metrics(wl.progress, len(op_windows)))
        selfs = tr.self_seconds(spans)
        result["layer"] = layer
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{workload}-seed{seed}.json"), "w") as f:
            json.dump({"spans": [dict(s, self_s=selfs[s["id"]]) for s in spans],
                       "layer": layer}, f)
    else:
        _keep_untraced(workload, size, by_kind)

    stop_jvm(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    marks.append(("end", time.perf_counter()))
    result["extra"]["phase_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "schemamap_spark")):
        _fail(f"no schemamap_spark package under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import E2E_UNITS, WORKLOADS, per_layer_units

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.update({"SPARK_GRAFT_CPUS": str(_cpus()), "TZ": "UTC",
                       "TMPDIR": local, "SPARK_LOCAL_DIRS": local})
    time.tzset()

    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(f"# {res['workload']} seed={res['seed']} size={res['size']} cpus={res['cpus']} "
          f"ops={res['ops']} (+1 cold, +{res['warmup_ops']} warm-up) "
          f"attempted={res['attempted']} failed={res['failed']} items={res['items']}")
    for k, v in res["e2e"].items():
        print(f"#   {k} = {v:.6g} {E2E_UNITS[k]}")
    for k, v in res["extra"].items():
        print(f"#   {k} = {v}")
    for e in res["errors"]:
        print(f"#   CHECK FAILED: {e}")
    if args.trace:
        metrics, units = res["layer"], per_layer_units(args.workload)
    else:
        metrics, units = res["e2e"], E2E_UNITS
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
