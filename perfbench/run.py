"""Benchmark of rios_spark: one closed-loop workload per process.

  python3 perfbench/run.py --workload {query_mix,pages_scale} \
      --seed N --seconds S --trace {0,1}

Run from the repository root. Makes its inputs from --seed under
.perfbench_work/, sets the engine up (Spark session on local[nproc],
inputs materialised, one warm pass over the op kinds; setup_s is the
process-tree CPU seconds of that), then runs whole rounds of ops until
--seconds have passed, checks the outputs and prints diagnostics and,
as the last stdout line, the result as JSON. --trace 0 reports the
end-to-end metrics; --trace 1 also reads Spark's per-execution counts
after every op and reports the per-layer metrics (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import (  # noqa: E402
    CLK_TCK, SPARK_LAYERS, TreeCpu, Window, read_all_stats, run_rounds,
    span_coverage, sum_executions, timing_summary, tree_peak_rss_bytes, tree_pids,
)

# the end-to-end metrics BENCHMARK.json gates; the wall-time and RSS ones
# did not repeat within their bounds on a 4-vCPU host, so they are
# printed in the diagnostics line only (set-up wall time too, as
# session_s, materialise_s and warm_s)
GATED = ("setup_s", "cpu_s_per_mrow", "ok_ops_ratio")
MAX_HEAP_MB = 4096
# spans that force an action (the rest return a lazy plan, after any
# eager gate, collect or persist the call makes)
EXEC_SPANS = {"exec", "sources.write_tiled", "sources.table_info", "plans.Manifest.run_stage"}


def process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start_ticks / CLK_TCK


def driver_heap_mb() -> int:
    """A driver heap well below physical RAM: the engine's 24g default
    lets the kernel kill the JVM on a small host."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(MAX_HEAP_MB, total_kb // 1024 // 4)


def pin_environment(run_dir: str) -> None:
    # Python workers import rios_spark (applyInPandas / mapInPandas)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # keep temporary files of Python and the JVM inside the checkout
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')


def stop_engine(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tree_pids(os.getpid(), read_all_stats()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        for p in left:  # reap our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def span_s(rec, name: str) -> float:
    return sum(e - s for n, s, e in rec.spans if n == name)


def per_layer(workload, recs, overhead_s: float, steal: float) -> dict:
    from perfbench.workloads import MIX_QUERIES

    def calls(name):
        return [span_s(r, name) for r in recs if any(n == name for n, _, _ in r.spans)]

    def exec_of(*kinds):
        return mean(span_s(r, "exec") for r in recs if r.kind in kinds)

    knn = [r for r in recs if r.kind == "knn_tiled" and r.ok]
    m = {
        "op.plan_s": (mean(sum(e - s for n, s, e in r.spans if n not in EXEC_SPANS)
                           for r in recs), "s"),
        "op.exec_s": (mean(sum(e - s for n, s, e in r.spans if n in EXEC_SPANS)
                           for r in recs), "s"),
        **{f"queries.{q}.plan_s": (mean(calls(f"queries.{q}")), "s") for q in MIX_QUERIES},
        "spatial.zonal_stats.plan_s": (mean(calls("spatial.zonal_stats")), "s"),
        "spatial.zonal_stats.exec_s": (exec_of("zonal"), "s"),
        "spatial.knn_tiled.plan_s": (mean(calls("spatial.knn_tiled")), "s"),
        "spatial.knn_tiled.exec_s": (exec_of("knn_tiled"), "s"),
        "plans.adaptive_split.plan_s": (mean(calls("plans.adaptive_split")), "s"),
        "applier.apply.plan_s": (mean(calls("applier.apply")), "s"),
        "applier.apply.exec_s": (mean(calls("sources.write_tiled")), "s"),
        "plans.Manifest.run_stage.s": (mean(calls("plans.Manifest.run_stage")), "s"),
        "sources.read_tiled.s": (mean(calls("sources.read_tiled")), "s"),
        "sources.table_info.s": (mean(calls("sources.table_info")), "s"),
        "sources.write_tiled.bytes_per_row": (
            workload.bytes_per_row() if hasattr(workload, "bytes_per_row") else 0.0, "B"),
    }
    for key in ("escalation_rounds", "unproven_pass0", "residual_rows"):
        m[f"spatial.knn_tiled.{key}"] = (
            mean(r.counts[f"spatial.knn_tiled.{key}"] for r in knn), "count")
    m["spatial.knn_tiled.join_rows_per_qk"] = (
        mean(r.layer["spark.join.rows"] / r.counts["spatial.knn_tiled.qk"] for r in knn), "ratio")
    for layer in SPARK_LAYERS:
        unit = "s" if layer.endswith("_s") else "B" if "bytes" in layer else "count"
        m[layer] = (mean(r.layer[layer] for r in recs), unit)
    m["jvm.jit.cpu_s"] = (mean(r.jit_cpu_s for r in recs), "s")
    m["trace.span_coverage_min"] = (min(span_coverage(r.wall_s, r.spans) for r in recs), "ratio")
    m["trace.overhead_s_per_op"] = (overhead_s / len(recs), "s")
    m["trace.op_p50_s"] = (timing_summary([r.wall_s for r in recs])["p50"], "s")
    m["host.steal_share"] = (steal, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, run_dir: str) -> dict:
    from rios_spark.session import get_spark

    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    cpu = TreeCpu()

    def tree_cpu() -> float:
        return cpu()[0]

    spark = get_spark(f"perfbench_{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    try:
        session_s, session_cpu = process_age_s(), tree_cpu()
        workload = WORKLOADS[args.workload](spark, args.seed)
        t0, c0 = time.perf_counter(), tree_cpu()
        workload.materialise(os.path.join(run_dir, "data"))
        materialise_s, materialise_cpu = time.perf_counter() - t0, tree_cpu() - c0
        t0, c0 = time.perf_counter(), tree_cpu()
        workload.warm()
        warm_s, warm_cpu = time.perf_counter() - t0, tree_cpu() - c0
        # CPU seconds of the process tree from its start to the first timed
        # op, since set-up wall time follows host steal (see perfbench/README.md)
        setup_s = session_cpu + materialise_cpu + warm_cpu

        before = after = None
        overhead = [0.0]
        if args.trace:
            from perfbench.sparkstats import SqlCounts

            counts = SqlCounts(spark)
            mark = [-1]

            def before():
                t = time.perf_counter()
                mark[0] = counts.watermark()
                overhead[0] += time.perf_counter() - t

            def after(rec):
                t = time.perf_counter()
                rec.layer = sum_executions(counts.since(mark[0]))
                overhead[0] += time.perf_counter() - t

        def alive() -> bool:
            try:
                return not spark.sparkContext._jsc.sc().isStopped()
            except Exception:  # noqa: BLE001 - py4j error: the JVM is gone
                return False

        with Window(cpu) as window:
            recs = run_rounds(workload.rounds, args.seconds, alive, before, after, cpu=cpu,
                              min_rounds=workload.gated_rounds)
        peak_rss = tree_peak_rss_bytes(os.getpid(), read_all_stats())  # not the checks
        t0 = time.perf_counter()
        problems = workload.verify() if alive() else ["engine died before verification"]
        verify_s = time.perf_counter() - t0
    finally:
        stop_engine(spark)

    failed = sum(not r.ok for r in recs)
    rows = sum(r.rows for r in recs if r.ok)
    # the gated CPU per row is that of the workload's first gated_rounds
    # rounds: the JIT is still warming, so each later round costs less, and
    # how many rounds fit in --seconds follows host speed (see
    # perfbench/README.md)
    first = [r for r in recs if r.round < workload.gated_rounds]
    first_cpu = sum(r.cpu_s for r in first)
    first_rows = sum(r.rows for r in first if r.ok)
    wall = [r.wall_s for r in recs]
    ts = timing_summary(wall)
    kinds = sorted({r.kind for r in recs})
    end_to_end = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s_per_mrow": {"value": first_cpu / max(first_rows, 1) * 1e6, "unit": "s/Mrow"},
        "rows_per_s": {"value": rows / window.wall_s, "unit": "1/s"},
        "op_p50_s": {"value": ts["p50"], "unit": "s"},
        "op_tail_s": {"value": ts["tail"], "unit": "s", "n": ts["n"]},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MiB"},
        "ok_ops_ratio": {"value": (len(recs) - failed) / len(recs), "unit": "ratio"},
    }
    diagnostics = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(recs), "rounds": recs[-1].round + 1, "op_tail_pct": ts["tail_pct"],
        "ungated": {k: v for k, v in end_to_end.items() if k not in GATED},
        "timed_wall_s": window.wall_s, "timed_cpu_s": window.cpu_s,
        "gated_rounds_cpu_s": first_cpu,
        "timed_jit_cpu_s": window.jit_cpu_s,
        "host_steal_share": window.steal_share, "input_rows": rows,
        "session_s": session_s, "materialise_s": materialise_s,
        "warm_s": warm_s, "session_cpu_s": session_cpu, "materialise_cpu_s": materialise_cpu,
        "warm_cpu_s": warm_cpu, "verify_s": verify_s,
        "op_p50_s_by_kind": {k: statistics.median(r.wall_s for r in recs if r.kind == k)
                             for k in kinds},
        "op_cpu_s_by_kind": {k: statistics.median(r.cpu_s for r in recs if r.kind == k)
                             for k in kinds},
        "problems": problems[:20],
    }
    if args.trace:
        diagnostics["trace_overhead_s"] = overhead[0]
        diagnostics["span_coverage_min"] = min(span_coverage(r.wall_s, r.spans) for r in recs)
        trace_path = os.path.join(os.path.dirname(run_dir),
                                  f"trace_{args.workload}_seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump([{"op": i, "kind": r.kind, "wall_s": r.wall_s, "ok": r.ok,
                        "spans": [{"name": n, "start_s": s, "end_s": e, "parent": "op"}
                                  for n, s, e in r.spans],
                        "counts": r.counts, "spark": r.layer} for i, r in enumerate(recs)],
                      f, indent=1)
        diagnostics["trace_file"] = os.path.relpath(trace_path, ROOT)
    print("diagnostics: " + json.dumps(diagnostics), flush=True)

    if args.trace:
        metrics = per_layer(workload, recs, overhead[0], window.steal_share)
    else:
        metrics = {k: end_to_end[k] for k in GATED}
    return {"correct": not problems and failed == 0, "attempted": len(recs),
            "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "pages_scale"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "rios_spark", "__init__.py")):
        print(f"error: no rios_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}_{os.getpid()}")
    pin_environment(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
