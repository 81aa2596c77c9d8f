"""Tests of the benchmark's own metric code (no Spark needed):

  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from perfbench.measure import (
    CLK_TCK, Execution, Op, OpRecord, ProcStat, parse_metric_value, parse_proc_stat,
    TreeCpu, parse_task_stat, peak_rss_kib, read_all_stats, run_rounds, span_coverage, sum_executions,
    tail_rank, timing_summary, tree_cpu_seconds, tree_peak_rss_bytes,
)
from perfbench.run import per_layer


@pytest.mark.parametrize("n, rank", [(21, 10), (22, 11), (23, 12), (100, 89)])
def test_tail_rank_keeps_ten_samples_beyond(n, rank):
    assert tail_rank(n) == rank
    assert n - 1 - rank == 10


@pytest.mark.parametrize("n", [1, 2, 8, 13, 20])
def test_too_few_samples_give_no_tail(n):
    assert tail_rank(n) is None
    s = timing_summary([float(i) for i in range(n)])
    assert s["tail"] is None and s["tail_pct"] is None and s["n"] == n


@pytest.mark.parametrize("n", [21, 22, 24, 31, 40, 100])
def test_tail_is_never_below_the_median(n):
    """Even n included: statistics.median interpolates between the two
    middle samples, and the tail may not sit below it."""
    s = timing_summary([float(i) ** 2 for i in range(n, 0, -1)])
    assert s["tail"] >= s["p50"]


def test_timing_summary_reports_tail_percentile_and_count():
    s = timing_summary([float(i) for i in range(100, 0, -1)])
    assert s == {"p50": 50.5, "tail": 90.0, "tail_pct": 90.0, "n": 100}


def test_parse_proc_stat_handles_spaces_and_parentheses_in_the_name():
    fields = ["S", "77"] + ["0"] * 9 + ["100", "20", "5", "3"] + ["0"] * 6 + ["250"]
    st = parse_proc_stat("4242 (py (worker) 1) " + " ".join(fields) + " 0 0\n")
    assert st == ProcStat(ppid=77, cpu_ticks=128)


def test_tree_cpu_sums_descendants_only():
    stats = {
        10: ProcStat(1, 100),
        11: ProcStat(10, 40),  # child
        12: ProcStat(11, 7),  # grandchild
        20: ProcStat(1, 999),  # not ours
        21: ProcStat(20, 999),
    }
    assert tree_cpu_seconds(10, stats) == pytest.approx(147 / CLK_TCK)
    assert tree_cpu_seconds(11, stats) == pytest.approx(47 / CLK_TCK)


_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"


def test_jit_compiler_threads_are_told_apart():
    fields = ["S", "77"] + ["0"] * 9 + ["120", "30", "5", "3"] + ["0"] * 7
    assert parse_task_stat("4243 (C2 CompilerThre) " + " ".join(fields)) == ("C2 CompilerThre", 150)
    assert parse_task_stat("4244 (Executor (task) 1) " + " ".join(fields))[0] == "Executor (task) 1"
    total, jit = TreeCpu()()  # no JVM in this tree
    assert jit == 0.0 and total >= tree_cpu_seconds(os.getpid(), read_all_stats()) - 0.05


def test_tree_cpu_counts_a_grandchild_its_parent_already_reaped():
    """The child runs a CPU-burning grandchild to completion (so it is
    reaped and only the child's cutime holds its CPU), then sleeps; the
    tree sum seen from here must include the grandchild's 0.4 s."""
    child_code = (
        "import subprocess, sys, time\n"
        f"subprocess.run([sys.executable, '-c', {_BURN!r}], check=True)\n"
        "print('reaped', flush=True)\n"
        "time.sleep(30)\n"
    )
    before = tree_cpu_seconds(os.getpid(), read_all_stats())
    child = subprocess.Popen([sys.executable, "-c", child_code], stdout=subprocess.PIPE,
                             text=True)
    try:
        assert child.stdout.readline().strip() == "reaped"
        during = tree_cpu_seconds(os.getpid(), read_all_stats())
        assert child.pid in read_all_stats()
    finally:
        child.kill()
        child.wait(timeout=10)
    assert during - before >= 0.35
    # once we reap the child, its total moves into our own cutime
    after = tree_cpu_seconds(os.getpid(), read_all_stats())
    assert after - before >= 0.35


def test_failures_are_counted_and_the_loop_goes_on():
    def boom(clock):
        raise RuntimeError("job aborted")

    ops = [Op("good", 10, lambda c: True), Op("boom", 10, boom),
           Op("wrong", 10, lambda c: False)]
    recs = run_rounds(lambda i: ops, seconds=0, alive=lambda: True)
    assert [(r.kind, r.ok) for r in recs] == [("good", True), ("boom", False), ("wrong", False)]


def test_the_loop_runs_whole_rounds_until_seconds_have_passed():
    ops = [Op("a", 1, lambda c: True), Op("b", 1, lambda c: True), Op("c", 1, lambda c: True)]
    ticks = iter(range(1000))

    def cpu():
        t = next(ticks)
        return 3 * t, t

    recs = run_rounds(lambda i: ops, seconds=0, alive=lambda: True, cpu=cpu)
    assert [r.kind for r in recs] == ["a", "b", "c"]
    assert [r.cpu_s for r in recs] == [3, 3, 3]  # charged start to next start
    assert [r.jit_cpu_s for r in recs] == [1, 1, 1]
    slow = [Op("a", 1, lambda c: time.sleep(0.03) or True), Op("b", 1, lambda c: True),
            Op("c", 1, lambda c: True)]
    recs = run_rounds(lambda i: slow, seconds=0.1, alive=lambda: True)
    assert len(recs) > 3 and len(recs) % 3 == 0  # never stops mid-round
    assert [r.round for r in recs] == [i // 3 for i in range(len(recs))]
    recs = run_rounds(lambda i: ops, seconds=0, alive=lambda: True, min_rounds=2)
    assert [r.round for r in recs] == [0, 0, 0, 1, 1, 1]


def test_a_dead_engine_ends_the_loop_after_one_failed_op():
    def killed(clock):
        raise ConnectionError("JVM gone")

    ops = [Op("good", 1, lambda c: True), Op("killed", 1, killed), Op("never", 1, lambda c: True)]
    t0 = time.perf_counter()
    recs = run_rounds(lambda i: ops, seconds=60, alive=lambda: False)
    assert time.perf_counter() - t0 < 5
    assert [(r.kind, r.ok) for r in recs] == [("good", True), ("killed", False)]


@pytest.mark.parametrize("text, value", [
    ("4,500", 4500.0),
    ("371 ms", 0.371),
    ("1.7 s", 1.7),
    ("1.5 m", 90.0),
    ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, 0.2 MiB, 0.9 MiB "
     "(stage 3.0: task 7))", 1.5 * 2**20),
])
def test_parse_metric_value(text, value):
    assert parse_metric_value(text) == pytest.approx(value)


def _execution(eid, exchange_bytes, python_s, jobs):
    return Execution(eid, [
        ("Scan parquet ", "size of files read", "2.0 KiB"),
        ("Scan parquet ", "number of output rows", "1,000"),
        ("WholeStageCodegen (1)", "duration", "20 ms"),
        ("Exchange", "shuffle bytes written", f"{exchange_bytes} B"),
        ("Exchange", "shuffle write time", "5 ms"),
        ("BroadcastExchange", "data size", "1.0 KiB"),
        ("MapInPandas", "time to run Python workers", f"{python_s} s"),
        ("MapInPandas", "number of output rows", "7"),  # not a layer metric
        ("SortMergeJoin", "number of output rows", "300"),
    ], jobs=jobs, stages=jobs + 1, tasks=4 * jobs)


def test_spark_counts_are_summed_over_every_execution_of_an_op():
    """One knn_tiled op starts several SQL executions; reading only
    the last one would undercount."""
    out = sum_executions([_execution(1, 100, 0.5, 1), _execution(2, 200, 1.0, 2),
                          _execution(3, 300, 0.25, 1)])
    assert out["spark.sql_executions"] == 3
    assert (out["spark.jobs"], out["spark.stages"], out["spark.tasks"]) == (4, 7, 16)
    assert out["spark.exchange.bytes"] == 600
    assert out["spark.exchange.write_s"] == pytest.approx(0.015)
    assert out["spark.python.total_s"] == pytest.approx(1.75)
    assert out["spark.scan.bytes"] == 3 * 2048 and out["spark.scan.rows"] == 3000
    assert out["spark.codegen.pipeline_s"] == pytest.approx(0.06)
    assert out["spark.broadcast.bytes"] == 3 * 1024
    assert out["spark.join.rows"] == 900
    assert out["spark.python.boot_s"] == 0.0


def test_span_coverage_counts_overlaps_once():
    spans = [("a", 0.0, 0.5), ("b", 0.4, 0.9), ("c", 0.6, 0.7)]
    assert span_coverage(1.0, spans) == pytest.approx(0.9)


def test_peak_rss_reads_vmhwm():
    assert peak_rss_kib("Name:\tjava\nVmPeak:\t 900 kB\nVmHWM:\t  4321 kB\nVmRSS:\t 12 kB\n") == 4321
    assert peak_rss_kib("Name:\tkthreadd\n") == 0
    me = read_all_stats()
    assert tree_peak_rss_bytes(os.getpid(), me) >= 1024 * peak_rss_kib(
        open(f"/proc/{os.getpid()}/status").read()) > 0


def test_per_layer_skips_a_failed_knn_op():
    """A knn_tiled op that raised never filled its counts; the traced
    run must still report, from the ops that did succeed."""
    zeros = sum_executions([])
    good = OpRecord("knn_tiled", 2.0, 100, True, [("spatial.knn_tiled", 0.0, 0.5),
                                                  ("exec", 0.5, 2.0)],
                    counts={"spatial.knn_tiled.escalation_rounds": 2,
                            "spatial.knn_tiled.unproven_pass0": 5,
                            "spatial.knn_tiled.residual_rows": 7,
                            "spatial.knn_tiled.qk": 10},
                    layer={**zeros, "spark.join.rows": 40.0})
    failed = OpRecord("knn_tiled", 1.0, 100, False, [("spatial.knn_tiled", 0.0, 1.0)],
                      layer=zeros)
    m = per_layer(object(), [good, failed], overhead_s=0.2, steal=0.01)
    assert m["spatial.knn_tiled.escalation_rounds"]["value"] == 2
    assert m["spatial.knn_tiled.join_rows_per_qk"]["value"] == 4.0
    assert m["trace.overhead_s_per_op"]["value"] == pytest.approx(0.1)
