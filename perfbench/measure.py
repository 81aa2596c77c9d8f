"""Measurement helpers of the benchmark: tail percentiles, CPU and peak
RSS of the benchmark's process tree, host steal, the closed-loop op runner and
the per-op sums of the counts Spark keeps for each SQL execution.

Everything here is plain Python over /proc and plain data, so the unit
tests in test_measure.py run without Spark.
"""

from __future__ import annotations

import os
import re
import statistics
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
TAIL_BEYOND = 10
# HotSpot's JIT compiler threads, as /proc shows their names (cut to 15
# characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


# --- timings ----------------------------------------------------------------


def tail_rank(n: int) -> int | None:
    """Index into the sorted samples of the highest order statistic with
    at least TAIL_BEYOND samples beyond it, never below the median; None
    when fewer than 2*TAIL_BEYOND+1 samples leave no such statistic
    above the median."""
    if n < 1:
        raise ValueError("no samples")
    if n < 2 * TAIL_BEYOND + 1:
        return None
    return max(n - 1 - TAIL_BEYOND, n // 2)


def timing_summary(samples: list[float]) -> dict:
    """Median, tail (see tail_rank; None with too few samples), the
    tail's percentile and the sample count."""
    xs = sorted(samples)
    i = tail_rank(len(xs))
    return {
        "p50": statistics.median(xs),
        "tail": None if i is None else xs[i],
        "tail_pct": None if i is None else 100.0 * (i + 1) / len(xs),
        "n": len(xs),
    }


# --- the process tree -------------------------------------------------------


@dataclass(frozen=True)
class ProcStat:
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime


def parse_proc_stat(text: str) -> ProcStat:
    """Parse one /proc/<pid>/stat line. The command name sits in
    parentheses and may itself hold spaces or parentheses, so the fields
    are split after the last ')'."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); fields 4 and 14-17 of proc(5)
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ProcStat(ppid=int(rest[1]), cpu_ticks=utime + stime + cutime + cstime)


def read_all_stats() -> dict[int, ProcStat]:
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stats[int(name)] = parse_proc_stat(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while we listed
    return stats


def tree_pids(root: int, stats: dict[int, ProcStat]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st.ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int, stats: dict[int, ProcStat]) -> float:
    """CPU seconds of `root` and every live descendant, including the
    children each of them has already reaped (cutime/cstime)."""
    return sum(stats[p].cpu_ticks for p in tree_pids(root, stats)) / CLK_TCK


def parse_task_stat(text: str) -> tuple[str, int]:
    """(thread name, utime + stime) from a /proc/<pid>/task/<tid>/stat line."""
    rest = text[text.rindex(")") + 2:].split()
    return text[text.index("(") + 1:text.rindex(")")], int(rest[11]) + int(rest[12])


class TreeCpu:
    """Reads the CPU seconds of this process tree (as tree_cpu_seconds)
    and the part of them the JVM's JIT compiler threads have spent. An
    idle compiler thread may exit; its last reading is kept, so the JIT
    part never goes down."""

    def __init__(self):
        self.root = os.getpid()
        self._jit_ticks: dict[tuple[int, str], int] = {}

    def __call__(self) -> tuple[float, float]:
        """(tree CPU seconds, JIT compiler CPU seconds) so far."""
        stats = read_all_stats()
        pids = tree_pids(self.root, stats)
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except (FileNotFoundError, ProcessLookupError):
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        name, ticks = parse_task_stat(f.read())
                except (FileNotFoundError, ProcessLookupError):
                    continue
                if name.startswith(JIT_THREADS):
                    key = (pid, tid)
                    self._jit_ticks[key] = max(self._jit_ticks.get(key, 0), ticks)
        return tree_cpu_seconds(self.root, stats), sum(self._jit_ticks.values()) / CLK_TCK


def peak_rss_kib(status: str) -> int:
    """VmHWM (the process's peak RSS) from a /proc/<pid>/status text."""
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0  # kernel threads have no memory map


def tree_peak_rss_bytes(root: int, stats: dict[int, ProcStat]) -> int:
    """Sum of the peak RSS of `root` and its live descendants: an upper
    bound of the tree's peak, read once, while the tree is still up."""
    total = 0
    for pid in tree_pids(root, stats):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += peak_rss_kib(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total * 1024


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


class Window:
    """CPU of this process tree (of which JIT compiler CPU), host steal
    and wall time over an interval."""

    def __init__(self, cpu: TreeCpu):
        self._cpu = cpu

    def __enter__(self) -> Window:
        self._steal0, self._total0 = host_cpu_ticks()
        self._cpu0, self._jit0 = self._cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        cpu, jit = self._cpu()
        self.cpu_s, self.jit_cpu_s = cpu - self._cpu0, jit - self._jit0
        steal, total = host_cpu_ticks()
        self.steal_share = (steal - self._steal0) / max(1, total - self._total0)


# --- closed-loop ops --------------------------------------------------------


@dataclass
class OpRecord:
    kind: str
    wall_s: float
    rows: int
    ok: bool
    spans: list = field(default_factory=list)  # (name, start_s, end_s)
    cpu_s: float = 0.0  # process-tree CPU from this op's start to the next one's
    jit_cpu_s: float = 0.0  # the part of cpu_s the JVM's JIT compiler threads spent
    counts: dict = field(default_factory=dict)  # counts the op read from the program
    layer: dict = field(default_factory=dict)  # per-op Spark counts (traced run)
    round: int = 0  # index of the round of the timed loop the op ran in


class SpanClock:
    """Records the spans of one op: each call into the program is
    wrapped in `with clock.span("module.function"):`."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = {}

    def span(self, name: str):
        clock = self

        class _Span:
            def __enter__(self):
                self.start = time.perf_counter() - clock.t0

            def __exit__(self, *exc):
                clock.spans.append((name, self.start, time.perf_counter() - clock.t0))

        return _Span()


def span_coverage(wall_s: float, spans: list[tuple[str, float, float]]) -> float:
    """Share of [0, wall_s] covered by the union of the spans."""
    covered, end = 0.0, 0.0
    for _, s, e in sorted(spans, key=lambda x: x[1]):
        s = max(s, end)
        if e > s:
            covered += e - s
            end = e
    return covered / wall_s if wall_s > 0 else 1.0


@dataclass
class Op:
    """One op of a workload: `fn(clock)` runs it and returns True when its
    output checked out; `rows` is the input rows it consumes."""

    kind: str
    rows: int
    fn: Callable[[SpanClock], bool]


def run_op(op: Op, before: Callable[[], None] | None = None,
           after: Callable[[OpRecord], None] | None = None) -> OpRecord:
    """Run one op; an exception (a failed Spark job, a killed JVM) makes a
    failed record instead of ending the run."""
    if before is not None:
        before()
    clock = SpanClock()
    try:
        ok = bool(op.fn(clock))
    except Exception:  # noqa: BLE001 - every failure is counted, not fatal
        traceback.print_exc()
        ok = False
    rec = OpRecord(op.kind, time.perf_counter() - clock.t0, op.rows, ok, clock.spans,
                   counts=clock.counts)
    if after is not None:
        after(rec)
    return rec


def run_rounds(rounds: Callable[[int], list[Op]], seconds: float, alive: Callable[[], bool],
               before=None, after=None,
               cpu: Callable[[], tuple[float, float]] | None = None,
               min_rounds: int = 1) -> list[OpRecord]:
    """Closed loop with one client: each op starts after the previous one
    returned. Runs whole rounds, at least `min_rounds`, until `seconds`
    have passed, so every op kind runs equally often and per-row ratios
    do not hang on which kinds a cut round would have reached. Stops early when `alive()` says the
    engine is gone, so a killed JVM costs one failed op, not a run of
    instant failures. With `cpu` (a TreeCpu), each record gets the CPU seconds,
    and the JIT compiler's part of them, from its start to the next op's
    start, so work an op leaves running is charged to it."""
    records: list[OpRecord] = []
    t0 = time.perf_counter()
    c0, j0 = cpu() if cpu else (0.0, 0.0)
    i = 0
    while True:
        ops = rounds(i)
        for op in ops:
            rec = run_op(op, before, after)
            rec.round = i
            if cpu:
                c1, j1 = cpu()
                rec.cpu_s, rec.jit_cpu_s, c0, j0 = c1 - c0, j1 - j0, c1, j1
            records.append(rec)
            if not rec.ok and not alive():
                return records
        i += 1
        if i >= min_rounds and time.perf_counter() - t0 >= seconds:
            return records


# --- Spark SQL execution counts --------------------------------------------

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """Spark's rendered SQL metric (``'4,500'``, ``'371 ms'``,
    ``'total (min, med, max ...)\\n1.2 MiB (...)'``) in base units:
    a count, seconds or bytes. The total is on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


# (node-name prefix or None for any node, metric name) -> layer metric
LAYER_OF = {
    ("Scan", "size of files read"): "spark.scan.bytes",
    ("Scan", "number of output rows"): "spark.scan.rows",
    ("WholeStageCodegen", "duration"): "spark.codegen.pipeline_s",
    ("Exchange", "shuffle bytes written"): "spark.exchange.bytes",
    ("Exchange", "shuffle write time"): "spark.exchange.write_s",
    ("Exchange", "fetch wait time"): "spark.exchange.fetch_wait_s",
    ("BroadcastExchange", "data size"): "spark.broadcast.bytes",
    ("BroadcastExchange", "time to build"): "spark.broadcast.build_s",
    (None, "time to start Python workers"): "spark.python.boot_s",
    (None, "time to initialize Python workers"): "spark.python.init_s",
    (None, "time to run Python workers"): "spark.python.total_s",
    (None, "data sent to Python workers"): "spark.python.bytes_sent",
    (None, "data returned from Python workers"): "spark.python.bytes_received",
}
SPARK_LAYERS = sorted(set(LAYER_OF.values()) | {
    "spark.sql_executions", "spark.jobs", "spark.stages", "spark.tasks", "spark.join.rows",
})


def layer_of(node: str, metric: str) -> str | None:
    if "Join" in node and metric == "number of output rows":
        return "spark.join.rows"
    for (prefix, name), layer in LAYER_OF.items():
        if name == metric and (prefix is None or node.split(" ")[0] == prefix):
            return layer
    return None


@dataclass
class Execution:
    """What the SQL status store keeps for one SQL execution."""

    execution_id: int
    metrics: list[tuple[str, str, str]]  # (node name, metric name, rendered value)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


def sum_executions(executions: list[Execution]) -> dict[str, float]:
    """Per-op layer counts: the sum over every SQL execution the op
    started (a knn_tiled op starts several)."""
    out = dict.fromkeys(SPARK_LAYERS, 0.0)
    for ex in executions:
        out["spark.sql_executions"] += 1
        out["spark.jobs"] += ex.jobs
        out["spark.stages"] += ex.stages
        out["spark.tasks"] += ex.tasks
        for node, metric, value in ex.metrics:
            layer = layer_of(node, metric)
            if layer is not None:
                out[layer] += parse_metric_value(value)
    return out
