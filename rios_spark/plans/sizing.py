"""Input sizing and width decisions for every operator — the analogue
of RIOS choosing block size and overlap in one place for all kernels.

Every "how big is this input, and how wide should it run" question
the engine asks is answered here:

- ``footer_count`` / ``fast_count``: row counts proven from parquet
  footers, driver-side, without a Spark job;
- ``ensure_parallelism`` / ``fan_out``: round-robin widening of a scan
  that is narrower than the cluster before per-row-heavy map work;
- ``broadcast_gated``: broadcast hints on scale-growing dimensions;
- ``knn_branch``: the one kNN dispatch rule (brute / scan / tiled) of
  ``spatial.knn_join`` and everything built on it. It replicates the
  smaller side: a query side no larger than the data side is broadcast
  past one data scan while query x data fits ``KNN_SCAN_PAIR_BUDGET``;
  a data side smaller than the query side is broadcast to the brute
  kernel while query x data fits ``KNN_BRUTE_PAIR_BUDGET``; the rest
  takes the tiled phases;
- ``KNN_BROADCAST_ROWS``: the data-side bound of a streaming kNN
  query side, which only the broadcast brute kernel can serve;
- ``ANN_BROADCAST_ROWS``: the data-side row gate of the cosine top-k
  broadcast kernel;
- ``IVF_DRIVER_PROBE_ROWS``: the query-batch gate of the driver-side
  IVF probe;
- ``GEMM_BUDGET``: the per-task distance / similarity matrix cap;
- ``PIP_EXPR_MAX_VERTICES``: the polygon-set size up to which the
  point-in-polygon test is a JVM expression, not the Arrow kernel.

One rule for a count the footers cannot prove: unknown never means
small. The fan-out widens a narrow scan to full width, the kNN gate
takes one bounded count that settles both pair budgets, and streaming
frames pass through untouched (the fan-out leaves them as they are;
the kNN gate keeps them on the broadcast brute kernel, the one plan
that maps over a stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver-side footer reads are ~ms each; past this many files a
# distributed count() is cheaper than a serial driver loop.
FAST_COUNT_MAX_FILES = 256

# Below this many rows per task, fan-out costs more than it buys: each
# extra partition spins a python worker (~10 ms) while a relational or
# kNN kernel's per-row cost is microseconds.
ROWS_PER_TASK = 2048

# Rows per task for the per-document text kernels (fingerprints, token
# explode + md5): ~256 docs (~200 KB of text) keeps the python-worker
# spin-up well under each task's work while letting a 50k-doc scan
# reach full width.
KERNEL_ROWS_PER_TASK = 256

# Row gate for broadcast hints on SCALE-GROWING dims: nation/region are
# bounded (25/5 rows — broadcast is right forever), but customer/
# supplier/orders grow with sf, and a forced F.broadcast at 100x sf is
# a multi-GB build the driver cannot hold. Slim dim projections are a
# few tens of bytes/row, so 4M rows ~ 100-200 MB framed — inside the
# "few hundred MB is fine" broadcast envelope and far under the 8 GB /
# 512M-row hard cap. Above the gate the hint is dropped and AQE picks
# the strategy from observed sizes.
BROADCAST_ROW_GATE = 4_000_000

# Pair budget of the broadcast brute kNN kernel, which answers a query
# side LARGER than the data side (the data is the small side, so it is
# the one replicated; CAMEL hash table, EDBT'26). Above this many query
# x data distance evaluations the all-pairs compute exceeds the tiled
# path's join+guard cost even when the data broadcasts comfortably.
# With the GEMM candidate kernel the brute path measured ~2.5-3 s at
# 1.5e9 pairs (sf1.0) vs ~16 s for a cold tiled pass, so the crossover
# sits well above bench scale; the gate exists for true scale (e.g.
# 15M x 1M = 1.5e13 pairs), where all-pairs is catastrophic no matter
# how fast the per-pair kernel is. Since the query side is the larger
# one, the data side under this budget is < sqrt(4e9) = 63,246 rows —
# a few MB of broadcast payload, so no separate data-side row gate.
KNN_BRUTE_PAIR_BUDGET = 4_000_000_000

# Pair budget of the small-batch scan, which answers a query side no
# larger than the data side: up to this many query x data pairs the
# queries are broadcast and the data streams once through the exact
# per-task top-k kernel, instead of exploding the data side into the
# k-ring candidate join. Measured per call on a 4-vCPU host (k=10,
# res 7, N=150k; process-tree CPU seconds, scan vs tiled, 2-3 runs):
#   Zipf pages   Q=100  3.5 vs 8.9;      Q=1k  3.5-4.4 vs 14.0-14.2;
#                Q=3k   6.7 vs 37.8;     Q=10k 18-20 vs 117-132;
#   uniform      Q=100  1.1-1.4 vs 3.8-4.9; Q=1k 2.8-3.1 vs 4.3-4.5;
#                Q=3k   7.4-8.4 vs 6.5-9.2; Q=10k 19-20 vs 8.1-11.5.
# The scan costs ~Q x N whatever the data; the tiled path grows with
# the candidates per query, so hot tiles favour the scan far past 1e9
# pairs while uniform data crosses over at ~3-4.5e8 (Q=2-3k). 1e8
# keeps the scan on the winning side of both. KNN_BRUTE_PAIR_BUDGET
# (4e9) is no stand-in: at 1.5e9 uniform pairs the scan costs 2x.
KNN_SCAN_PAIR_BUDGET = 100_000_000

# Data-side row bound of a STREAMING query side: 2M rows x 3 float64
# (id, lat, lon) = ~48 MB per executor. A stream can only map through
# the broadcast brute kernel (the scan collects its queries, the tiled
# phases persist and run actions), so above this bound knn_branch
# raises instead of planning a broadcast it cannot afford. Batch
# frames never read it: KNN_BRUTE_PAIR_BUDGET already bounds their
# broadcast data side.
KNN_BROADCAST_ROWS = 2_000_000

# Data-side row gate of cosine_topk's broadcast GEMM path: payload =
# rows x dim x 8 B, so 500k rows x 128 dims = ~512 MB worst case. Above
# it the exact IVF path (every list probed) runs as a cogroup join.
ANN_BROADCAST_ROWS = 500_000

# Query-batch size up to which the IVF searches probe driver-side from
# ONE bounded collect (rows x dim x 4 B — 10k x 128d = ~5 MB) instead of
# a distributed probe stage + persist + pruning-collect job. The
# steady-state micro-batch serving shape.
IVF_DRIVER_PROBE_ROWS = 10_000

# Max elements in any one distance or similarity matrix (queries x data)
# built inside a task. 8M float64 = 64 MB per temporary; haversine
# allocates ~6 temporaries of that shape, so peak per task stays well
# under 1 GB even with 32 concurrent tasks. Without the cap a 65k-row
# Arrow batch against a 2M-point data side would materialize a ~1 TB
# matrix in one task. Kernels read it as ``sizing.GEMM_BUDGET`` at call
# time.
GEMM_BUDGET = 8_000_000

# Total polygon vertices up to which spatial.pip_join runs the exact
# ray cast as one JVM expression; past it the Arrow-batched numpy
# kernel runs. Past the gate the kernel is the cheaper one: over 150k
# pages on a 4-vCPU host (process-tree CPU seconds, same rows on both)
# 4,000 vertices cost 1.9 on the kernel vs 2.5-3.2 as the expression,
# and 20,000 vertices 1.3-1.5 vs 1.7-2.0.
PIP_EXPR_MAX_VERTICES = 2048


def footer_count(df: DataFrame) -> int | None:
    """Row count from parquet footers, or None when it cannot be proven
    safe. Only a plan that is count-preserving down to a bare file scan
    qualifies (Project/SubqueryAlias wrappers only — a Filter/Join/
    Aggregate changes multiplicity); only local parquet files are read
    (remote stores fall back to the distributed count)."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            name = node.getClass().getSimpleName()
            if name in ("Project", "SubqueryAlias"):
                node = node.children().head()
            elif name.startswith("LogicalRelation"):
                files = df.inputFiles()
                if not files or len(files) > FAST_COUNT_MAX_FILES:
                    return None
                import pyarrow.parquet as pq

                total = 0
                for f in files:
                    if not f.startswith("file:") or not f.endswith(".parquet"):
                        return None
                    path = f[7:] if f.startswith("file://") else f[5:]
                    total += pq.ParquetFile(path).metadata.num_rows
                return total
            else:
                return None
    except Exception:
        return None


def fast_count(df: DataFrame) -> int:
    """Count for DISPATCH decisions: a bare parquet scan answers from
    file footers driver-side; anything else runs the normal distributed
    count. Always exact — never an estimate."""
    n = footer_count(df)
    return df.count() if n is None else n


def ensure_parallelism(
    df: DataFrame, rows_hint: int | None = None, rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """Repartition a DataFrame that is under-parallelized for a
    per-row-heavy map stage. Parquet cannot split below row-group
    granularity, so a small-SF table often arrives as ONE scan
    partition and a mapInPandas kernel runs on one core; at production
    scale the input already has many partitions and this is a no-op —
    the round-trip shuffle only ever happens on inputs small enough
    that it is cheap.

    rows_hint (a row count or upper bound) sizes the fan-out to
    ~rows_per_task rows per task, so tiny frames stay put: a 20-row
    query frame repartitioned to 32 partitions pays ~0.3 s spinning 32
    python workers for microseconds of kernel work. Without a hint the
    target is full width. Streaming frames pass through untouched."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if rows_hint is not None:
        target = min(target, max(1, rows_hint // rows_per_task))
        if target <= 1:
            return df
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def fan_out(
    df: DataFrame, base: DataFrame | None = None, rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """ensure_parallelism sized by the footer count of `base` (default
    `df` itself). `base` is the unfiltered scan a filtered `df` came
    from: its footer count is a free upper bound on `df`."""
    return ensure_parallelism(
        df, footer_count(df if base is None else base), rows_per_task
    )


def broadcast_gated(df: DataFrame, base: DataFrame) -> DataFrame:
    """Broadcast-hint `df` (a filtered/projected dim) only when its
    BASE table's row count clears BROADCAST_ROW_GATE. The base count is
    an upper bound on the filtered side; for a bare parquet scan it is a
    free footer read, so the gate launches no counting job inside a
    timed query."""
    return F.broadcast(df) if fast_count(base) <= BROADCAST_ROW_GATE else df


# The largest bounded-count cap: DataFrame.limit takes a JVM int, so
# cap + 1 must stay <= 2^31 - 1. A budget / N ratio at or past it (a
# raised pair budget against a tiny data side) counts at most this far.
_LIMIT_MAX = 2**31 - 2


def knn_branch(
    queries: DataFrame, n_data: int, k: int, ring: int | str = "auto"
) -> tuple[str, int | None]:
    """(branch, query rows): the one kNN dispatch rule.

    - a streaming query side: "brute" (the only plan that maps over a
      stream), or ValueError past KNN_BROADCAST_ROWS data rows;
    - an explicit ring: "tiled", uncounted;
    - k >= n_data: "brute" (every query's answer is all data rows);
    - Q <= N and Q x N <= KNN_SCAN_PAIR_BUDGET: "scan";
    - Q > N and Q x N <= KNN_BRUTE_PAIR_BUDGET: "brute";
    - anything else: "tiled".

    Q is the footer count of `queries`, else ONE bounded count
    queries.limit(cap + 1).count() with cap the largest Q any non-tiled
    branch accepts, so it settles both budgets. A count of cap + 1
    means only "more than cap" and takes "tiled"; cap is clamped below
    the JVM int DataFrame.limit takes (_LIMIT_MAX), where the clamped
    count fails closed the same way. The rows are None when no count
    was needed."""
    if queries.isStreaming:
        if n_data > KNN_BROADCAST_ROWS:
            raise ValueError(
                f"a streaming kNN query side needs the broadcast data side "
                f"(<= sizing.KNN_BROADCAST_ROWS = {KNN_BROADCAST_ROWS} rows); "
                f"got {n_data} data rows"
            )
        return "brute", None
    if ring != "auto":
        return "tiled", None
    q_rows = footer_count(queries)
    if k >= n_data:
        return "brute", q_rows
    brute_cap = KNN_BRUTE_PAIR_BUDGET // n_data
    cap = brute_cap if brute_cap > n_data else min(n_data, KNN_SCAN_PAIR_BUDGET // n_data)
    if q_rows is None:
        if cap == 0:
            return "tiled", None
        cap = min(cap, _LIMIT_MAX)
        q_rows = queries.limit(cap + 1).count()
        if q_rows > cap:
            return "tiled", q_rows
    pairs = q_rows * n_data
    if q_rows <= n_data and pairs <= KNN_SCAN_PAIR_BUDGET:
        return "scan", q_rows
    if q_rows > n_data and pairs <= KNN_BRUTE_PAIR_BUDGET:
        return "brute", q_rows
    return "tiled", q_rows
