"""SparkSession factory.

Local defaults: `local[$SPARK_GRAFT_CPUS]` and a driver heap of
$SPARK_DRIVER_MEM, else min(24g, half the host's RAM). Every other
setting is the one we would ship to a 1000-executor cluster: AQE on
(runtime skew-join splitting + partition coalescing), Arrow on (all
kernels are vectorized pandas UDFs), shuffle partitions sized to cores
locally (on a real cluster: 2-3x total executor cores, or leave AQE's
coalescing to shrink an intentionally high number).

The codegen cache holds 1000 generated classes instead of Spark's 100:
the applier model runs the same per-tile plans over and over, so each
generated class is compiled (and warmed by the JIT) once per session,
not again on every call.

The session holds no engine state. An operator that must reuse an
intermediate across its own jobs (the tiled kNN phases, the IVF probe)
local-checkpoints it into the lineage of the DataFrame it returns, and
Spark's ContextCleaner frees those blocks once the caller drops that
result; nothing lands in the session's CacheManager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """The driver heap: $SPARK_DRIVER_MEM, else min(24g, half of the
    host's physical RAM), so a local driver never asks for more heap
    than the machine has."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        return "24g"
    return f"{min(24 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "rios_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-partition overhead at test scale.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        # NOTE (r7, measured): lowering spark.sql.files.openCostInBytes
        # to split small single-file tables wider was tried and
        # REVERTED — parquet cannot split below row-group granularity,
        # so the extra splits of the one-row-group fixtures were all
        # EMPTY, and the phantom width defeated the operators'
        # plans.sizing fan-out (it saw a "wide" scan with every row in
        # one partition). Scan width here honestly equals row-
        # group count; per-row-heavy operators fan out explicitly.
        # Spark caches compiled generated classes by their source text,
        # 100 by default: fewer than one pages_scale round uses, so each
        # round compiled 127 of them again in Janino and the JIT warmed
        # them up from scratch. Measured working set, one session under
        # an unbounded cache: 620 distinct classes (perfbench pages_scale
        # 138, query_mix +73, the 52 registry queries at sf0.01 +342 and
        # sf0.1 +34, one tiled kNN call +33); tools/check_oracles.py
        # prints a registry pass's count. A static conf: it takes effect
        # only in a session this builder creates.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        # local Python workers start from the JVM's environment, not the
        # driver's sys.path: put the package root on their PYTHONPATH so
        # kernels that import rios_spark run from any working directory.
        # sc.environment rides along with every Python function shipped
        # from now on, so this also covers a session that already existed.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
        if root not in paths:
            sc.environment["PYTHONPATH"] = os.pathsep.join([root, *paths])
    return spark

