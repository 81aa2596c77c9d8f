"""SparkSession factory.

Local defaults: `local[$SPARK_GRAFT_CPUS]` and a driver heap of
$SPARK_DRIVER_MEM, else min(24g, half the host's RAM). Every other
setting is the one we would ship to a 1000-executor cluster: AQE on
(runtime skew-join splitting + partition coalescing), Arrow on (all
kernels are vectorized pandas UDFs), shuffle partitions sized to cores
locally (on a real cluster: 2-3x total executor cores, or leave AQE's
coalescing to shrink an intentionally high number).
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


# ---------------------------------------------------------------------------
# Intermediate-cache lifecycle (ADVICE r3: knn_tiled / ivf_search persist
# control frames that feed the LAZY result plan, so they cannot be
# unpersisted inside the operator without forcing an eager materialization.
# Instead each operator registers its persisted intermediates under a key;
# the NEXT call with the same key releases the previous call's caches, so a
# long-lived session holds at most one call's worth of executor cache per
# operator. Unpersisting never breaks correctness — a still-referenced plan
# simply recomputes — it only drops the cache-hit speedup of re-consuming a
# stale result, which is the right trade against unbounded cache growth.)
# ---------------------------------------------------------------------------

_CACHE_REGISTRY_ATTR = "_rios_spark_cache_registry"


def _semantic_hash(df) -> int | None:
    """Canonicalized-plan hash, MEMOIZED on the DataFrame object: the
    py4j analyzed()+semanticHash() round-trip costs tens of ms on a
    deep plan, and the r5 incremental registration calls track_caches
    several times per operator over growing frame lists — recomputing
    every hash every call measured as a ~25% knn_tiled regression
    (caught by the r4 A/B). A DataFrame's analyzed plan is immutable,
    so one computation per object is exact."""
    cached = getattr(df, "_rios_sem_hash", False)
    if cached is not False:
        return cached
    try:
        h = int(df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        h = None
    try:
        df._rios_sem_hash = h
    except Exception:
        pass
    return h


def register_caches(spark: SparkSession, key: str, frames: list) -> None:
    """Add `frames` to `key`'s registered set WITHOUT releasing
    anything — the exception-safe incremental half of the lifecycle
    (ADVICE r4): an operator registers each frame the moment it is
    persisted, so a raise mid-operator leaves nothing unfreeable, and
    calls track_caches with the COMPLETE generation at the end to
    release superseded plans. Releasing eagerly per-registration was
    measured as a ~25% knn_tiled regression: the first registration of
    a new invocation dropped the previous generation's later frames
    and evicted cache entries the new invocation's identical plans
    were about to reuse (the same blind-unpersist trap the
    plan-identity check exists to prevent, one level up)."""
    reg = getattr(spark, _CACHE_REGISTRY_ATTR, None)
    if reg is None:
        reg = {}
        setattr(spark, _CACHE_REGISTRY_ATTR, reg)
    cur = reg.setdefault(key, [])
    for df in frames:
        if not any(df is f for f in cur):  # DataFrame __eq__ builds a Column
            cur.append(df)


def track_caches(spark: SparkSession, key: str, frames: list) -> None:
    """Register `frames` (persisted DataFrames) as the live intermediate
    caches for operator `key`, releasing the previous generation's
    frames EXCEPT those whose plan the new generation reuses. Spark's
    CacheManager keys entries by canonicalized plan, so an identical
    repeated call SHARES the previous call's cache entries — blindly
    unpersisting the old generation would evict the very cache the new
    result is about to consume (measured 1.9 s -> 4.3 s on back-to-back
    identical kNN calls). Plan-distinct old frames are released, so a
    long session holds at most one generation of distinct plans per
    operator; shared-plan entries are held once by construction."""
    reg = getattr(spark, _CACHE_REGISTRY_ATTR, None)
    if reg is None:
        reg = {}
        setattr(spark, _CACHE_REGISTRY_ATTR, reg)
    # live hashes span EVERY registry key, not just this one: Spark's
    # CacheManager keys entries by canonicalized plan, so a plan-
    # identical frame registered under ANOTHER operator key (or still
    # backing its live lazy result) shares the cache entry this key's
    # old generation would evict (ADVICE r4) — releasing it would
    # silently reintroduce the measured 1.9 s -> 4.3 s recompute.
    live = {h for h in (_semantic_hash(df) for df in frames) if h is not None}
    for other_key, other_frames in reg.items():
        if other_key == key:
            continue
        live.update(
            h for h in (_semantic_hash(df) for df in other_frames) if h is not None
        )
    for df in reg.get(key, ()):
        # identity check FIRST: register_caches may already have put
        # the new generation's frames into reg[key], and when
        # _semantic_hash returns None (e.g. no JVM plan access) the
        # hash guard alone would unpersist the very frames being
        # registered (code-review r5)
        if any(df is f for f in frames):
            continue
        h = _semantic_hash(df)
        if h is not None and h in live:
            continue  # same plan = same cache entry something live uses
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session/plan already torn down — nothing to release
    reg[key] = list(frames)


def release_caches(spark: SparkSession, key: str | None = None) -> None:
    """Explicitly release registered intermediate caches (all keys, or
    one operator's) — for callers done consuming an operator's result."""
    reg = getattr(spark, _CACHE_REGISTRY_ATTR, None) or {}
    for k in list(reg) if key is None else [key]:
        for df in reg.pop(k, ()):
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
