"""Self-check harness mirroring the driver's CORRECTNESS gate:
run every queries()[name] on Spark and oracle_sql()[name] on DuckDB
at the given scale factor; compare row count, column-name sets, and
order-insensitive values. A query that leaves an entry in the
session's CacheManager after it is collected also FAILs: operators
own their intermediates, so nothing may outlive the call. The last
line is the session's Janino compile count over the pass.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in, not whatever rios_spark is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rios_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
            df[c] = df[c].map(lambda v: tuple(np.asarray(v).tolist()))
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
        return problems
    if len(got) != len(want):
        problems.append(f"row count {len(got)} != {len(want)}")
        return problems
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        gk, wk = g[c].dtype.kind, w[c].dtype.kind
        # The driver's value hash is dtype-sensitive: int64 `5` vs float64
        # `5.0` hash differently even though the values compare equal. Mirror
        # that here so local green == driver green (round-1 lesson: coercing
        # both sides to float64 masked exactly the two driver hash failures).
        if gk != wk and {gk, wk} <= {"i", "u", "f", "b"}:
            problems.append(
                f"col {c}: dtype kind mismatch spark={g[c].dtype} oracle={w[c].dtype}"
                " (driver hash is dtype-sensitive)"
            )
            continue
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f" or (hasattr(wv, "dtype") and wv.dtype.kind == "f"):
            gv = np.asarray(gv, np.float64)
            wv = np.asarray(wv, np.float64)
            bad = ~(np.isclose(gv, wv, rtol=0, atol=0, equal_nan=True))
            if bad.any():
                i = int(np.argmax(bad))
                problems.append(f"col {c}: {int(bad.sum())} value diffs, e.g. {gv[i]!r} != {wv[i]!r}")
        else:
            bad = pd.Series(gv).astype(str) != pd.Series(wv).astype(str)
            if bad.any():
                i = int(bad.idxmax())
                problems.append(f"col {c}: {int(bad.sum())} value diffs, e.g. {gv[i]!r} != {wv[i]!r}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from rios_spark.queries import ORACLES, QUERIES

    spark = get_spark("check_oracles", master="local[8]", shuffle_partitions=8)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_ok = n_bad = n_weak = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        if not cache_manager.isEmpty():
            print(f"FAIL  {name}: left an entry in the session CacheManager")
            spark.catalog.clearCache()
            n_bad += 1
            continue
        if name not in ORACLES:
            ok = len(got) >= 0
            print(f"weak  {name}: rows-only ({len(got)} rows)")
            n_weak += 1
            continue
        try:
            want = con.execute(ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        problems = compare(name, got, want)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_bad += 1
        else:
            print(f"ok    {name}: {len(got)} rows match")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_weak} rows-only, {n_bad} FAILED")
    # the generated classes of the pass; a count near the codegen cache
    # size set in session.py means the cache no longer holds them all
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    print(f"janino compiles: {compiles.getCount()}")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
