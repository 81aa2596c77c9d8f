"""Console entry points over the persisted stats store (S8) — the
analogues of the reference's installed scripts (rios/pyproject.toml
[project.scripts]; rios/cmdline/rioscalcstats.py:31-60 computes and
embeds stats, rios/cmdline/riosprintstats.py prints them back).

- rios_spark_calcstats: compute column statistics of a parquet table
  and append them to a stats store (parquet; Iceberg at deployment).
  --ignore mirrors rioscalcstats --ignore (null-value exclusion);
  --approx mirrors --approx (sampled stats, much faster).
- rios_spark_printstats: print previously persisted stats without
  rescanning the data — the riosprintstats / fileinfo.ImageLayerStats
  read side.

Both run anywhere a SparkSession can start (spark-submit or plain
python); the table path may be any Spark-readable parquet URI.
"""

from __future__ import annotations

import argparse
import datetime
import sys

from rios_spark import sources, stats
from rios_spark.session import get_spark


def _numeric_columns(df) -> list[str]:
    num = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}
    return [c for c, t in df.dtypes if t.split("(")[0] in num]


def calcstats_main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="rios_spark_calcstats",
        description="Compute column stats of parquet table(s) into a stats store",
    )
    p.add_argument("table", nargs="+", help="parquet table path(s)")
    p.add_argument("--store", required=True, help="stats store path (parquet)")
    p.add_argument("--columns", help="comma-separated columns (default: all numeric)")
    p.add_argument("--ignore", type=float, help="treat this value as nodata")
    p.add_argument("--approx", action="store_true", help="sampled approximate stats")
    p.add_argument("--fraction", type=float, default=0.1, help="sample fraction for --approx")
    p.add_argument("--snapshot", help="snapshot label (default: UTC timestamp)")
    p.add_argument("--master", default="local[*]")
    args = p.parse_args(argv)

    spark = get_spark("rios_spark_calcstats", master=args.master)
    snapshot = args.snapshot or datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y%m%dT%H%M%S.%f"
    )
    from pyspark.sql import functions as F

    for path in args.table:
        df = sources.table(spark, path)
        cols = (
            [c.strip() for c in args.columns.split(",")]
            if args.columns
            else _numeric_columns(df)
        )
        for col in cols:
            src = df
            if args.ignore is not None:
                src = src.filter(
                    F.col(col).isNull() | (F.col(col) != F.lit(args.ignore))
                )
            fn = (
                (lambda d, c: stats.approx_stats(d, c, fraction=args.fraction))
                if args.approx
                else stats.basic_stats
            )
            row = fn(src, col).collect()
            rec = row[0].asDict() if row else {"count": 0}
            stats.persist_stats(spark, args.store, path, col, snapshot, rec)
            print(
                f"{path} {col}: count={rec.get('count')} min={rec.get('minval')} "
                f"max={rec.get('maxval')} mean={rec.get('mean')} "
                f"stddev={rec.get('stddev')}"
            )
    return 0


def printstats_main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="rios_spark_printstats",
        description="Print persisted stats from a stats store",
    )
    p.add_argument("store", help="stats store path (parquet)")
    p.add_argument("--table", help="filter: table path")
    p.add_argument("--column", help="filter: column name")
    p.add_argument("--latest", action="store_true", help="newest snapshot per (table, column)")
    p.add_argument("--master", default="local[*]")
    args = p.parse_args(argv)

    spark = get_spark("rios_spark_printstats", master=args.master)
    out = stats.read_stats(
        spark, args.store, table=args.table, column=args.column, latest=args.latest
    )
    for r in out.orderBy("table", "column", "snapshot").collect():
        d = r.asDict()
        print(
            f"{d['table']} {d['column']} @{d['snapshot']}: count={d['count']} "
            f"min={d['minval']} max={d['maxval']} mean={d['mean']} "
            f"stddev={d['stddev']}"
        )
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(calcstats_main())
