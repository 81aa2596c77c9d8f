"""Overlap-margin join — the signature RIOS move, re-expressed in Spark.

RIOS reads each block with `overlap` extra pixels on every side and
trims the margin on write (reference: rios/applier.py:253-268 setOverlap,
rios/imagereader.py:94-121 margin-padded read, rios/imagewriter.py:45-47
margin trim; correctness oracle rios/riostests/testoverlap.py:40-93).

Spark re-expression: every row is duplicated to all owner cells within
Chebyshev distance k of its own cell (`explode(k_ring(cell, k))`), so a
`groupBy(owner_cell)` hands each kernel its tile PLUS the halo, and the
engine trims halo-derived output before write. Because Chebyshev
distance is symmetric, "explode my k-ring as owner candidates" is
exactly "each owner receives its k-ring's rows".

Scale notes: the duplication factor is (2k+1)^2 at most (9x for k=1) —
identical to RIOS's read amplification with overlap. It happens
map-side before the shuffle, so the shuffle carries the duplicated rows
once; there is exactly ONE shuffle (by owner_cell), same as the
margin-less path. AQE skew-join/partition coalescing applies as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rios_spark.grid import kring_cells_col

OWNER = "__owner"
IS_MARGIN = "__is_margin"


def with_margin(df: DataFrame, res: int, k: int, cell: str = "cell") -> DataFrame:
    """Duplicate each row to every owner cell within k-ring distance.

    Adds columns:
      __owner     BIGINT — the cell that will process this copy
      __is_margin BOOLEAN — true if this copy is halo (owner != cell);
                  halo output rows are trimmed before write
                  (rios/imagewriter.py:45-47 semantics).
    k = 0 is the no-overlap fast path (no explode, no duplication).
    """
    if k == 0:
        return df.withColumn(OWNER, F.col(cell)).withColumn(IS_MARGIN, F.lit(False))
    return (
        df.withColumn(OWNER, F.explode(kring_cells_col(F.col(cell), res, k)))
        .withColumn(IS_MARGIN, F.col(OWNER) != F.col(cell))
    )


def trim_margin(df: DataFrame) -> DataFrame:
    """Drop halo rows and helper columns — each surviving row is owned by
    exactly one cell, reproducing RIOS's seamless single-writer stitch."""
    cols = [c for c in df.columns if c not in (OWNER, IS_MARGIN)]
    return df.filter(~F.col(IS_MARGIN)).select(*cols)
