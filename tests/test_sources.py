"""Table handles: `sources.table` resolves a table once per session and
reads it again whenever its file listing changes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rios_spark import sources


def _write_file(path, ks):
    pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}), path)


def _ks(df):
    return sorted(r["k"] for r in df.collect())


def test_table_handle_reused_until_the_listing_changes(spark, tmp_path):
    """A single-file table: the same handle while the file is unchanged;
    a new size, or the same size with a new mtime, reads it again."""
    path = str(tmp_path / "t.parquet")
    _write_file(path, [1, 2, 3])
    a = sources.table(spark, path)
    assert sources.table(spark, path) is a
    assert _ks(a) == [1, 2, 3]

    _write_file(path, [1, 2, 3, 4])  # same name, new size
    b = sources.table(spark, path)
    assert b is not a and _ks(b) == [1, 2, 3, 4]

    _write_file(path, [5, 6, 7, 8])  # same size, new mtime
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    c = sources.table(spark, path)
    assert c is not b and _ks(c) == [5, 6, 7, 8]
    assert sources.table(spark, path) is c


def test_table_handle_directory_new_file(spark, tmp_path):
    """A directory table: a file added to it (an append) gives a new
    handle with the new rows."""
    path = tmp_path / "d"
    path.mkdir()
    _write_file(path / "part-0.parquet", [1, 2])
    a = sources.table(spark, str(path))
    assert sources.table(spark, str(path)) is a
    _write_file(path / "part-1.parquet", [3])
    b = sources.table(spark, str(path))
    assert b is not a and _ks(b) == [1, 2, 3]


def test_table_never_caches_uri_or_unstatable_paths(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_file(str(path), [1, 2])
    assert sources.listing_sig(str(path)) is not None
    uri = path.as_uri()
    glob = str(tmp_path / "*.parquet")
    for p in (uri, glob, str(tmp_path / "missing.parquet")):
        assert sources.listing_sig(p) is None
    for p in (uri, glob):
        a = sources.table(spark, p)
        assert _ks(a) == [1, 2]
        assert sources.table(spark, p) is not a
    with pytest.raises(AnalysisException):
        sources.table(spark, str(tmp_path / "missing.parquet"))


def test_table_handle_is_per_session(spark, tmp_path):
    """The memo lives on the session object: another session starts
    empty and resolves the table against itself. The session built after
    a stop is a new SparkSession object too, so it never sees a handle
    of the stopped one."""
    path = str(tmp_path / "t.parquet")
    _write_file(path, [1, 2])
    a = sources.table(spark, path)
    other = spark.newSession()
    b = sources.table(other, path)
    assert b is not a and b.sparkSession is other
    assert sources.table(other, path) is b
    assert sources.table(spark, path) is a


def test_table_memo_is_bounded_fifo(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sources, "_TABLE_MEMO_MAX", 2)
    session = spark.newSession()
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        _write_file(paths[-1], [i])
        sources.table(session, paths[-1])
    assert list(session._rios_tables) == paths[1:]


def test_table_self_join_matches_fresh_reads(spark, tmp_path):
    """Two calls return the same DataFrame; a plan that joins it with
    itself gives the answer of two separate spark.read.parquet reads.
    A `df[col]` reference that Spark cannot place on one side raises
    instead of answering wrongly."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3, 4], pa.int64()),
                  "g": pa.array([0, 0, 1, 1], pa.int64())}),
        path,
    )

    def pairs(x, y):
        j = x.alias("x").join(y.alias("y"), F.col("x.g") == F.col("y.g"))
        return sorted(map(tuple, j.select("x.k", "y.k").collect()))

    def less(x, y):
        y = y.withColumnRenamed("k", "k2")
        return sorted(map(tuple, x.join(y, "g").filter(F.col("k") < F.col("k2"))
                          .select("k", "k2").collect()))

    a, b = sources.table(spark, path), sources.table(spark, path)
    assert a is b
    fresh = spark.read.parquet(path), spark.read.parquet(path)
    assert pairs(a, b) == pairs(*fresh) and len(pairs(a, b)) == 8
    assert less(a, b) == less(*fresh) == [(1, 2), (3, 4)]
    c = b.filter(F.col("k") > 1)
    with pytest.raises(AnalysisException, match="ambiguous"):
        a.join(c, a["g"] == c["g"]).select(a["k"], c["k"]).collect()
