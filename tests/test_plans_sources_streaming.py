"""Skew handling (adaptive split), resume manifest,
tiled table IO with partition pruning, and streaming/batch parity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rios_spark import datagen, sources
from rios_spark.grid import RES_MUL, cell_col, np_parent
from rios_spark.plans import Manifest, adaptive_split
from rios_spark.streaming import stream_tile_counts

RES = 5


@pytest.fixture(scope="module")
def pages(spark):
    pdf = datagen.gen_pages(20000)
    return (
        spark.createDataFrame(pdf)
        .withColumn("cell", cell_col("lat", "lon", RES))
        .cache()
    )


def test_adaptive_split_bounds_cell_load(spark, pages):
    before = pages.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    assert before > 1000  # the Zipf fixture produces a hot tile
    split = adaptive_split(pages, RES, max_rows=1000, max_levels=6)
    after = split.groupBy("cell").count().toPandas()
    assert after["count"].max() <= 1000
    # total rows preserved
    assert after["count"].sum() == 20000
    # mixed resolutions present, and every fine cell nests under its
    # original coarse cell (quadtree coherence)
    res_of = (after["cell"] // RES_MUL).astype(int)
    assert res_of.min() == RES and res_of.max() > RES
    # NOTE: never use .iterrows() on frames holding cell ids — it
    # upcasts int64 rows to float64 and corrupts ids above 2^53.
    joined = split.select("cell", "lat", "lon").toPandas()
    fine = joined[(joined["cell"] // RES_MUL) > RES]
    from rios_spark.grid import np_cell

    par = np_parent(fine["cell"].to_numpy(np.int64), RES)
    want_coarse = np_cell(fine["lat"].to_numpy(), fine["lon"].to_numpy(), RES)
    assert (par == want_coarse).all()


def test_manifest_resume(spark, pages, tmp_path):
    """Kill/resume contract: a second run processes ONLY pending cells
    and the output has no duplicates."""
    man = Manifest(spark, str(tmp_path / "manifest"))
    out = str(tmp_path / "out")
    df = pages.select("cell", "page_id", "url")

    # run 1: pretend the job died after doing half the cells — simulate
    # by running on a filtered subset
    cells = [r["cell"] for r in df.select("cell").distinct().collect()]
    half = set(cells[: len(cells) // 2])
    r1 = man.run_stage("job1", "tile", df.filter(F.col("cell").isin(list(half))), out, payload_col="url")
    assert r1["cells_pending"] == len(half)

    # run 2 (the resume): full input; only the other half is pending,
    # and rows_written counts exactly that half's rows
    r2 = man.run_stage("job1", "tile", df, out, payload_col="url")
    assert r2["cells_total"] == len(cells)
    assert r2["cells_pending"] == len(cells) - len(half)
    assert r2["rows_written"] == df.filter(~F.col("cell").isin(list(half))).count()

    # run 3: nothing pending — a no-op
    r3 = man.run_stage("job1", "tile", df, out, payload_col="url")
    assert r3["cells_pending"] == 0 and r3["rows_written"] == 0

    # output complete and exactly-once
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert back.select("page_id").distinct().count() == df.count()

    # lineage rows carry metrics
    m = man.read().toPandas()
    assert (m["status"] == "done").all()
    assert m["n_rows"].sum() == df.count()
    assert (m["n_bytes"] > 0).all()


def test_manifest_stage_appends_one_file(spark, tmp_path):
    """Each run_stage that records cells adds exactly one lineage file to
    the manifest, however many default partitions the session has; the
    resume still skips the done cells, and a no-op stage adds none."""
    import os

    def parts():
        return sorted(f for f in os.listdir(tmp_path / "manifest") if f.endswith(".parquet"))

    df = spark.createDataFrame(
        pd.DataFrame({"cell": np.arange(33) % 11, "page_id": np.arange(33), "url": ["u"] * 33})
    )
    man = Manifest(spark, str(tmp_path / "manifest"))
    out = str(tmp_path / "out")
    first = df.filter(F.col("cell") < 5)
    assert man.run_stage("job", "s", first, out, payload_col="url")["cells_pending"] == 5
    assert len(parts()) == 1
    r = man.run_stage("job", "s", df, out, payload_col="url")
    assert r["cells_total"] == 11 and r["cells_pending"] == 6 and r["rows_written"] == 18
    assert len(parts()) == 2
    assert man.run_stage("job", "s", df, out, payload_col="url")["cells_pending"] == 0
    assert len(parts()) == 2
    assert sorted(r["cell"] for r in man.read().collect()) == list(range(11))


def test_manifest_run_stage_releases_pending(spark, tmp_path, monkeypatch):
    """run_stage leaves nothing in the session cache: not after a stage
    that writes, nor after one with nothing pending, nor after one
    whose write raises."""
    from pyspark.sql import DataFrameWriter

    spark.catalog.clearCache()
    man = Manifest(spark, str(tmp_path / "manifest"))
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        pd.DataFrame({"cell": np.arange(12) % 4, "page_id": np.arange(12), "url": ["u"] * 12})
    )
    empty = spark._jsparkSession.sharedState().cacheManager().isEmpty
    assert man.run_stage("job", "s1", df, out, payload_col="url")["cells_pending"] == 4
    assert empty()
    assert man.run_stage("job", "s1", df, out, payload_col="url")["cells_pending"] == 0
    assert empty()

    def boom(self, *args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="injected"):
        man.run_stage("job", "s2", df, str(tmp_path / "out2"), payload_col="url")
    assert empty()


def test_manifest_run_stage_reads_input_twice(spark, pages, tmp_path, counted_reads):
    """One per-cell aggregate plus one write: run_stage reads its input
    2N rows, whatever the number of cells; the lineage comes from the
    aggregate, not from a re-read."""
    counted, reads = counted_reads(pages.select("cell", "page_id", "url"))
    man = Manifest(spark, str(tmp_path / "manifest"))
    r = man.run_stage("job", "s", counted, str(tmp_path / "out"), payload_col="url")
    assert r["rows_written"] == 20000
    assert reads.value == 2 * 20000
    want = pages.groupBy("cell").agg(
        F.count("*").alias("n_rows"), F.sum(F.octet_length("url")).alias("n_bytes")
    ).toPandas().sort_values("cell").reset_index(drop=True)
    got = man.read().toPandas()[["cell", "n_rows", "n_bytes"]]
    got = got.sort_values("cell").reset_index(drop=True)
    assert (got.to_numpy() == want.to_numpy()).all()


def test_manifest_run_stage_leaves_session_conf(spark, tmp_path):
    """Dynamic partition overwrite is an option of run_stage's own
    write: the session conf is unchanged afterwards, so a later plain
    overwrite still replaces the whole table."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df = spark.createDataFrame(
        pd.DataFrame({"cell": np.arange(12) % 4, "page_id": np.arange(12), "url": ["u"] * 12})
    )
    out = str(tmp_path / "out")
    Manifest(spark, str(tmp_path / "manifest")).run_stage("job", "s", df, out, payload_col="url")
    assert spark.conf.get(key) == before
    df.filter("cell = 0").write.mode("overwrite").partitionBy("cell").parquet(out)
    assert [r["cell"] for r in spark.read.parquet(out).select("cell").distinct().collect()] == [0]


def test_manifest_null_cells_are_counted_never_written(spark, tmp_path):
    """Rows with a null cell are counted under null_cell_rows, stay out
    of cells_total and cells_pending, are never written and get no
    lineage row, so a finished stage reports nothing pending."""
    pdf = pd.DataFrame({
        "cell": pd.array([0, 0, 1, None, None], "Int64"),
        "page_id": np.arange(5),
        "url": ["a", "bb", "ccc", "d", "e"],
    })
    df = spark.createDataFrame(pdf)
    man = Manifest(spark, str(tmp_path / "manifest"))
    out = str(tmp_path / "out")
    r = man.run_stage("job", "s", df, out, payload_col="url")
    assert r == {"cells_total": 2, "cells_pending": 2, "rows_written": 3, "null_cell_rows": 2}
    back = spark.read.parquet(out).toPandas()
    assert sorted(back["page_id"]) == [0, 1, 2]
    m = man.read().toPandas().sort_values("cell")
    assert list(m["cell"]) == [0, 1]
    assert list(m["n_rows"]) == [2, 1] and list(m["n_bytes"]) == [3, 3]
    r = man.run_stage("job", "s", df, out, payload_col="url")
    assert r == {"cells_total": 2, "cells_pending": 0, "rows_written": 0, "null_cell_rows": 2}


def test_manifest_resume_at_file_uri(spark, tmp_path):
    """A manifest named by a file:// URI is found again: the second
    run_stage skips every cell and the manifest keeps one row per cell."""
    df = spark.createDataFrame(
        pd.DataFrame({"cell": np.arange(12) % 4, "page_id": np.arange(12), "url": ["u"] * 12})
    )
    man = Manifest(spark, (tmp_path / "manifest").as_uri())
    out = (tmp_path / "out").as_uri()
    assert man.run_stage("job", "s", df, out, payload_col="url")["cells_pending"] == 4
    r = man.run_stage("job", "s", df, out, payload_col="url")
    assert r["cells_pending"] == 0 and r["rows_written"] == 0
    assert man.read().count() == 4


def test_write_read_tiled_partition_pruning(spark, pages, tmp_path):
    path = str(tmp_path / "tiled")
    sources.write_tiled(pages, path, RES)
    back = sources.read_tiled(spark, path, RES)
    assert back.count() == pages.count()

    some_cells = [r["cell"] for r in pages.select("cell").distinct().limit(3).collect()]
    pruned = sources.read_tiled(spark, path, RES, cells=some_cells)
    want = pages.filter(F.col("cell").isin(some_cells)).count()
    assert pruned.count() == want
    # the plan must show a partition filter on pcell (directory pruning)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "pcell" in plan

    info = sources.table_info(back)
    assert info.n_rows == pages.count()
    assert info.resolutions == [RES]


def test_streaming_matches_batch(spark, tmp_path):
    """Streaming tile counts (file source, availableNow) == batch query
    on the same data — the batch/stream parity guarantee."""
    pdf = datagen.gen_pages(5000)
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_tile_counts(stream, RES, window="6 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("tile_counts_test")
        # complete mode so windows still inside the watermark at end-of-
        # stream are visible too (append would withhold the final ones)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from tile_counts_test").toPandas()
    want = (
        spark.read.parquet(src)
        .withColumn("cell", cell_col("lat", "lon", RES))
        .groupBy(F.window("warc_ts", "6 hours").alias("win"), "cell")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("win.start").alias("win_start"), "cell", "n_pages")
        .toPandas()
    )
    g = got.set_index(["win_start", "cell"])["n_pages"].sort_index()
    w = want.set_index(["win_start", "cell"])["n_pages"].sort_index()
    assert g.equals(w)
    assert g.sum() == 5000


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """Stateful streaming dedup: duplicates planted in a LATER file
    (separate micro-batch via maxFilesPerTrigger=1) are dropped by the
    cross-batch state."""
    from rios_spark.streaming import stream_dedup_exact

    base = datagen.gen_pages(300)[["page_id", "text"]]
    dup = base.head(50).copy()
    dup["page_id"] = dup["page_id"] + 10_000  # same text, later ids
    src = str(tmp_path / "dd_src")
    spark.createDataFrame(base).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(dup).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_dedup_exact(stream, "text", "page_id")
        .writeStream.format("memory")
        .queryName("dd_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dd_test").toPandas()
    n_unique = base["text"].nunique()
    assert len(got) == n_unique  # every distinct text exactly once
    # none of the late duplicate ids survived
    assert (got["page_id"] < 10_000).all()


def test_progress_monitor_reports(spark):
    """U5: the cuiprogress analogue — callback sees task progress while
    an action runs; final call reports all tasks complete."""
    from pyspark.sql import functions as F

    from rios_spark.progress import ProgressMonitor

    calls = []
    with ProgressMonitor(spark, lambda d, t, p: calls.append((d, t, p)), poll=0.05):
        spark.range(3_000_000, numPartitions=24).select(
            F.sum(F.sqrt(F.col("id").cast("double")))
        ).collect()
    assert calls, "callback never fired"
    d, t, p = calls[-1]
    assert t >= 24 and d == t and p == 100.0
    assert all(0.0 <= p <= 100.0 for _, _, p in calls)


def test_write_tiled_creation_options(spark, tmp_path):
    """S13: creation options scoped to one write (setCreationOptions
    analogue) — compression takes effect on the files, and the session
    conf is untouched."""
    import glob
    import os

    import pandas as pd

    from rios_spark.grid import cell_col
    from rios_spark.sources import read_tiled, write_tiled

    pdf = pd.DataFrame({"id": np.arange(500), "lat": np.linspace(-40, 40, 500),
                        "lon": np.linspace(-90, 90, 500)})
    df = spark.createDataFrame(pdf).withColumn("cell", cell_col("lat", "lon", 6))
    before = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    p = str(tmp_path / "zstd_out")
    write_tiled(df, p, 6, creation_options={"compression": "zstd"})
    files = glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    assert files and all(".zstd." in os.path.basename(f) for f in files)
    assert spark.conf.get("spark.sql.parquet.compression.codec", "snappy") == before
    back = read_tiled(spark, p, 6)
    assert back.count() == 500


def test_vector_info_metadata_scan():
    """S7: per-polygon metadata (vertex count, bbox, shoelace area)."""
    import pandas as pd

    from rios_spark.sources import vector_info

    polys = pd.DataFrame(
        [
            {"polygon_id": 0, "xs": [0.0, 4.0, 4.0, 0.0], "ys": [0.0, 0.0, 2.0, 2.0]},
            {"polygon_id": 1, "xs": [0.0, 2.0, 1.0], "ys": [0.0, 0.0, 3.0]},
        ]
    )
    info = vector_info(polys).sort_values("polygon_id")
    assert info["n_vertices"].tolist() == [4, 3]
    assert info["area_deg2"].tolist() == [8.0, 3.0]
    assert info.iloc[0][["lon_min", "lat_min", "lon_max", "lat_max"]].tolist() == [0.0, 0.0, 4.0, 2.0]


def test_stream_zonal_counts_matches_batch(spark, tmp_path):
    """Streaming zonal counts (stateless PIP join + watermarked window
    agg) == the batch zonal plan on the same data."""
    from rios_spark.spatial import pip_join
    from rios_spark.streaming import stream_zonal_counts

    pdf = datagen.gen_pages(4000)
    polys = datagen.gen_polygons()
    src = str(tmp_path / "zstream_src")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_zonal_counts(stream, polys, RES, window="6 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("zonal_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from zonal_stream_test").toPandas()
    batch = spark.read.parquet(src).withColumn("cell", cell_col("lat", "lon", RES))
    want = (
        pip_join(batch, polys, RES)
        .groupBy(F.window("warc_ts", "6 hours").alias("win"), "polygon_id")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("win.start").alias("win_start"), "polygon_id", "n_pages")
        .toPandas()
    )
    g = got.set_index(["win_start", "polygon_id"])["n_pages"].sort_index()
    w = want.set_index(["win_start", "polygon_id"])["n_pages"].sort_index()
    assert len(g) and g.equals(w)


def test_stream_dedup_ttl_evicts_state(spark, tmp_path):
    """TTL-bounded streaming dedup (r2 VERDICT #5): a key with no
    arrival within ttl_ms is EVICTED between micro-batches, so the same
    content re-emits after expiry — and the state store stays bounded
    by the active window instead of growing with all-time distinct
    content."""
    import time

    import pandas as pd

    from rios_spark.streaming import stream_dedup_exact

    src = tmp_path / "ttl_src"
    src.mkdir()
    mk = lambda pid, text: pd.DataFrame({"page_id": [pid], "text": [text]})  # noqa: E731
    # three files -> three micro-batches (maxFilesPerTrigger=1),
    # ordered by mtime; the sleeps guarantee distinct ordering and that
    # the 1 ms TTL has lapsed between batch 1 and batch 2
    mk(1, "alpha").to_parquet(src / "f1.parquet")
    time.sleep(0.3)
    mk(2, "beta").to_parquet(src / "f2.parquet")
    time.sleep(0.3)
    mk(3, "alpha").to_parquet(src / "f3.parquet")

    stream = (
        spark.readStream.schema("page_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_dedup_exact(stream, "text", "page_id", ttl_ms=1)
        .writeStream.format("memory")
        .queryName("dd_ttl_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # with pending processing-time timeouts the availableNow query can
    # keep scheduling timeout-only batches — poll the sink, then stop
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("select * from dd_ttl_test").count() >= 3:
            break
        time.sleep(0.5)
    q.stop()
    got = spark.sql("select * from dd_ttl_test").toPandas()
    # alpha emitted TWICE (state evicted after the TTL), beta once
    assert sorted(got["page_id"]) == [1, 2, 3]


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Streaming sessionization (stateful, event-time timeouts) emits
    the SAME session boundaries as the batch lag+cumsum op. Sessions
    interrupted by a later event (in-batch or cross-batch) must be
    emitted exactly once; each user's final session closes only via
    watermark timeout, so it may legitimately still be open."""
    import time

    import numpy as np
    import pandas as pd

    from rios_spark.streaming import stream_sessionize

    rng = np.random.default_rng(7)
    rows = []
    base = pd.Timestamp("2026-01-01 00:00:00")
    for user in range(6):
        t = base + pd.Timedelta(minutes=int(rng.integers(0, 30)))
        for _ in range(40):
            # mixture of in-gap (<=30min) steps and session breaks
            step = int(rng.choice([60, 300, 900, 2400, 7200]))
            t = t + pd.Timedelta(seconds=step)
            rows.append((user, t))
    ev = pd.DataFrame(rows, columns=["user_id", "ts"]).sample(
        frac=1.0, random_state=3
    )  # shuffle arrival order within files
    src = tmp_path / "sess_src"
    src.mkdir()
    half = len(ev) // 2
    # parquet for Spark needs micro (not nano) timestamps
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    # split by time so the watermark advances monotonically per batch
    ev_sorted = ev.sort_values("ts")
    ev_sorted.iloc[:half].to_parquet(src / "f1.parquet")
    time.sleep(0.2)
    ev_sorted.iloc[half:].to_parquet(src / "f2.parquet")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_sessionize(stream, gap_s=1800, watermark="1 seconds")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # batch oracle (pandas): per-user sorted, break on gap > 1800s
    want = []
    for user, grp in ev.groupby("user_id"):
        ts = grp["ts"].sort_values().reset_index(drop=True)
        start = last = ts.iloc[0]
        n = 1
        for t in ts.iloc[1:]:
            if (t - last).total_seconds() > 1800:
                want.append((user, start, last, n))
                start, n = t, 0
            last, n = t, n + 1
        want.append((user, start, last, n))  # final (may stay open)
    want_df = pd.DataFrame(
        want, columns=["user_id", "session_start", "session_end", "n_events"]
    )
    finals = want_df.groupby("user_id")["session_start"].transform("max")
    non_final = want_df[want_df["session_start"] != finals]

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("select * from sess_test").count() >= len(non_final):
            break
        time.sleep(0.5)
    q.stop()
    got = spark.sql("select * from sess_test").toPandas()

    key = ["user_id", "session_start", "session_end", "n_events"]
    got_set = set(map(tuple, got[key].itertuples(index=False)))
    assert len(got_set) == len(got), "a session was emitted twice"
    want_all = set(map(tuple, want_df[key].itertuples(index=False)))
    want_non_final = set(map(tuple, non_final[key].itertuples(index=False)))
    # every interrupted session emitted exactly once with exact bounds
    assert want_non_final <= got_set
    # nothing emitted that the batch op doesn't produce
    assert got_set <= want_all


def test_stream_sessionize_late_event_past_watermark(spark, tmp_path):
    """ADVICE r3 (high): an accepted-but-late event whose last_ts + gap
    deadline is BEHIND the current watermark (reachable whenever the
    watermark delay exceeds the gap) used to crash the whole query —
    setTimeoutTimestamp raises for past deadlines. The clamped deadline
    (watermark + 1 ms) must instead close the session on the next
    trigger. The query must COMPLETE and emit user 1's interrupted
    session exactly once."""
    import time

    import pandas as pd

    from rios_spark.streaming import stream_sessionize

    base = pd.Timestamp("2026-01-01 00:00:00")
    src = tmp_path / "sess_late_src"
    src.mkdir()
    # file 1: user 1's session (2 events, 30 s apart) + a HEAD event at
    # +10 h, so the watermark after batch 1 is +6 h (delay 4 h)
    f1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": [base, base + pd.Timedelta(seconds=30), base + pd.Timedelta(hours=10)],
        }
    )
    f1["ts"] = f1["ts"].astype("datetime64[us]")
    f1.to_parquet(src / "f1.parquet")
    time.sleep(0.2)
    # file 2: user 1's LATE event at +1 h — 5 h behind the current
    # watermark (+6 h). applyInPandasWithState does NOT filter
    # sub-watermark rows (verified empirically), so the event reaches
    # the state function, whose unclamped deadline (+1 h + 60 s) is
    # far behind the watermark — the exact setTimeoutTimestamp crash
    # reproduced against the pre-fix code
    f2 = pd.DataFrame({"user_id": [1], "ts": [base + pd.Timedelta(hours=1)]})
    f2["ts"] = f2["ts"].astype("datetime64[us]")
    f2.to_parquet(src / "f2.parquet")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_sessionize(stream, gap_s=60, watermark="4 hours")
        .writeStream.format("memory")
        .queryName("sess_late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    crashed = None
    while time.time() < deadline:
        if not q.isActive:
            crashed = q.exception()
            break
        if spark.sql("select * from sess_late_test").count() >= 1:
            break
        time.sleep(0.5)
    q.stop()
    assert crashed is None, f"streaming query crashed: {crashed}"
    got = spark.sql("select * from sess_late_test").toPandas()
    # user 1's first session (2 events) closed by the late event's
    # arrival; the late event's own session stays open (its clamped
    # deadline is wm+1, and the watermark never advances past it here)
    u1 = got[(got["user_id"] == 1) & (got["n_events"] == 2)]
    assert len(u1) == 1
    assert u1["session_start"].iloc[0] == base
    assert u1["session_end"].iloc[0] == base + pd.Timedelta(seconds=30)


def test_stream_pair_join_matches_batch(spark, tmp_path):
    """Stream-stream tile join == the same join in batch: two live
    feeds (odd/even pages) matched per cell within the time-skew
    window; every batch-join pair appears exactly once in the stream
    output."""
    pdf = datagen.gen_pages(4000)
    left_pdf = pdf[pdf["page_id"] % 2 == 0]
    right_pdf = pdf[pdf["page_id"] % 2 == 1]
    lsrc, rsrc = str(tmp_path / "pj_l"), str(tmp_path / "pj_r")
    cols = ["page_id", "warc_ts", "lat", "lon"]
    spark.createDataFrame(left_pdf[cols]).write.parquet(lsrc)
    spark.createDataFrame(right_pdf[cols]).write.parquet(rsrc)

    from rios_spark.streaming import stream_pair_join

    schema = spark.read.parquet(lsrc).schema
    ls = spark.readStream.schema(schema).parquet(lsrc)
    rs = spark.readStream.schema(schema).parquet(rsrc)
    q = (
        stream_pair_join(ls, rs, RES, max_skew="30 minutes")
        .writeStream.format("memory")
        .queryName("pj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from pj_test").toPandas()

    l = (
        spark.read.parquet(lsrc)
        .withColumn("cell", cell_col("lat", "lon", RES))
        .select("cell", F.col("page_id").alias("left_id"), F.col("warc_ts").alias("left_ts"))
    )
    r = (
        spark.read.parquet(rsrc)
        .withColumn("cell", cell_col("lat", "lon", RES))
        .select(F.col("cell").alias("r_cell"), F.col("page_id").alias("right_id"),
                F.col("warc_ts").alias("right_ts"))
    )
    want = (
        l.join(
            r,
            (l["cell"] == r["r_cell"])
            & (r["right_ts"] >= F.expr("left_ts - interval 30 minutes"))
            & (r["right_ts"] <= F.expr("left_ts + interval 30 minutes")),
            "inner",
        )
        .select("left_id", "right_id")
        .toPandas()
    )
    g = set(zip(got["left_id"], got["right_id"]))
    w = set(zip(want["left_id"], want["right_id"]))
    assert len(got) == len(g), "stream emitted a duplicate pair"
    assert g == w
    assert len(w) > 20  # the fixture actually produces matches


def test_stream_batch_oracle_threeway_sessionize(spark, tmp_path):
    """VERDICT r4 #4: the RIOS answer-invariance-under-concurrency
    contract (testavgthreads.py:67-97) lifted to streaming as a
    THREE-WAY equivalence on one fixture: the CLOSED sessions the
    stream emits == the batch operator's (temporal.sessionize)
    non-final sessions == the DuckDB oracle's non-final sessions, and
    batch == oracle exactly on EVERY session. The fixture includes a
    late event 5 h behind the watermark whose unclamped deadline would
    crash the query (the clamp case) — all three engines must still
    agree on the session it interrupts."""
    import time

    import duckdb
    import numpy as np
    import pandas as pd

    from rios_spark.queries import O_SESSIONIZE_EVENTS
    from rios_spark.streaming import stream_sessionize
    from rios_spark.temporal import sessionize

    rng = np.random.default_rng(17)
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    eid = 0
    for user in range(5):
        t = base + pd.Timedelta(minutes=int(rng.integers(0, 20)))
        for _ in range(30):
            t = t + pd.Timedelta(seconds=int(rng.choice([60, 400, 2000, 5000])))
            rows.append((user, t, eid))
            eid += 1
    # watermark head: one far-future event so the late event below is
    # genuinely sub-watermark when it arrives
    rows.append((99, base + pd.Timedelta(hours=30), eid)); eid += 1
    ev = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    late = pd.DataFrame(
        {"user_id": [0], "ts": [base + pd.Timedelta(hours=20)], "event_id": [eid]}
    )
    late["ts"] = late["ts"].astype("datetime64[us]")

    src = tmp_path / "threeway_src"
    src.mkdir()
    ev.sort_values("ts").to_parquet(src / "f1.parquet")
    time.sleep(0.2)
    late.to_parquet(src / "f2.parquet")  # 10 h behind the +26 h watermark

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_sessionize(stream, gap_s=1800, watermark="4 hours")
        .writeStream.format("memory")
        .queryName("threeway_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    all_ev = pd.concat([ev, late], ignore_index=True)
    batch = (
        sessionize(spark.createDataFrame(all_ev), gap_s=1800, tiebreak="event_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("events", all_ev)
    oracle = con.execute(O_SESSIONIZE_EVENTS).df()

    key = ["user_id", "session_start", "session_end", "n_events"]
    def norm(df):
        out = df[key].copy()
        out["n_events"] = out["n_events"].astype(np.int64)
        for c in ("session_start", "session_end"):
            out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
        return set(map(tuple, out.itertuples(index=False)))

    # batch == oracle on every session (incl. finals)
    assert norm(batch) == norm(oracle)

    # stream: every non-final (interrupted) session must be emitted
    finals = batch.loc[
        batch.groupby("user_id")["session_id"].transform("max") == batch["session_id"]
    ]
    non_final = batch.drop(finals.index)
    deadline = time.time() + 120
    crashed = None
    while time.time() < deadline:
        if not q.isActive:
            crashed = q.exception()
            break
        if spark.sql("select * from threeway_test").count() >= len(non_final):
            break
        time.sleep(0.5)
    q.stop()
    assert crashed is None, f"streaming query crashed: {crashed}"
    got = spark.sql("select * from threeway_test").toPandas()
    got_set = norm(got)
    assert len(got_set) == len(got), "a session was emitted twice"
    assert norm(non_final) <= got_set, "an interrupted session was never emitted"
    # nothing the batch/oracle pair doesn't produce (finals may close
    # via timeout, which is legitimate)
    assert got_set <= norm(batch)
    # the late event's interruption specifically: user 0's last pre-late
    # session must be closed identically by all three engines
    u0 = batch[(batch["user_id"] == 0)].sort_values("session_id")
    pre_late = u0.iloc[-2]  # the session the +20 h event interrupts
    assert tuple(
        pd.Series(
            {
                "user_id": pre_late["user_id"],
                "session_start": pre_late["session_start"],
                "session_end": pre_late["session_end"],
                "n_events": np.int64(pre_late["n_events"]),
            }
        )[key]
    ) in got_set


def test_resume_job_example_schedules_only_pending(tmp_path):
    """VERDICT r4 #8: the manifest's kill/resume contract has an
    executable surface — examples/resume_job.py writes a prefix of the
    cells, 'dies', restarts with the full input, and must prove the
    second run scheduled EXACTLY the pending cell set (verified
    cell-by-cell inside the example) with the final output holding
    every cell exactly once."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable, "examples/resume_job.py",
            "--out", str(tmp_path / "resume_out"),
            "--n-pages", "20000", "--res", "4", "--kill-frac", "0.4",
        ],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["resume_exact"] is True
    assert got["cells_phase1"] + got["cells_resumed"] == got["cells_total"]
    assert got["output_cells"] == got["cells_total"]
    assert got["output_rows"] == 20000


def test_stream_doc_fingerprints_matches_batch(spark, tmp_path):
    """Fingerprinting on a LIVE stream: doc_fingerprints (and the
    winnowing variant) are pure stateless projections — one zero-
    shuffle Arrow kernel — so the same operator body runs on a
    readStream unchanged, and the stream output equals the batch
    output row-for-row. This is the streaming face of the
    copy-detection pipeline: fingerprints extracted at ingest time,
    joined against the corpus index downstream."""
    import pandas as pd

    from rios_spark import textops

    rng = __import__("numpy").random.default_rng(31)
    alpha = list("abcdef gh")
    docs = pd.DataFrame(
        {
            "doc_id": range(60),
            "text": [
                "".join(rng.choice(alpha, int(rng.integers(30, 300))))
                for _ in range(60)
            ],
        }
    )
    src = str(tmp_path / "fp_stream_src")
    spark.createDataFrame(docs).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    for op, qname in (
        (textops.doc_fingerprints, "fp_stream_test"),
        (textops.doc_fingerprints_winnow, "fpw_stream_test"),
    ):
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(f"select * from {qname}").toPandas()
        want = op(spark.read.parquet(src)).toPandas()
        key = ["doc_id", "fp"]
        gs = sorted(map(tuple, got[key].itertuples(index=False)))
        ws = sorted(map(tuple, want[key].itertuples(index=False)))
        assert gs == ws, f"{qname}: stream/batch fingerprint mismatch"


def test_stream_fingerprint_matches_corpus_copies(spark, tmp_path):
    """Stream-static copy detection: a static corpus fingerprint index
    + a stream of new documents, some containing passages copied from
    corpus docs at different offsets. The stream must flag exactly the
    planted (new doc, corpus doc) pairs once aggregated per batch, and
    the whole match set must equal the same join run in batch."""
    import numpy as np
    import pandas as pd

    from rios_spark import textops
    from rios_spark.streaming import stream_fingerprint_matches

    rng = np.random.default_rng(41)
    alpha = np.array(list("abcdefghij klmno"))

    def rand_s(n):
        return "".join(rng.choice(alpha, n))

    corpus = pd.DataFrame(
        {"doc_id": range(20), "text": [rand_s(400) for _ in range(20)]}
    )
    # new docs 100..104 copy a 360-char passage from corpus docs 3, 7,
    # 11 (long enough that the 1/64 sampling yields >= 2 shared
    # fingerprints with margin); 103/104 are clean
    new_rows = []
    for i, src_doc in enumerate([3, 7, 11]):
        passage = corpus["text"][src_doc][20:380]
        new_rows.append((100 + i, rand_s(80) + passage + rand_s(60)))
    new_rows += [(103, rand_s(300)), (104, rand_s(250))]
    new = pd.DataFrame(new_rows, columns=["doc_id", "text"])

    corpus_df = spark.createDataFrame(corpus)
    corpus_fps = textops.doc_fingerprints(corpus_df).cache()
    src = str(tmp_path / "fpmatch_src")
    spark.createDataFrame(new).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        stream_fingerprint_matches(stream, corpus_fps)
        .writeStream.format("memory")
        .queryName("fpmatch_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from fpmatch_test").toPandas()

    # per-pair aggregation (each doc arrives once, so this equals the
    # per-batch min_shared threshold)
    agg = (
        got.groupby(["stream_id", "corpus_id"]).size().reset_index(name="n")
    )
    flagged = set(
        map(tuple, agg.loc[agg["n"] >= 2, ["stream_id", "corpus_id"]].itertuples(index=False))
    )
    assert flagged == {(100, 3), (101, 7), (102, 11)}

    # stream match set == the identical stream-static join run in batch
    batch = (
        textops.doc_fingerprints(spark.createDataFrame(new))
        .withColumnRenamed("doc_id", "stream_id")
        .join(corpus_fps.withColumnRenamed("doc_id", "corpus_id"), "fp")
        .filter("stream_id != corpus_id")
        .select("stream_id", "corpus_id", "fp")
        .toPandas()
    )
    key = ["stream_id", "corpus_id", "fp"]
    assert sorted(map(tuple, got[key].itertuples(index=False))) == sorted(
        map(tuple, batch[key].itertuples(index=False))
    )
    corpus_fps.unpersist()


def test_stream_fingerprint_matches_exclude_self_flag(spark):
    """ADVICE r5: the stream_id != corpus_id self-match suppression
    assumes ONE shared id namespace. With independently-numbered
    sides, a stream doc whose id collides with an unrelated corpus
    doc's id would have its genuine copy-detection match silently
    dropped — exclude_self=False must keep it. (doc_fingerprints is a
    stateless projection, so the operator accepts batch frames too —
    tested in batch for speed; the streaming plumbing is pinned by
    test_stream_fingerprint_matches_corpus_copies.)"""
    import numpy as np
    import pandas as pd

    from rios_spark.streaming import stream_fingerprint_matches

    rng = np.random.default_rng(43)
    alpha = np.array(list("abcdefghij klmno"))
    text = "".join(rng.choice(alpha, 500))
    # corpus doc id=7 and an UNRELATED stream doc that happens to also
    # carry id=7 but copies corpus text -> a genuine match on a
    # colliding id
    corpus = spark.createDataFrame(pd.DataFrame({"doc_id": [7], "text": [text]}))
    stream_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "text": [text[50:470]]})
    )
    from rios_spark import textops

    corpus_fps = textops.doc_fingerprints(corpus)

    dropped = stream_fingerprint_matches(stream_docs, corpus_fps).count()
    kept = stream_fingerprint_matches(
        stream_docs, corpus_fps, exclude_self=False
    ).count()
    assert dropped == 0 and kept > 0


def test_stream_batch_oracle_threeway_dedup(spark, tmp_path):
    """VERDICT r5 #5: stream_dedup_exact lifted to the full THREE-WAY
    equivalence sessionize already has — the stream's keep-set ==
    dedup.exact_dedup's batch keep-set == the DuckDB oracle, on one
    fixture with duplicates both inside a micro-batch and across
    micro-batches. Files arrive in ascending page_id order so the
    stream's first-arrival-wins semantics coincide with the batch
    operator's min-id-wins — the documented alignment condition."""
    import time

    import duckdb

    from rios_spark import dedup
    from rios_spark.streaming import stream_dedup_exact

    texts = ["alpha", "beta", "alpha", "gamma", "beta", "alpha", "delta", "gamma"]
    pdf = pd.DataFrame({"page_id": range(8), "text": texts})
    src = tmp_path / "threeway_dd"
    src.mkdir()
    pdf.iloc[:4].to_parquet(src / "f1.parquet")
    time.sleep(0.2)
    pdf.iloc[4:].to_parquet(src / "f2.parquet")

    stream = (
        spark.readStream.schema("page_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_dedup_exact(stream, "text", "page_id")
        .writeStream.format("memory")
        .queryName("threeway_dd_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from threeway_dd_test").toPandas()

    batch = (
        dedup.exact_dedup(spark.createDataFrame(pdf), "text", "page_id")
        .select(F.md5("text").alias("content_hash"), "page_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("pages", pdf)
    oracle = con.execute(
        "select md5(text) content_hash, min(page_id) page_id from pages group by 1"
    ).df()

    norm = lambda d: set(zip(d["content_hash"], d["page_id"]))  # noqa: E731
    assert norm(got) == norm(batch) == norm(oracle)
    assert len(got) == 4  # alpha, beta, gamma, delta — each exactly once


def test_stream_batch_oracle_threeway_dedup_ttl(spark, tmp_path):
    """The TTL-eviction contract as a three-way. With ProcessingTime
    timeouts a key is evicted only at a trigger where it received NO
    data after its deadline lapsed — a key with data in consecutive
    micro-batches keeps refreshing its deadline and never re-emits. So
    with a 1 ms TTL and inter-batch sleeps, the keep-set is "first id
    per (hash, RUN of consecutive batches containing the hash)": the
    stream must equal that computed in batch (Spark window functions)
    and by the DuckDB oracle (same run derivation in SQL)."""
    import time

    import duckdb

    from rios_spark.streaming import stream_dedup_exact

    # f1: alpha x2 + beta; f2: gamma; f3: alpha + gamma.
    # Runs: alpha [f1],[f3] -> keeps 0 and 4; beta [f1] -> 2;
    # gamma [f2,f3] (consecutive: deadline refreshed, no re-emit) -> 3.
    f1 = pd.DataFrame({"page_id": [0, 1, 2], "text": ["alpha", "alpha", "beta"]})
    f2 = pd.DataFrame({"page_id": [3], "text": ["gamma"]})
    f3 = pd.DataFrame({"page_id": [4, 5], "text": ["alpha", "gamma"]})
    src = tmp_path / "threeway_ddttl"
    src.mkdir()
    for i, f in enumerate((f1, f2, f3)):
        f.to_parquet(src / f"f{i}.parquet")
        time.sleep(0.3)

    stream = (
        spark.readStream.schema("page_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_dedup_exact(stream, "text", "page_id", ttl_ms=1)
        .writeStream.format("memory")
        .queryName("threeway_ddttl_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("select * from threeway_ddttl_test").count() >= 4:
            break
        time.sleep(0.5)
    q.stop()
    got = spark.sql("select * from threeway_ddttl_test").toPandas()

    both = pd.concat(
        [f.assign(batch_id=i) for i, f in enumerate((f1, f2, f3))],
        ignore_index=True,
    )

    # batch mirror: min id per (hash, batch), runs of consecutive
    # batch_ids per hash, then min id per run — Spark window functions
    from pyspark.sql.window import Window

    firsts = (
        spark.createDataFrame(both)
        .groupBy(F.md5("text").alias("content_hash"), "batch_id")
        .agg(F.min("page_id").alias("pid"))
    )
    w = Window.partitionBy("content_hash").orderBy("batch_id")
    batch = (
        firsts.withColumn("prev", F.lag("batch_id").over(w))
        .withColumn(
            "new_run",
            (F.col("prev").isNull() | (F.col("batch_id") - F.col("prev") > 1)).cast("int"),
        )
        .withColumn("run", F.sum("new_run").over(w))
        .groupBy("content_hash", "run")
        .agg(F.min("pid").alias("page_id"))
        .select("content_hash", "page_id")
        .toPandas()
    )

    con = duckdb.connect()
    con.register("pages", both)
    oracle = con.execute(
        """
        with firsts as (
          select md5(text) content_hash, batch_id, min(page_id) pid
          from pages group by 1, 2),
        runs as (
          select content_hash, batch_id, pid,
                 sum(case when prev is null or batch_id - prev > 1
                          then 1 else 0 end)
                   over (partition by content_hash order by batch_id) run
          from (select *, lag(batch_id) over
                  (partition by content_hash order by batch_id) prev
                from firsts))
        select content_hash, min(pid) page_id
        from runs group by content_hash, run
        """
    ).df()

    norm = lambda d: set(zip(d["content_hash"], d["page_id"]))  # noqa: E731
    assert norm(got) == norm(batch) == norm(oracle)
    # alpha emitted twice (evicted during f2), gamma once (refreshed)
    assert len(got) == 4


def test_stream_batch_oracle_threeway_pair_join(spark, tmp_path):
    """VERDICT r5 #5: stream_pair_join's three-way — the stream's
    matched pairs == the identical batch join == a DuckDB oracle that
    re-derives the tile key with the SHARED cell_sql text (identical
    bigints on both engines) and applies the same +/- 30 min skew
    window."""
    import duckdb

    from rios_spark.grid import cell_sql
    from rios_spark.streaming import stream_pair_join

    pdf = datagen.gen_pages(3000)
    left_pdf = pdf[pdf["page_id"] % 2 == 0]
    right_pdf = pdf[pdf["page_id"] % 2 == 1]
    lsrc, rsrc = str(tmp_path / "pj3_l"), str(tmp_path / "pj3_r")
    cols = ["page_id", "warc_ts", "lat", "lon"]
    spark.createDataFrame(left_pdf[cols]).write.parquet(lsrc)
    spark.createDataFrame(right_pdf[cols]).write.parquet(rsrc)

    schema = spark.read.parquet(lsrc).schema
    ls = spark.readStream.schema(schema).parquet(lsrc)
    rs = spark.readStream.schema(schema).parquet(rsrc)
    q = (
        stream_pair_join(ls, rs, RES, max_skew="30 minutes")
        .writeStream.format("memory")
        .queryName("pj3_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from pj3_test").toPandas()

    l = (
        spark.read.parquet(lsrc)
        .withColumn("cell", cell_col("lat", "lon", RES))
        .select("cell", F.col("page_id").alias("left_id"), F.col("warc_ts").alias("left_ts"))
    )
    r = (
        spark.read.parquet(rsrc)
        .withColumn("cell", cell_col("lat", "lon", RES))
        .select(F.col("cell").alias("r_cell"), F.col("page_id").alias("right_id"),
                F.col("warc_ts").alias("right_ts"))
    )
    batch = (
        l.join(
            r,
            (l["cell"] == r["r_cell"])
            & (r["right_ts"] >= F.expr("left_ts - interval 30 minutes"))
            & (r["right_ts"] <= F.expr("left_ts + interval 30 minutes")),
            "inner",
        )
        .select("left_id", "right_id")
        .toPandas()
    )

    con = duckdb.connect()
    con.register("lp", left_pdf[cols])
    con.register("rp", right_pdf[cols])
    cell = cell_sql("lat", "lon", RES)
    oracle = con.execute(
        f"""
        with l as (select {cell} cell, page_id left_id, warc_ts left_ts from lp),
             r as (select {cell} cell, page_id right_id, warc_ts right_ts from rp)
        select left_id, right_id from l join r using (cell)
        where right_ts between left_ts - interval 30 minutes
                           and left_ts + interval 30 minutes
        """
    ).df()

    norm = lambda d: set(zip(d["left_id"], d["right_id"]))  # noqa: E731
    assert len(got) == len(norm(got)), "stream emitted a duplicate pair"
    assert norm(got) == norm(batch) == norm(oracle)
    assert len(norm(oracle)) > 20


def test_stream_embedding_topk_matches_batch(spark, tmp_path):
    """Stream-static similarity serving: the stateless brute kernel on
    a stream of query embeddings must equal the batch path row-for-row
    (same kernel, same broadcast corpus — identical floats)."""
    import numpy as np
    import pandas as pd

    from rios_spark import ann
    from rios_spark.streaming import stream_embedding_topk

    rng = np.random.default_rng(5)
    corpus = pd.DataFrame(
        {
            "vec_id": np.arange(300),
            "embedding": [v.tolist() for v in rng.normal(size=(300, 16))],
        }
    )
    qpdf = pd.DataFrame(
        {
            "qid": np.arange(25),
            "embedding": [v.tolist() for v in rng.normal(size=(25, 16))],
        }
    )
    src = str(tmp_path / "qstream")
    spark.createDataFrame(qpdf).write.parquet(src)
    stream = spark.readStream.schema(
        "qid long, embedding array<double>"
    ).parquet(src)
    q = (
        stream_embedding_topk(stream, corpus, 5)
        .writeStream.format("memory")
        .queryName("stream_topk_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from stream_topk_test").toPandas()
    want = ann.cosine_topk_bruteforce(
        spark.createDataFrame(qpdf), corpus, 5
    ).toPandas()
    key = ["qid", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got[key + ["neighbor_id"]].equals(want[key + ["neighbor_id"]])
    assert np.array_equal(got["cosine"].to_numpy(), want["cosine"].to_numpy())


def test_stream_indexed_topk_matches_batch(spark, tmp_path):
    """The persisted-IVF foreachBatch face: streamed queries searched
    per micro-batch against the partition-pruned index must equal the
    batch ivf_search at the same nprobe (same code path per batch)."""
    import numpy as np
    import pandas as pd

    from rios_spark import ann
    from rios_spark.streaming import stream_indexed_topk

    rng = np.random.default_rng(6)
    base = rng.normal(size=(500, 16))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(500), "embedding": [v.tolist() for v in base]}
    )
    idx = str(tmp_path / "sidx")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), idx, n_centroids=4, list_shards=2, seed=9
    )
    qpdf = pdf.iloc[:20].rename(columns={"vec_id": "qid"})
    src = str(tmp_path / "sq_src")
    spark.createDataFrame(qpdf).write.parquet(src)
    sink = str(tmp_path / "sq_sink")
    ckpt = str(tmp_path / "sq_ckpt")
    stream = spark.readStream.schema(
        "qid long, embedding array<double>"
    ).parquet(src)
    q = stream_indexed_topk(stream, idx, sink, ckpt, k=5, nprobe=4).start()
    q.awaitTermination(120)
    # epoch-retry idempotency (code-review r6: foreachBatch alone is
    # at-least-once): re-running the SAME epoch against the same sink
    # — here via a fresh checkpoint — must REPLACE the epoch partition,
    # not append duplicates
    q2 = stream_indexed_topk(
        stream, idx, sink, str(tmp_path / "sq_ckpt2"), k=5, nprobe=4
    ).start()
    q2.awaitTermination(120)
    got = (
        spark.read.parquet(sink)
        .drop("__epoch")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    want = (
        ann.ivf_search(spark, idx, spark.createDataFrame(qpdf), 5, nprobe=4)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert got[["qid", "rank", "neighbor_id"]].equals(
        want[["qid", "rank", "neighbor_id"]]
    )


def test_fan_out_widens_filtered_scan(spark, tmp_path):
    """A FILTERED one-partition scan has no parquet-footer count; the
    fan-out must not read that as "small" and skip: it widens the scan
    to full width (same rows), while an already-wide frame and a tiny
    proven-count scan stay as they are."""
    from rios_spark.plans import sizing

    path = str(tmp_path / "narrow.parquet")
    spark.range(5000).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    filtered = scan.filter("id % 2 = 0")
    assert sizing.footer_count(filtered) is None
    wide = sizing.fan_out(filtered)
    par = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == par
    assert sorted(r.id for r in wide.collect()) == list(range(0, 5000, 2))
    # proven count: 5000 rows // 2048 per task -> 2 tasks
    assert sizing.fan_out(scan).rdd.getNumPartitions() == 2
    assert sizing.fan_out(filtered, scan).rdd.getNumPartitions() == 2
    # a wide frame passes through untouched
    assert sizing.fan_out(wide) is wide
    # a proven-tiny scan stays put
    tiny = str(tmp_path / "tiny.parquet")
    spark.range(100).coalesce(1).write.parquet(tiny)
    tiny_df = spark.read.parquet(tiny)
    assert sizing.fan_out(tiny_df) is tiny_df


def test_sizing_streaming_frame_passes_through(spark, tmp_path):
    """Streaming frames cannot be counted or repartitioned: the fan-out
    returns them untouched, and the kNN gate keeps them on the
    broadcast brute kernel without a bounded count (the scan collects
    its queries, the tiled phases persist and run actions), or refuses
    a data side too large to broadcast."""
    from rios_spark.plans import sizing

    path = str(tmp_path / "src.parquet")
    spark.range(100).write.parquet(path)
    stream = spark.readStream.schema("id long").parquet(path)
    assert sizing.fan_out(stream) is stream
    assert sizing.ensure_parallelism(stream) is stream
    assert sizing.knn_branch(stream, 10**5, 3) == ("brute", None)
    assert sizing.knn_branch(stream, 10**5, 3, ring=1) == ("brute", None)
    with pytest.raises(ValueError, match="KNN_BROADCAST_ROWS"):
        sizing.knn_branch(stream, sizing.KNN_BROADCAST_ROWS + 1, 3)
