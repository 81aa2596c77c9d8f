"""Ports of the RIOS applier correctness oracles to the tile engine.

- testavg  (rios/riostests/testavg.py:35-111): average of ramp +
  reversed ramp must equal the numpy answer exactly, per pixel.
- testoverlap (rios/riostests/testoverlap.py:40-93): a 5x5 maximum
  filter computed per-tile WITH a k-ring margin must equal the
  whole-array filter with ZERO mismatching pixels.
- testfootprint (rios/riostests/testfootprint.py:100-134):
  INTERSECTION/UNION/BOUNDS_FROM_REFERENCE tile-set semantics,
  disjoint INTERSECTION raises.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rios_spark import applier, datagen
from rios_spark.grid import RES_MUL, Y_MUL

N, TILE, RES = 200, 25, 10


def _ramp_arrays(n=N):
    rows, cols = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    ramp = ((rows + cols) * 100.0 / (2 * n - 2)).astype(np.uint8)
    ramp_rev = ((rows + (n - 1 - cols)) * 100.0 / (2 * n - 2)).astype(np.uint8)
    return ramp, ramp_rev


def test_avg_two_ramps_exact(spark):
    """testavg: (f32(img1)+img2)/2 cast uint8, exact per pixel."""
    df1 = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES))
    df2 = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES, reverse=True))

    def avg_kernel(info, tile):
        tot = tile["img1__value"].to_numpy().astype(np.float32)
        tot += tile["img2__value"].to_numpy()
        avg = (tot / 2.0).astype(np.uint8)
        return pd.DataFrame(
            {"row": tile["row"], "col": tile["col"], "avg": avg.astype(np.int32)}
        )

    out = applier.apply(
        avg_kernel,
        {"img1": df1, "img2": df2},
        out_schema="row int, col int, avg int",
        align_keys=["row", "col"],
    ).toPandas()

    ramp, ramp_rev = _ramp_arrays()
    want = ((ramp.astype(np.float32) + ramp_rev) / 2.0).astype(np.uint8)
    got = np.zeros((N, N), np.int64)
    got[out["row"], out["col"]] = out["avg"]
    assert len(out) == N * N
    assert (got == want).all(), f"{(got != want).sum()} mismatching pixels"


def _max_filter_oracle(arr: np.ndarray, size: int) -> np.ndarray:
    """5x5 max over valid neighbours (pad with -1 < all data)."""
    h = size // 2
    pad = np.full((arr.shape[0] + 2 * h, arr.shape[1] + 2 * h), -1, np.int64)
    pad[h:-h, h:-h] = arr
    out = np.full_like(arr, -1, dtype=np.int64)
    for di in range(size):
        for dj in range(size):
            np.maximum(out, pad[di : di + arr.shape[0], dj : dj + arr.shape[1]], out=out)
    return out


def _tile_max_kernel(size):
    # self-contained closure: executors can't import the test module,
    # so the oracle is redefined inside (cloudpickled by value).
    def _max_filter_oracle(arr, size):
        h = size // 2
        pad = np.full((arr.shape[0] + 2 * h, arr.shape[1] + 2 * h), -1, np.int64)
        pad[h:-h, h:-h] = arr
        out = np.full_like(arr, -1, dtype=np.int64)
        for di in range(size):
            for dj in range(size):
                np.maximum(out, pad[di : di + arr.shape[0], dj : dj + arr.shape[1]], out=out)
        return out

    def kern(info, tile):
        rows = tile["row"].to_numpy()
        cols = tile["col"].to_numpy()
        vals = tile["value"].to_numpy().astype(np.int64)
        r0, c0 = rows.min(), cols.min()
        arr = np.full((rows.max() - r0 + 1, cols.max() - c0 + 1), -1, np.int64)
        arr[rows - r0, cols - c0] = vals
        filt = _max_filter_oracle(arr, size)
        out = pd.DataFrame(
            {
                "row": tile["row"],
                "col": tile["col"],
                "value": filt[rows - r0, cols - c0].astype(np.int32),
                "__is_margin": tile["__is_margin"],
            }
        )
        return out

    return kern


def test_overlap_max_filter_exact(spark):
    """testoverlap: per-tile 5x5 max filter with k=1 margin == whole-array."""
    df = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES))
    out = applier.apply(
        _tile_max_kernel(5),
        {"img": df},
        out_schema="row int, col int, value int",
        align_keys=["row", "col"],
        margin=1,
        res=RES,
    ).toPandas()

    ramp, _ = _ramp_arrays()
    want = _max_filter_oracle(ramp.astype(np.int64), 5)
    got = np.full((N, N), -99, np.int64)
    got[out["row"], out["col"]] = out["value"]
    assert len(out) == N * N  # margin trimmed: each pixel written exactly once
    mismatch = int((got != want).sum())
    assert mismatch == 0, f"Found {mismatch} incorrect pixels of {want.size}"


def test_overlap_zero_margin_is_wrong_at_seams(spark):
    """Negative control (mirrors the RIOS comment: without overlap a few
    hundred pixels come out wrong) — proves the margin join is load-bearing."""
    df = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES))
    out = applier.apply(
        _tile_max_kernel(5),
        {"img": df},
        out_schema="row int, col int, value int",
        align_keys=["row", "col"],
        margin=0,
    ).toPandas()
    ramp, _ = _ramp_arrays()
    want = _max_filter_oracle(ramp.astype(np.int64), 5)
    got = np.full((N, N), -99, np.int64)
    got[out["row"], out["col"]] = out["value"]
    assert int((got != want).sum()) > 100


def _tileset(df):
    return set(df.select("cell").distinct().toPandas()["cell"])


def test_footprint_modes(spark):
    """testfootprint: tile-set join semantics for the working grid."""
    a = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES))
    b = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES, row0=100, col0=100))

    ident = lambda info, tile: tile[["cell", "row", "col"]].drop_duplicates()  # noqa: E731
    schema = "cell long, row int, col int"

    inter = applier.apply(
        ident, {"a": a, "b": b}, schema, align_keys=["row", "col"],
        footprint=applier.INTERSECTION,
    )
    cells_a, cells_b = _tileset(a), _tileset(b)
    assert _tileset(inter) == cells_a & cells_b

    union = applier.apply(
        ident, {"a": a, "b": b}, schema, align_keys=["row", "col"],
        footprint=applier.UNION,
    )
    assert _tileset(union) == cells_a | cells_b

    ref = applier.apply(
        ident, {"a": a, "b": b}, schema, align_keys=["row", "col"],
        footprint=applier.BOUNDS_FROM_REFERENCE, reference="b",
    )
    assert _tileset(ref) == cells_b

    # union fills missing input rows with NULL (rios/imagereader.py:102-115)
    def null_count_kernel(info, tile):
        return pd.DataFrame(
            {
                "cell": [info.cell],
                "a_nulls": [int(tile["a__value"].isna().sum())],
                "rows": [len(tile)],
            }
        )

    nc = applier.apply(
        null_count_kernel, {"a": a, "b": b}, "cell long, a_nulls long, rows long",
        align_keys=["row", "col"], footprint=applier.UNION,
    ).toPandas()
    only_b = cells_b - cells_a
    got_full_null = set(nc[nc["a_nulls"] == nc["rows"]]["cell"])
    assert only_b <= got_full_null


def test_disjoint_intersection_raises(spark):
    a = spark.createDataFrame(datagen.gen_ramp(50, 50, TILE, RES))
    b = spark.createDataFrame(datagen.gen_ramp(50, 50, TILE, RES, row0=5000, col0=5000))
    with pytest.raises(ValueError, match="do not intersect"):
        applier.apply(
            lambda i, t: t, {"a": a, "b": b}, "cell long",
            align_keys=["row", "col"], footprint=applier.INTERSECTION,
        )


def test_single_input_apply_reads_input_once(spark, tmp_path, counted_reads):
    """One input is its own footprint: apply with a margin plus the
    tiled write scan the input once, with no distinct-cell pass and no
    emptiness probe."""
    from rios_spark import sources
    from rios_spark.grid import cell_col

    pages = spark.createDataFrame(datagen.gen_pages(3000)).select(
        cell_col("lat", "lon", 6).alias("cell"), "page_id", "lat"
    )
    counted, reads = counted_reads(pages)

    def kernel(info, tile):
        return tile[["page_id", "__is_margin"]]

    out = applier.apply(kernel, {"p": counted}, "cell long, page_id long", margin=1, res=6)
    sources.write_tiled(out, str(tmp_path / "tiles"), 6)
    assert reads.value == 3000
    back = spark.read.parquet(str(tmp_path / "tiles"))
    assert back.count() == 3000 and back.select("page_id").distinct().count() == 3000


def test_single_input_footprints(spark):
    """Every footprint of one input is that input's cell set; a single
    EMPTY input yields an empty frame, not the "do not intersect" error
    (that rule is about two grids that do not meet); an unknown mode or
    a reference naming no input still raises."""
    a = spark.createDataFrame(datagen.gen_ramp(50, 50, TILE, RES))
    ident = lambda info, tile: tile[["cell", "row", "col"]]  # noqa: E731
    for mode in (applier.INTERSECTION, applier.UNION, applier.BOUNDS_FROM_REFERENCE):
        got = applier.apply(ident, {"a": a}, "cell long, row int, col int",
                            align_keys=["row", "col"], footprint=mode)
        assert _tileset(got) == _tileset(a)
        assert got.count() == 50 * 50

    empty = a.limit(0)
    got = applier.apply(ident, {"a": empty}, "cell long, row int, col int",
                        align_keys=["row", "col"], footprint=applier.INTERSECTION)
    assert got.count() == 0

    with pytest.raises(ValueError, match="unknown footprint"):
        applier.apply(ident, {"a": a}, "cell long", align_keys=["row", "col"],
                      footprint="NEAREST")
    with pytest.raises(ValueError, match="names no input"):
        applier.apply(ident, {"a": a}, "cell long", align_keys=["row", "col"],
                      footprint=applier.BOUNDS_FROM_REFERENCE, reference="b")


def test_tileinfo_fields(spark):
    """testreaderinfo analogue: TileInfo must self-describe the tile."""
    cellid = 10 * RES_MUL + 7 * Y_MUL + 3
    info = applier.TileInfo.from_cell(cellid, margin=2)
    assert (info.res, info.y, info.x, info.margin) == (10, 7, 3, 2)
    n = 1 << 10
    assert info.lon_min == pytest.approx(3 / n * 360.0 - 180.0)
    assert info.lat_max == pytest.approx(90.0 - 7 / n * 180.0)
    # bounds must contain the centre and re-encode correctly
    from rios_spark import grid

    clat, clon = grid.np_cell_center(np.asarray([cellid]))
    assert info.lat_min < clat[0] < info.lat_max
    assert info.lon_min < clon[0] < info.lon_max


def test_avg_invariant_under_parallelism(spark):
    """testavgthreads/testavgsubproc parity: concurrency / partitioning
    must not change answers. The same avg kernel runs over 1-partition
    and 16-partition inputs; results are identical row-for-row."""
    df1 = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES))
    df2 = spark.createDataFrame(datagen.gen_ramp(N, N, TILE, RES, reverse=True))

    def avg_kernel(info, tile):
        tot = tile["img1__value"].to_numpy().astype(np.float32)
        tot += tile["img2__value"].to_numpy()
        return pd.DataFrame(
            {"row": tile["row"], "col": tile["col"],
             "avg": (tot / 2.0).astype(np.uint8).astype(np.int32)}
        )

    def run(a, b):
        return (
            applier.apply(
                avg_kernel, {"img1": a, "img2": b},
                out_schema="row int, col int, avg int",
                align_keys=["row", "col"],
            )
            .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
        )

    serial = run(df1.coalesce(1), df2.coalesce(1))
    parallel = run(df1.repartition(16), df2.repartition(16))
    assert serial.equals(parallel)


def test_remove_surrounding_footprint_scenarios():
    """Port of testRemoveSurrounding scenarios A-E
    (rios/riostests/testfootprint.py:146-206), bboxes in lat/lon."""
    from rios_spark.applier import remove_surrounding

    glob = (-180.0, -90.0, 180.0, 90.0)
    ctr = (10.0, -40.0, 20.0, -30.0)
    ctr_small = (12.0, -38.0, 18.0, -32.0)
    ctr_offset = (15.0, -45.0, 25.0, -35.0)
    bris = (150.0, -30.0, 155.0, -25.0)

    # A: global surrounds both -> removed
    assert remove_surrounding(
        {"g": glob, "c": ctr, "o": ctr_offset}
    ) == ["c", "o"]
    # B: small is surrounded but does not surround -> kept
    assert remove_surrounding(
        {"g": glob, "s": ctr_small, "c": ctr, "o": ctr_offset}
    ) == ["s", "c", "o"]
    # C: partial overlap, nothing surrounds all -> both kept
    assert remove_surrounding({"c": ctr, "o": ctr_offset}) == ["c", "o"]
    # D: global vs one -> global removed
    assert remove_surrounding({"g": glob, "b": bris}) == ["b"]
    # E: single input always kept
    assert remove_surrounding({"b": bris}) == ["b"]
    # iterative: nested surrounds chain removes outer two
    assert remove_surrounding(
        {"g": glob, "mid": (0.0, -50.0, 30.0, -20.0), "c": ctr}
    ) == ["c"]
