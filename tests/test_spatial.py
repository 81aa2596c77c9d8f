"""Spatial join oracles.

- testvector parity (rios/riostests/testvector.py:99-152): zonal mean
  inside polygons == numpy mask mean exactly; disjoint polygon → no row.
- PIP edge semantics: half-open rectangles == SQL range predicates
  (the DuckDB-oracle contract).
- kNN: tiled distributed kNN == brute force exactly, including ties
  and the completeness-guard fallback.
- NN-resample analogue (rios/riostests/testresample.py:86-117): k=1
  euclidean NN of a shifted grid == array shift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rios_spark import datagen, spatial
from rios_spark.grid import cell_col, np_cell
from rios_spark.plans import sizing


def _pages_df(spark, n=8000, res=5):
    pages = datagen.gen_pages(n)
    return (
        spark.createDataFrame(pages[["page_id", "lat", "lon", "lang"]])
        .withColumn("cell", cell_col("lat", "lon", res))
    ), pages


def test_ray_cast_rectangle_half_open():
    xs = np.array([0.0, 10.0, 10.0, 0.0])
    ys = np.array([0.0, 0.0, 5.0, 5.0])
    px = np.array([5.0, 0.0, 10.0, 5.0, 5.0, -1.0, 11.0, 5.0, 5.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, 5.0, 2.0, 2.0, -1.0, 6.0])
    got = spatial.ray_cast(px, py, xs, ys)
    # [xmin, xmax) x [ymin, ymax): left/bottom edges IN, right/top OUT
    want = np.array([True, True, False, True, False, False, False, False, False])
    assert (got == want).all()


def test_ray_cast_matches_sql_ranges_on_random_points():
    rng = np.random.default_rng(9)
    px = rng.uniform(-20, 20, 5000)
    py = rng.uniform(-20, 20, 5000)
    xs = np.array([-5.0, 8.0, 8.0, -5.0])
    ys = np.array([-3.0, -3.0, 7.0, 7.0])
    got = spatial.ray_cast(px, py, xs, ys)
    want = (px >= -5.0) & (px < 8.0) & (py >= -3.0) & (py < 7.0)
    assert (got == want).all()


def test_pip_join_and_zonal_match_numpy(spark):
    res = 5
    df, pages = _pages_df(spark, 8000, res)
    polys = datagen.gen_polygons()

    out = spatial.zonal_stats(df, polys, res, "page_id").toPandas().set_index("polygon_id")

    lon = pages["lon"].to_numpy()
    lat = pages["lat"].to_numpy()
    pid_vals = pages["page_id"].to_numpy(np.float64)
    seen = 0
    for _, p in polys.iterrows():
        xs = np.asarray(p["xs"], np.float64)
        ys = np.asarray(p["ys"], np.float64)
        mask = spatial.ray_cast(lon, lat, xs, ys)
        pid = int(p["polygon_id"])
        if mask.sum() == 0:
            assert pid not in out.index  # disjoint → no row
            continue
        seen += 1
        row = out.loc[pid]
        assert row["count"] == mask.sum()
        assert row["mean"] == pytest.approx(pid_vals[mask].mean(), rel=1e-12)
        assert row["minval"] == pid_vals[mask].min()
        assert row["maxval"] == pid_vals[mask].max()
    assert seen >= 3  # big_band + pentagon + at least one square hit
    # disjoint polygon must be absent
    dis = int(polys[polys["kind"] == "disjoint"]["polygon_id"].iloc[0])
    assert dis not in out.index


def test_pip_join_row_level(spark):
    """A point inside two overlapping polygons yields two rows."""
    res = 4
    pts = pd.DataFrame({"page_id": [0, 1], "lat": [1.0, 50.0], "lon": [1.0, 50.0]})
    df = spark.createDataFrame(pts).withColumn("cell", cell_col("lat", "lon", res))
    polys = pd.DataFrame(
        {
            "polygon_id": [0, 1],
            "xs": [[-5.0, 5.0, 5.0, -5.0], [-3.0, 3.0, 3.0, -3.0]],
            "ys": [[-5.0, -5.0, 5.0, 5.0], [-3.0, -3.0, 3.0, 3.0]],
        }
    )
    out = spatial.pip_join(df, polys, res).toPandas()
    assert len(out) == 2
    assert set(out["polygon_id"]) == {0, 1}
    assert (out["page_id"] == 0).all()


def _star_polygons(centres, n_vertices, seed):
    """Star-shaped rings (radius 2-6 degrees, wobbling) around `centres`."""
    rng = np.random.default_rng(seed)
    t = np.linspace(0.0, 2.0 * np.pi, n_vertices, endpoint=False)
    rows = []
    for i, (clat, clon) in enumerate(centres):
        r = 4.0 + 2.0 * np.sin(7.0 * t + rng.uniform(0, np.pi))
        rows.append({"polygon_id": 100 + i, "xs": list(clon + r * np.cos(t)),
                     "ys": list(clat + 0.5 * r * np.sin(t))})
    return pd.DataFrame(rows)


def test_pip_join_same_rows_on_both_kernels(spark, monkeypatch):
    """pip_join picks its exact test by total vertex count
    (sizing.PIP_EXPR_MAX_VERTICES): the JVM expression up to the gate,
    the Arrow numpy kernel past it. Both sides of the gate, forced by
    the gate itself, give the same rows as the numpy ray-cast oracle —
    on the fixture polygons and on a star set past the default gate."""
    res = 5
    df, pages = _pages_df(spark, 3000, res)
    inner = pages[pages["lon"].abs() < 150]
    centres = inner[["lat", "lon"]].to_numpy()[[0, 300, 600, 900]]
    stars = _star_polygons(centres, 700, seed=3)
    assert sum(len(x) for x in stars["xs"]) > sizing.PIP_EXPR_MAX_VERTICES
    lon = pages["lon"].to_numpy()
    lat = pages["lat"].to_numpy()
    for polys in (datagen.gen_polygons()[["polygon_id", "xs", "ys"]], stars):
        want = sorted(
            (int(pid), int(page))
            for _, p in polys.iterrows()
            for pid, page in zip(
                [p["polygon_id"]] * len(pages),
                pages["page_id"].to_numpy()[spatial.ray_cast(
                    lon, lat, np.asarray(p["xs"]), np.asarray(p["ys"]))],
            )
        )
        assert want
        columns = []
        for gate in (10**9, 0):  # expression, then Arrow kernel
            monkeypatch.setattr(sizing, "PIP_EXPR_MAX_VERTICES", gate)
            out = spatial.pip_join(df, polys, res).toPandas()
            columns.append(list(out.columns))
            got = sorted(zip(out["polygon_id"].astype(int), out["page_id"].astype(int)))
            assert got == want
        assert columns[0] == columns[1]


def _brute_oracle(qdf, ddf, k):
    d = spatial.haversine_km(
        qdf["lat"].to_numpy()[:, None],
        qdf["lon"].to_numpy()[:, None],
        ddf["lat"].to_numpy()[None, :],
        ddf["lon"].to_numpy()[None, :],
    )
    ids = ddf["id"].to_numpy()
    out = {}
    for i in range(len(qdf)):
        order = np.lexsort((ids, d[i]))[:k]
        out[int(qdf["qid"].iloc[i])] = [(int(ids[j]), d[i][j]) for j in order]
    return out


def _assert_same_knn(a: pd.DataFrame, b: pd.DataFrame) -> None:
    """Same kNN rows: every column equal, distances to 1e-9 relative
    (the tiled path ranks on JVM haversine, the scan on numpy)."""
    assert list(a.columns) == list(b.columns)
    keys = [c for c in a.columns if c != "dist_km"]
    a = a.sort_values(keys).reset_index(drop=True)
    b = b.sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[keys], b[keys], check_dtype=False)
    np.testing.assert_allclose(a["dist_km"], b["dist_km"], rtol=1e-9)


def _tiled_and_default(monkeypatch, run):
    """The tiny inputs of the tests that exercise knn_tiled's tiled
    machinery would go to its small-batch scan. `run(counters)` ->
    pandas runs once pinned to the tiled branch (a zero scan pair
    budget) and once on the default branch, which must take the scan
    and give the same rows. Returns the tiled rows and counters."""
    with monkeypatch.context() as m:
        m.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", 0)
        counters: dict = {}
        tiled = run(counters)
    assert counters["branch"] == "tiled"
    default: dict = {}
    _assert_same_knn(tiled, run(default))
    assert default["branch"] == "scan"
    return tiled, counters


def test_knn_bruteforce_exact(spark):
    rng = np.random.default_rng(11)
    qdf = pd.DataFrame(
        {"qid": np.arange(50), "lat": rng.uniform(-40, 40, 50), "lon": rng.uniform(-90, 90, 50)}
    )
    ddf = pd.DataFrame(
        {"id": np.arange(300), "lat": rng.uniform(-45, 45, 300), "lon": rng.uniform(-95, 95, 300)}
    )
    got = (
        spatial.knn_bruteforce(
            spark.createDataFrame(qdf), spark.createDataFrame(ddf), 3, d_id="id"
        )
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    want = _brute_oracle(qdf, ddf, 3)
    for qid, grp in got.groupby("qid"):
        pairs = list(zip(grp["neighbor_id"], grp["dist_km"]))
        for (gi, gd), (wi, wd) in zip(pairs, want[qid]):
            assert gi == wi
            assert gd == pytest.approx(wd, rel=1e-12)


def test_knn_tiled_equals_bruteforce(spark):
    """The distributed kNN (candidates + guard + residue) is EXACT."""
    res = 4
    rng = np.random.default_rng(13)
    # clustered data so some queries have dense rings and others sparse
    # (forcing both the fast path and the brute-force residue)
    centers = rng.uniform(-60, 60, (5, 2))
    dpts = np.concatenate(
        [c + rng.normal(0, 3, (60, 2)) for c in centers]
        + [rng.uniform(-70, 70, (30, 2))]
    )
    ddf = pd.DataFrame({"id": np.arange(len(dpts)), "lat": dpts[:, 0], "lon": dpts[:, 1]})
    qpts = rng.uniform(-65, 65, (40, 2))
    qdf = pd.DataFrame({"qid": np.arange(40), "lat": qpts[:, 0], "lon": qpts[:, 1]})

    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))

    got = (
        spatial.knn_tiled(queries, data, 3, res, ring=1, d_id="id")
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    want = _brute_oracle(qdf, ddf, 3)
    assert len(got) == 40 * 3
    for qid, grp in got.groupby("qid"):
        pairs = list(zip(grp["neighbor_id"], grp["dist_km"]))
        for (gi, gd), (wi, wd) in zip(pairs, want[int(qid)]):
            assert gi == wi, f"qid={qid}: {pairs} vs {want[int(qid)]}"
            assert gd == pytest.approx(wd, rel=1e-9)


def test_knn_tiled_internal_retile_exact(spark, monkeypatch):
    """Dense data at a coarse caller res triggers the density-adaptive
    internal re-tile (ring='auto'); results must stay exact and the
    caller's cell column must pass through untouched (r7: candidate
    volume at a fixed res grows linearly with density — the sf10
    cliff)."""
    res = 3  # 64 cells; 3000 points -> ~47/cell: retile must fire
    rng = np.random.default_rng(29)
    dpts = rng.uniform(-60, 60, (3000, 2))
    ddf = pd.DataFrame(
        {"id": np.arange(len(dpts)), "lat": dpts[:, 0], "lon": dpts[:, 1]}
    )
    qpts = rng.uniform(-65, 65, (50, 2))
    qdf = pd.DataFrame({"qid": np.arange(50), "lat": qpts[:, 0], "lon": qpts[:, 1]})

    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))

    got, counters = _tiled_and_default(
        monkeypatch,
        lambda c: spatial.knn_tiled(queries, data, 3, res, d_id="id", q_id="qid",
                                    counters=c).toPandas(),
    )
    got = got.sort_values(["qid", "rank"])
    # the re-tile fired: 9 * 3000 / 4^r >= 12 holds up to r = 5
    assert counters["res_internal"] == 5
    assert len(got) == 50 * 3
    # caller's res-3 cell values pass through unchanged
    cell3 = (
        spark.createDataFrame(qdf)
        .withColumn("cell", cell_col("lat", "lon", res))
        .toPandas()
        .set_index("qid")["cell"]
    )
    for qid, grp in got.groupby("qid"):
        assert (grp["cell"] == cell3[int(qid)]).all()
    want = _brute_oracle(qdf, ddf, 3)
    for qid, grp in got.groupby("qid"):
        pairs = list(zip(grp["neighbor_id"], grp["dist_km"]))
        for (gi, gd), (wi, wd) in zip(pairs, want[int(qid)]):
            assert gi == wi, f"qid={qid}: {pairs} vs {want[int(qid)]}"
            assert gd == pytest.approx(wd, rel=1e-9)


def test_nn_resample_equals_array_shift(spark):
    """testresample parity: NN (k=1, euclidean on grid coords) of a
    half-pixel-shifted grid == array shift, exact."""
    n = 60
    rows, cols = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    vals = ((rows + cols) * 100.0 / (2 * n - 2)).astype(np.uint8).astype(np.int64)
    # data: pixel centres at integer coords
    ddf = pd.DataFrame(
        {"id": np.arange(n * n), "lat": rows.ravel().astype(float), "lon": cols.ravel().astype(float)}
    )
    # queries: grid shifted by (+0.3, -0.4) px → NN is the same pixel
    # offset by (0, 0) rounded — i.e. value at (row, col) again
    qdf = pd.DataFrame(
        {
            "qid": np.arange(n * n),
            "lat": rows.ravel() + 0.3,
            "lon": cols.ravel() - 0.4,
        }
    )
    data = spark.createDataFrame(ddf)
    got = (
        spatial.knn_bruteforce(
            spark.createDataFrame(qdf), data, 1, metric="euclidean", d_id="id"
        )
        .toPandas()
        .sort_values("qid")
    )
    # nearest integer coords = (round(lat), round(lon)) = (row, col)
    assert (got["neighbor_id"].to_numpy() == np.arange(n * n)).all()
    # a full-pixel shift picks the shifted pixel (the array-shift oracle)
    qdf2 = qdf.assign(lat=qdf["lat"] + 1.0)  # total +1.3 → rounds to row+1
    got2 = (
        spatial.knn_bruteforce(
            spark.createDataFrame(qdf2), data, 1, metric="euclidean", d_id="id"
        )
        .toPandas()
        .sort_values("qid")
    )
    want2 = np.where(rows.ravel() + 1 < n, (rows.ravel() + 1) * n + cols.ravel(), got2["neighbor_id"])
    assert (got2["neighbor_id"].to_numpy() == want2).all()


def test_resample_bilinear(spark):
    """Bilinear/IDW resample: exact-hit returns the point's value;
    otherwise the IDW of the 4 nearest — checked vs a numpy oracle."""
    rng = np.random.default_rng(17)
    ddf = pd.DataFrame(
        {"id": np.arange(100), "lat": rng.uniform(-10, 10, 100),
         "lon": rng.uniform(-10, 10, 100), "v": rng.normal(0, 5, 100)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(30), "lat": rng.uniform(-9, 9, 30), "lon": rng.uniform(-9, 9, 30)}
    )
    # make query 0 an exact hit on data point 7
    qdf.loc[0, ["lat", "lon"]] = ddf.loc[7, ["lat", "lon"]].to_numpy()
    out = (
        spatial.resample_join(
            spark.createDataFrame(qdf), spark.createDataFrame(ddf), "v",
            method="bilinear", d_id="id",
        )
        .toPandas().set_index("qid").sort_index()
    )
    assert len(out) == 30
    assert out.loc[0, "resampled"] == pytest.approx(ddf.loc[7, "v"], rel=1e-9)
    # numpy oracle for a few queries
    for qid in (1, 5, 12):
        q = qdf[qdf.qid == qid].iloc[0]
        d = spatial.haversine_km(q.lat, q.lon, ddf["lat"].to_numpy(), ddf["lon"].to_numpy())
        order = np.lexsort((ddf["id"].to_numpy(), d))[:4]
        w = 1.0 / d[order]
        want = (w * ddf["v"].to_numpy()[order]).sum() / w.sum()
        assert out.loc[qid, "resampled"] == pytest.approx(want, rel=1e-9)


def test_resample_pair_budget_dispatch_exact(spark, monkeypatch, tmp_path):
    """resample_join is knn_join plus a weighting tail: on each of
    knn_join's branches (scan, brute, tiled) the resampled values match
    the numpy IDW oracle. Ten query rows are exact duplicates: every
    branch answers each copy with its own 4 distinct neighbours, so the
    copies resample to the same value and fold into one row per
    distinct query row (70 rows in, 60 out)."""
    rng = np.random.default_rng(41)
    ddf = pd.DataFrame(
        {"id": np.arange(400), "lat": rng.uniform(-30, 30, 400),
         "lon": rng.uniform(-30, 30, 400), "v": rng.normal(0, 5, 400)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(60), "lat": rng.uniform(-29, 29, 60),
         "lon": rng.uniform(-29, 29, 60)}
    )
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(pd.concat([qdf, qdf.iloc[:10]])).write.parquet(qpath)
    queries = spark.read.parquet(qpath)

    branches = []
    knn_join = spatial.knn_join

    def spy(*args, **kwargs):
        counters: dict = {}
        out = knn_join(*args, counters=counters, **kwargs)
        branches.append(counters["branch"])
        return out

    monkeypatch.setattr(spatial, "knn_join", spy)

    def check(ddf, branch):
        got = (
            spatial.resample_join(queries, spark.createDataFrame(ddf), "v",
                                  method="bilinear", d_id="id")
            .toPandas().set_index("qid").sort_index()
        )
        assert branches[-1] == branch
        assert len(got) == 60
        d = spatial.haversine_km(
            qdf["lat"].to_numpy()[:, None], qdf["lon"].to_numpy()[:, None],
            ddf["lat"].to_numpy()[None, :], ddf["lon"].to_numpy()[None, :],
        )
        for i, qid in enumerate(qdf["qid"]):
            order = np.lexsort((ddf["id"].to_numpy(), d[i]))[:4]
            w = 1.0 / d[i][order]
            want = (w * ddf["v"].to_numpy()[order]).sum() / w.sum()
            assert got.loc[qid, "resampled"] == pytest.approx(want, rel=1e-9)

    check(ddf, "scan")  # Q = 70 <= N = 400, 28k pairs
    check(ddf.iloc[:50], "brute")  # Q = 70 > N = 50
    monkeypatch.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", 0)
    monkeypatch.setattr(sizing, "KNN_BRUTE_PAIR_BUDGET", 0)
    check(ddf, "tiled")


def test_knn_join_unknown_query_count_fails_closed(spark, monkeypatch, tmp_path):
    """A FILTERED query side has no parquet-footer count. knn_join's
    gate then sizes it with one bounded count instead of assuming it is
    small: against a larger data side the scan runs exactly at the scan
    pair budget and the tiled path one pair below it; against a smaller
    data side the brute kernel runs exactly at the brute pair budget
    and the tiled path one pair below. The count reads 40 each time
    (exact, or cap + 1 = "more than 39"), and every answer equals the
    brute-force oracle."""
    rng = np.random.default_rng(43)
    qdf = pd.DataFrame({"qid": np.arange(60), "lat": rng.uniform(-40, 40, 60),
                        "lon": rng.uniform(-40, 40, 60)})
    ddf = pd.DataFrame({"id": np.arange(200), "lat": rng.uniform(-45, 45, 200),
                        "lon": rng.uniform(-45, 45, 200)})
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(qdf).write.parquet(qpath)
    queries = spark.read.parquet(qpath).filter("qid % 3 != 0")
    assert sizing.footer_count(queries) is None
    kept = qdf[qdf["qid"] % 3 != 0].reset_index(drop=True)

    for n, budget in ((200, "KNN_SCAN_PAIR_BUDGET"), (20, "KNN_BRUTE_PAIR_BUDGET")):
        data = spark.createDataFrame(ddf.iloc[:n])
        for pairs, branch in ((40 * n, "scan" if n == 200 else "brute"),
                              (40 * n - 1, "tiled")):
            monkeypatch.setattr(sizing, budget, pairs)
            counters: dict = {}
            got = spatial.knn_join(queries, data, 3, 4, d_id="id", q_id="qid",
                                   counters=counters).toPandas()
            assert counters["branch"] == branch
            assert counters["q_rows"] == 40
            _assert_matches_oracle(got, kept, ddf.iloc[:n], 3)


def test_asof_join_matches_pandas(spark):
    """As-of join == pandas merge_asof (inclusive <= semantics)."""
    from rios_spark.temporal import asof_join

    rng = np.random.default_rng(23)
    left = pd.DataFrame({
        "k": rng.integers(0, 5, 200), "ts": rng.integers(0, 1000, 200),
        "lv": np.arange(200),
    }).drop_duplicates(["k", "ts"])
    right = pd.DataFrame({
        "k": rng.integers(0, 5, 60), "ts": rng.integers(0, 1000, 60),
        "rv": np.arange(60) * 10,
    }).drop_duplicates(["k", "ts"])
    got = (
        asof_join(spark.createDataFrame(left), spark.createDataFrame(right), "k", "ts")
        .toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    )
    want = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("ts"), on="ts", by="k",
        direction="backward", allow_exact_matches=True,
    ).sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(got) == len(want)
    g = got["rv_asof"].fillna(-1).to_numpy()
    w = want["rv"].fillna(-1).to_numpy()
    assert (g == w).all()


def test_knn_join_auto_dispatch(spark):
    """knn_join's gate on a small batch (Q=20 <= N=80): the auto ring
    takes the scan, an explicit ring the tiled path, read from the
    counters; both answers are identical."""
    rng = np.random.default_rng(41)
    qdf = pd.DataFrame({"qid": np.arange(20), "lat": rng.uniform(-40, 40, 20), "lon": rng.uniform(-40, 40, 20)})
    ddf = pd.DataFrame({"id": np.arange(80), "lat": rng.uniform(-45, 45, 80), "lon": rng.uniform(-45, 45, 80)})
    q = spark.createDataFrame(qdf)
    d = spark.createDataFrame(ddf)
    auto_c: dict = {}
    tiled_c: dict = {}
    auto = spatial.knn_join(q, d, 3, 4, d_id="id", counters=auto_c).toPandas()
    tiled = spatial.knn_join(q, d, 3, 4, ring=1, d_id="id", q_id="qid",
                             counters=tiled_c).toPandas()
    assert auto_c["branch"] == "scan" and tiled_c["branch"] == "tiled"
    _assert_same_knn(auto, tiled)


def test_block_topk_chunking_invariant(monkeypatch):
    """The GEMM memory cap (GEMM_BUDGET) must not change results:
    a tiny budget forces many query-row chunks; compare against the
    unchunked full-sort answer."""
    rng = np.random.default_rng(21)
    nq, nd, k = 37, 211, 5
    qla, qlo = rng.uniform(-60, 60, nq), rng.uniform(-170, 170, nq)
    dla, dlo = rng.uniform(-60, 60, nd), rng.uniform(-170, 170, nd)
    did = rng.permutation(nd).astype(np.int64)
    monkeypatch.setattr(sizing, "GEMM_BUDGET", 100)  # ~0.5 rows/chunk worth
    ids, dist = spatial._block_topk(qla, qlo, dla, dlo, did, k)
    full = spatial.haversine_km(qla[:, None], qlo[:, None], dla[None, :], dlo[None, :])
    for i in range(nq):
        order = np.lexsort((did, full[i]))[:k]
        assert ids[i].tolist() == did[order].tolist()
        np.testing.assert_allclose(dist[i], full[i][order], rtol=1e-12)


def test_knn_tiled_residual_scan_no_driver_collect(spark):
    """Force the full residue path: data so sparse that no ring (or
    escalated ring) can prove completeness for most queries — the
    distributed residual scan must still return the EXACT answer.
    Replaces the round-1 data.toPandas() full collect (VERDICT #5)."""
    res = 6
    rng = np.random.default_rng(31)
    # 6 data points on a planet: every k=3 guard fails at ring 1
    ddf = pd.DataFrame(
        {"id": np.arange(6), "lat": rng.uniform(-70, 70, 6), "lon": rng.uniform(-170, 170, 6)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(25), "lat": rng.uniform(-70, 70, 25), "lon": rng.uniform(-170, 170, 25)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    got = (
        spatial.knn_tiled(queries, data, 3, res, ring=1, d_id="id", q_id="qid")
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    want = _brute_oracle(qdf, ddf, 3)
    assert len(got) == 25 * 3
    for qid, grp in got.groupby("qid"):
        pairs = list(zip(grp["neighbor_id"], grp["dist_km"]))
        for (gi, gd), (wi, wd) in zip(pairs, want[int(qid)]):
            assert gi == wi
            assert gd == pytest.approx(wd, rel=1e-9)


def test_zonal_salt_uses_partition_id(spark):
    """Skew contract: the zonal stage-1 salt must split a HOT CELL, so
    it cannot be a function of the cell value (round-1 bug: xxhash64 of
    the cell gave every row of a hot tile the same salt). The physical
    plan must salt on SPARK_PARTITION_ID, and results stay exact."""
    rng = np.random.default_rng(41)
    n = 4000
    # every point in one hot cell (one dense web host tile)
    pdf = pd.DataFrame(
        {
            "page_id": np.arange(n),
            "lat": 10.0 + rng.uniform(0, 0.01, n),
            "lon": 20.0 + rng.uniform(0, 0.01, n),
            "v": rng.integers(0, 100, n).astype(float),
        }
    )
    pts = (
        spark.createDataFrame(pdf)
        .repartition(8)
        .withColumn("cell", cell_col("lat", "lon", 5))
    )
    polys = pd.DataFrame(
        [{"polygon_id": 0, "xs": [0.0, 40.0, 40.0, 0.0], "ys": [0.0, 0.0, 40.0, 40.0]}]
    )
    out = spatial.zonal_stats(pts, polys, 5, "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan
    row = out.toPandas().iloc[0]
    assert row["count"] == n
    assert row["sum"] == pytest.approx(pdf["v"].sum())
    assert row["mean"] == pytest.approx(pdf["v"].mean())


def test_asof_join_null_payload_from_matched_row(spark):
    """A genuinely-NULL payload column in the matched right row must come
    through as NULL — not be back-filled from an OLDER right row (the
    round-1 per-column last(ignorenulls) bug). All carried columns must
    come from the SAME matched right row."""
    from rios_spark.temporal import asof_join

    left = pd.DataFrame({"k": [1, 1, 1], "ts": [5, 15, 25], "lv": [0, 1, 2]})
    right = pd.DataFrame(
        {
            "k": [1, 1, 1],
            "ts": [0, 10, 20],
            "a": [100.0, None, 300.0],
            "b": [None, 200.0, None],
        }
    )
    got = (
        asof_join(spark.createDataFrame(left), spark.createDataFrame(right), "k", "ts")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert got["ts_asof"].tolist() == [0, 10, 20]
    # row ts=15 matched right ts=10: a must be NULL (not 100.0 from ts=0)
    assert pd.isna(got.loc[1, "a_asof"]) and got.loc[1, "b_asof"] == 200.0
    # row ts=25 matched right ts=20: b must be NULL (not 200.0 from ts=10)
    assert got.loc[2, "a_asof"] == 300.0 and pd.isna(got.loc[2, "b_asof"])
    assert got.loc[0, "a_asof"] == 100.0 and pd.isna(got.loc[0, "b_asof"])


def test_resample_cubic_k16_matches_numpy_kernel(spark):
    """Cubic (k=16 tricube) resample parity with a straight numpy
    implementation of the same kernel; exact-match queries return the
    point value for EVERY mode (all kernels peak at distance 0) —
    the testresample half-shift contract generalized."""
    rng = np.random.default_rng(17)
    nd = 400
    ddf = pd.DataFrame(
        {
            "id": np.arange(nd),
            "lat": rng.uniform(-30, 30, nd),
            "lon": rng.uniform(-60, 60, nd),
            "val": rng.uniform(0, 100, nd),
        }
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(25), "lat": rng.uniform(-25, 25, 25), "lon": rng.uniform(-55, 55, 25)}
    )
    data = spark.createDataFrame(ddf)
    got = (
        spatial.resample_join(spark.createDataFrame(qdf), data, "val", "cubic", d_id="id")
        .toPandas()
        .sort_values("qid")["resampled"]
        .to_numpy()
    )
    # numpy oracle: same tricube kernel over the same k=16 neighbours
    d = spatial.haversine_km(
        qdf["lat"].to_numpy()[:, None], qdf["lon"].to_numpy()[:, None],
        ddf["lat"].to_numpy()[None, :], ddf["lon"].to_numpy()[None, :],
    )
    want = np.empty(len(qdf))
    for i in range(len(qdf)):
        order = np.lexsort((ddf["id"].to_numpy(), d[i]))[:16]
        dd = d[i][order]
        D = dd.max() * (1.0 + 1e-9)
        w = (1.0 - (dd / D) ** 3) ** 3
        want[i] = (w * ddf["val"].to_numpy()[order]).sum() / w.sum()
    np.testing.assert_allclose(got, want, rtol=1e-9)

    # exact-match short-circuit for every mode
    q_exact = spark.createDataFrame(
        ddf.head(5)[["id", "lat", "lon"]].rename(columns={"id": "qid"})
    )
    for mode in spatial.RESAMPLE_K:
        r = (
            spatial.resample_join(q_exact, data, "val", mode, d_id="id")
            .toPandas()
            .sort_values("qid")["resampled"]
            .to_numpy()
        )
        np.testing.assert_allclose(r, ddf["val"].to_numpy()[:5], rtol=1e-9, err_msg=mode)


def test_knn_tiled_phase_counters(spark):
    """Observability: the counters dict reports how many queries each
    phase resolved — and the escalation round actually proves queries
    that pass 0 could not (nfound >= k but kth >= guard)."""
    res = 5
    rng = np.random.default_rng(55)
    # DENSE data with a deliberately-too-small first ring: ring-1 finds
    # candidates but often cannot certify them, and the data is dense
    # enough that the r6 ring-utility bound ((2*lb+1)^2 < n_data) says
    # escalating beats scanning — so the escalation round does real
    # work. (A sparse fixture now correctly routes the residue straight
    # to the scan, which test_knn_tiled_sparse_goes_to_scan pins.)
    ddf = pd.DataFrame(
        {"id": np.arange(400), "lat": rng.uniform(-60, 60, 400), "lon": rng.uniform(-170, 170, 400)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(60), "lat": rng.uniform(-60, 60, 60), "lon": rng.uniform(-170, 170, 60)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    counters = {}
    got = (
        spatial.knn_tiled(
            queries, data, 3, res, ring=1, d_id="id", q_id="qid", counters=counters
        )
        .toPandas().sort_values(["qid", "rank"])
    )
    assert len(got) == 60 * 3
    want = _brute_oracle(qdf, ddf, 3)
    for qid, grp in got.groupby("qid"):
        for (gi, gd), (wi, wd) in zip(
            zip(grp["neighbor_id"], grp["dist_km"]), want[int(qid)]
        ):
            assert gi == wi and gd == pytest.approx(wd, rel=1e-9)
    assert counters["unproven_pass0"] > 0
    # the escalation round ran and resolved some (or all) of the pass-0
    # residue; whatever is left went to the (chunked) residual scan
    assert "unproven_escalation_0" in counters
    assert counters["unproven_escalation_0"] <= counters["unproven_pass0"]
    assert counters["residual_scan"] <= counters["unproven_pass0"]


def test_knn_tiled_round_leftovers_go_to_scan(spark, monkeypatch):
    """There is one escalation round; what it leaves unproven goes to
    the exact residual scan beside the pass-0 keys that could not
    escalate. The round's guard is weakened for odd query ids, so half
    its keys are left over: the answer still equals brute force, and
    the counters show the scan took the leftovers."""
    from pyspark.sql import functions as F

    rank_and_prove = spatial._rank_and_prove

    def weak_round(cand, part_cols, k, res, ring, *args, **kwargs):
        out = rank_and_prove(cand, part_cols, k, res, ring, *args, **kwargs)
        if isinstance(ring, int):  # pass 0
            return out
        return out.withColumn("__proved", F.col("__proved") & (F.col("qid") % 2 == 0))

    monkeypatch.setattr(spatial, "_rank_and_prove", weak_round)
    res = 5
    rng = np.random.default_rng(55)
    ddf = pd.DataFrame(
        {"id": np.arange(400), "lat": rng.uniform(-60, 60, 400), "lon": rng.uniform(-170, 170, 400)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(60), "lat": rng.uniform(-60, 60, 60), "lon": rng.uniform(-170, 170, 60)}
    )
    queries, data = _knn_frames(spark, qdf, ddf, res)
    counters = {}
    got = spatial.knn_tiled(
        queries, data, 3, res, ring=1, d_id="id", q_id="qid", counters=counters
    ).toPandas()
    _assert_matches_oracle(got, qdf, ddf, 3)
    escalated = counters["unproven_escalation_0"]
    not_escalated = counters["unproven_pass0"] - escalated
    assert escalated >= 4
    assert not_escalated < counters["residual_scan"] < counters["unproven_pass0"]


def test_knn_tiled_polar_queries_exact(spark, monkeypatch):
    """Poles stress the escalation math: min-cos -> 0 blows up the
    lon-radius estimate (clamped to the wrap-safe max) and the guard is
    maximally conservative — results must still be EXACT."""
    res = 5
    rng = np.random.default_rng(77)
    ddf = pd.DataFrame(
        {"id": np.arange(40), "lat": rng.uniform(-89.9, 89.9, 40), "lon": rng.uniform(-180, 180, 40)}
    )
    qlat = np.concatenate([rng.uniform(83, 89.9, 10), rng.uniform(-89.9, -83, 10)])
    qdf = pd.DataFrame(
        {"qid": np.arange(20), "lat": qlat, "lon": rng.uniform(-180, 180, 20)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    got, _ = _tiled_and_default(
        monkeypatch,
        lambda c: spatial.knn_tiled(queries, data, 3, res, d_id="id", q_id="qid",
                                    counters=c).toPandas(),
    )
    got = got.sort_values(["qid", "rank"])
    want = _brute_oracle(qdf, ddf, 3)
    assert len(got) == 20 * 3
    for qid, grp in got.groupby("qid"):
        for (gi, gd), (wi, wd) in zip(
            zip(grp["neighbor_id"], grp["dist_km"]), want[int(qid)]
        ):
            assert gi == wi and gd == pytest.approx(wd, rel=1e-9)


def test_knn_residual_scan_chunked_exact(spark, monkeypatch):
    """Driver-memory bound of the residual scan is a CODE INVARIANT
    (r2 VERDICT #4): with the chunk cap forced tiny, an adversarial
    all-polar query set (nothing provable at ring 0, sparse data)
    resolves through MULTIPLE residual chunks and stays exact."""
    res = 5
    rng = np.random.default_rng(99)
    # sparse data far from the queries: nothing certifiable quickly
    ddf = pd.DataFrame(
        {"id": np.arange(12), "lat": rng.uniform(-30, 30, 12), "lon": rng.uniform(-170, 170, 12)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(25), "lat": rng.uniform(85, 89.9, 25), "lon": rng.uniform(-180, 180, 25)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    monkeypatch.setattr(spatial, "KNN_RESIDUAL_CHUNK", 7)  # forces >= 4 chunks
    # Q = 25 > N = 12 would take the brute kernel: pin the tiled phases
    monkeypatch.setattr(sizing, "KNN_BRUTE_PAIR_BUDGET", 0)
    counters = {}
    got = (
        spatial.knn_tiled(queries, data, 3, res, d_id="id", q_id="qid", counters=counters)
        .toPandas().sort_values(["qid", "rank"])
    )
    assert counters["branch"] == "tiled"
    assert counters["residual_scan"] == 25  # the whole query set
    assert len(got) == 25 * 3
    want = _brute_oracle(qdf, ddf, 3)
    for qid, grp in got.groupby("qid"):
        for (gi, gd), (wi, wd) in zip(
            zip(grp["neighbor_id"], grp["dist_km"]), want[int(qid)]
        ):
            assert gi == wi and gd == pytest.approx(wd, rel=1e-9)


def test_knn_tiled_k_exceeds_data(spark):
    """k >= n_data short-circuits to the brute path (ADVICE r2): the
    guard can never certify, so tiled machinery is pure waste — and
    the result is every data row per query, correctly ranked."""
    res = 5
    rng = np.random.default_rng(13)
    ddf = pd.DataFrame(
        {"id": np.arange(4), "lat": rng.uniform(-60, 60, 4), "lon": rng.uniform(-170, 170, 4)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(6), "lat": rng.uniform(-60, 60, 6), "lon": rng.uniform(-170, 170, 6)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    got = (
        spatial.knn_tiled(queries, data, 10, res, d_id="id", q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    assert len(got) == 6 * 4  # kk clamps to n_data
    want = _brute_oracle(qdf, ddf, 4)
    for qid, grp in got.groupby("qid"):
        for (gi, gd), (wi, wd) in zip(
            zip(grp["neighbor_id"], grp["dist_km"]), want[int(qid)]
        ):
            assert gi == wi and gd == pytest.approx(wd, rel=1e-9)


def test_knn_tiled_antimeridian_exact(spark, monkeypatch):
    """x-wrap correctness: queries hugging lon = +-180 whose true
    nearest neighbours sit ACROSS the antimeridian — the k-ring wraps
    in x and the guard's contiguous-box bound stays valid, so results
    must equal brute force exactly."""
    res = 6
    rng = np.random.default_rng(123)
    lat_d = rng.uniform(-60, 60, 50)
    # data clustered just EAST of the antimeridian (lon in [-180, -175])
    ddf = pd.DataFrame(
        {"id": np.arange(50), "lat": lat_d, "lon": rng.uniform(-180, -175, 50)}
    )
    # queries just WEST of it (lon in [175, 180)) — nearest are across
    qdf = pd.DataFrame(
        {"qid": np.arange(25), "lat": rng.uniform(-60, 60, 25), "lon": rng.uniform(175, 180, 25)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    got, _ = _tiled_and_default(
        monkeypatch,
        lambda c: spatial.knn_tiled(queries, data, 3, res, d_id="id", q_id="qid",
                                    counters=c).toPandas(),
    )
    got = got.sort_values(["qid", "rank"])
    want = _brute_oracle(qdf, ddf, 3)
    assert len(got) == 25 * 3
    for qid, grp in got.groupby("qid"):
        for (gi, gd), (wi, wd) in zip(
            zip(grp["neighbor_id"], grp["dist_km"]), want[int(qid)]
        ):
            assert gi == wi and gd == pytest.approx(wd, rel=1e-9)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _escalating_frames(spark, qid=True):
    """Dense data against ring 1: pass 0 leaves a residue the
    escalation round proves (the test_knn_tiled_phase_counters input)."""
    rng = np.random.default_rng(55)
    ddf = pd.DataFrame(
        {"id": np.arange(400), "lat": rng.uniform(-60, 60, 400), "lon": rng.uniform(-170, 170, 400)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(60), "lat": rng.uniform(-60, 60, 60), "lon": rng.uniform(-170, 170, 60)}
    )
    if not qid:
        # repeated rows and no key: the synthetic ids are in play
        qdf = pd.concat([qdf, qdf.iloc[:5]], ignore_index=True).drop(columns="qid")
    return qdf, ddf, *_knn_frames(spark, qdf, ddf, 5)


@pytest.mark.parametrize("qid", [True, False], ids=["q_id", "synthetic_id"])
def test_knn_tiled_leaves_no_cache_entry(spark, qid):
    """The tiled phases own their intermediates: after a result with an
    escalation round is collected, the session CacheManager holds
    nothing (the checkpoints live in the result's lineage)."""
    spark.catalog.clearCache()
    qdf, ddf, queries, data = _escalating_frames(spark, qid)
    counters: dict = {}
    got = spatial.knn_join(
        queries, data, 3, 5, ring=1, d_id="id", q_id="qid" if qid else None,
        counters=counters,
    ).toPandas()
    assert counters["branch"] == "tiled" and counters["unproven_escalation_0"] > 0
    assert len(got) == 3 * len(qdf)
    assert _cache_manager_empty(spark)


def test_knn_tiled_failure_after_pass0_strands_nothing(spark, monkeypatch):
    """A phase that raises after pass 0 leaves no cache entry behind."""

    def boom(*args, **kwargs):
        raise RuntimeError("injected after pass 0")

    monkeypatch.setattr(spatial, "_knn_residual_scan", boom)
    spark.catalog.clearCache()
    _, _, queries, data = _escalating_frames(spark, qid=False)
    counters: dict = {}
    with pytest.raises(RuntimeError, match="injected"):
        spatial.knn_join(queries, data, 3, 5, ring=1, d_id="id", counters=counters)
    assert counters["unproven_pass0"] > 0
    assert _cache_manager_empty(spark)


def test_knn_tiled_dropped_result_frees_its_blocks(spark):
    """The checkpoint blocks of a tiled result are Spark RDDs held by
    the result's lineage alone: once the caller drops the result and
    the JVM collects it, ContextCleaner removes them."""
    import gc
    import time

    _, _, queries, data = _escalating_frames(spark, qid=False)
    before = _persistent_rdd_ids(spark)
    out = spatial.knn_join(queries, data, 3, 5, ring=1, d_id="id")
    out.collect()
    ours = _persistent_rdd_ids(spark) - before
    assert ours
    del out
    deadline = time.monotonic() + 30
    while ours & _persistent_rdd_ids(spark) and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert not ours & _persistent_rdd_ids(spark)


def test_knn_tiled_result_stable_across_later_calls(spark):
    """A tiled result read again after a later, plan-distinct call gives
    the rows of its first read: its synthetic ids are frozen in its own
    checkpoint, which no later call can release."""
    qdf, ddf, queries, data = _escalating_frames(spark, qid=False)
    out = spatial.knn_join(queries, data, 3, 5, ring=1, d_id="id")
    first = out.toPandas()
    spatial.knn_join(queries.limit(20), data, 2, 5, ring=1, d_id="id").collect()
    _assert_same_knn(out.toPandas(), first)
    _assert_same_knn(first.drop(columns="cell"), _oracle_rows(qdf, ddf, 3))


def test_knn_tiled_sparse_goes_to_scan(spark, monkeypatch):
    """r6 ring-utility bound: on SPARSE data the k-th distances are so
    large that any certifying ring's (2r+1)^2 explosion costs at least
    a full data scan — the residue must skip the escalation round
    entirely (measured 4.5x wall at sf0.01 when it didn't) and resolve
    exactly in the residual scan."""
    res = 5
    rng = np.random.default_rng(56)
    ddf = pd.DataFrame(
        {"id": np.arange(60), "lat": rng.uniform(-80, 80, 60), "lon": rng.uniform(-180, 180, 60)}
    )
    qdf = pd.DataFrame(
        {"qid": np.arange(50), "lat": rng.uniform(-80, 80, 50), "lon": rng.uniform(-180, 180, 50)}
    )
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    got, counters = _tiled_and_default(
        monkeypatch,
        lambda c: spatial.knn_tiled(queries, data, 3, res, d_id="id", q_id="qid",
                                    counters=c).toPandas(),
    )
    got = got.sort_values(["qid", "rank"])
    # no escalation round ran — the whole residue was scan-routed
    assert "unproven_escalation_0" not in counters
    assert counters["residual_scan"] == counters["unproven_pass0"] > 0
    want = _brute_oracle(qdf, ddf, 3)
    for qid, grp in got.groupby("qid"):
        for (gi, gd), (wi, wd) in zip(
            zip(grp["neighbor_id"], grp["dist_km"]), want[int(qid)]
        ):
            assert gi == wi and gd == pytest.approx(wd, rel=1e-9)


def _knn_frames(spark, qdf, ddf, res):
    queries = spark.createDataFrame(qdf).withColumn("cell", cell_col("lat", "lon", res))
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    return queries, data


def _assert_matches_oracle(got, qdf, ddf, k, key="qid"):
    want = _brute_oracle(qdf, ddf, k)
    assert sorted(got[key].unique()) == sorted(want)
    for qid, grp in got.sort_values([key, "rank"]).groupby(key):
        pairs = list(zip(grp["neighbor_id"], grp["dist_km"]))
        assert len(pairs) == len(want[qid])
        for (gi, gd), (wi, wd) in zip(pairs, want[qid]):
            assert gi == wi, f"{key}={qid}: {pairs} vs {want[qid]}"
            assert gd == pytest.approx(wd, rel=1e-9)


def test_knn_tiled_duplicate_queries_without_qid(spark, monkeypatch):
    """Repeated query rows and no q_id: every row gets its own k
    distinct neighbours on every branch (explicit ring, the auto
    ring's tiled path and the small-batch scan). A ranking window keyed
    on the query columns merged the copies into one partition: 15 rows
    instead of 21, with top-k lists such as [126, 126, 269]."""
    res = 5
    rng = np.random.default_rng(5)
    ddf = pd.DataFrame({"id": np.arange(300), "lat": rng.uniform(-60, 60, 300),
                        "lon": rng.uniform(-170, 170, 300)})
    qdf = pd.DataFrame({"lat": rng.uniform(-60, 60, 5), "lon": rng.uniform(-170, 170, 5)})
    qdf = pd.concat([qdf, qdf.iloc[:2]], ignore_index=True)
    queries, data = _knn_frames(spark, qdf, ddf, res)
    oracle = _brute_oracle(qdf.assign(qid=np.arange(len(qdf))), ddf, 3)
    want = pd.DataFrame(
        [(qdf["lat"][i], qdf["lon"][i], r + 1, nid, d)
         for i in range(len(qdf)) for r, (nid, d) in enumerate(oracle[i])],
        columns=["lat", "lon", "rank", "neighbor_id", "dist_km"],
    )

    def check(ring, branch):
        counters: dict = {}
        got = spatial.knn_tiled(queries, data, 3, res, ring=ring, d_id="id",
                                counters=counters).toPandas()
        assert len(got) == 3 * len(qdf)
        _assert_same_knn(got[list(want.columns)], want)
        assert counters["branch"] == branch

    check(1, "tiled")
    check("auto", "scan")
    monkeypatch.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", 0)
    check("auto", "tiled")


def _oracle_rows(qdf, ddf, k, quantize=None):
    """Every query row, repeats included, x its k nearest data rows on
    (distance, id), as knn_join's output columns."""
    d = spatial.haversine_km(
        qdf["lat"].to_numpy()[:, None], qdf["lon"].to_numpy()[:, None],
        ddf["lat"].to_numpy()[None, :], ddf["lon"].to_numpy()[None, :],
    )
    if quantize is not None:
        d = spatial._quantize_np(d, quantize)
    ids = ddf["id"].to_numpy()
    rows = [
        (*qdf.iloc[i], int(ids[j]), d[i, j], r + 1)
        for i in range(len(qdf))
        for r, j in enumerate(np.lexsort((ids, d[i]))[:k])
    ]
    cols = [*qdf.columns, "neighbor_id", "dist_km", "rank"]
    return pd.DataFrame(rows, columns=cols).astype({"dist_km": np.float64})


def _branch_cases():
    rng = np.random.default_rng(83)
    ddf = pd.DataFrame({"id": rng.permutation(300), "lat": rng.uniform(-50, 50, 300),
                        "lon": rng.uniform(-120, 120, 300)})
    dup = pd.DataFrame({"lat": rng.uniform(-50, 50, 5), "lon": rng.uniform(-120, 120, 5)})
    # a 0.1-degree lattice: every data point three times under distinct
    # ids, queries on lattice points, so the 1e5-quantized distances
    # tie within and across the k=4 boundary
    lat = np.round(rng.uniform(-2, 2, 40), 1).repeat(3)
    lon = np.round(rng.uniform(-2, 2, 40), 1).repeat(3)
    lattice = pd.DataFrame({"id": rng.permutation(120), "lat": lat, "lon": lon})
    one = pd.DataFrame({"qid": [0], "lat": [10.0], "lon": [20.0]})
    # (queries, data, k, quantize, rows of the smaller data side)
    return {
        "duplicate_rows_no_qid": (pd.concat([dup, dup.iloc[:2]], ignore_index=True),
                                  ddf, 3, None, 5),
        "quantized_ties": (pd.DataFrame({"qid": np.arange(12), "lat": lat[:36:3],
                                         "lon": lon[:36:3]}), lattice, 4, 1e5, 9),
        "empty": (one.iloc[:0], ddf, 3, None, 3),
        "one_row": (one, ddf, 3, None, 3),
    }


@pytest.mark.parametrize("case", list(_branch_cases()))
def test_knn_join_same_answer_on_every_branch(spark, monkeypatch, case):
    """One input through every branch of knn_join's gate, each forced by
    the two pair budgets, and every answer equal to the brute-force
    oracle. Against the full data side (Q <= N) the scan and the tiled
    path run; against a smaller data side the brute kernel runs (Q > N
    within the brute budget, or k >= N for the empty and one-row query
    frames) and, where k < N, the tiled path too."""
    qdf, ddf, k, quantize, n_small = _branch_cases()[case]
    queries = spark.createDataFrame(qdf, schema=", ".join(
        f"{c} {'long' if c == 'qid' else 'double'}" for c in qdf.columns))

    def run(ddf, branch):
        # a budget of -1 admits no batch at all, not even an empty one
        for budget, own in (("KNN_SCAN_PAIR_BUDGET", "scan"),
                            ("KNN_BRUTE_PAIR_BUDGET", "brute")):
            monkeypatch.setattr(sizing, budget, 10**9 if branch == own else -1)
        counters: dict = {}
        got = spatial.knn_join(queries, spark.createDataFrame(ddf), k, 4, d_id="id",
                               quantize=quantize, counters=counters).toPandas()
        assert counters["branch"] == branch
        _assert_same_knn(got, _oracle_rows(qdf, ddf, k, quantize))

    run(ddf, "scan")
    run(ddf, "tiled")
    small = ddf.iloc[:n_small]
    run(small, "brute")
    if k < n_small:
        run(small, "tiled")


def test_knn_tiled_small_batch_scan_hot_tile_quantized(spark, monkeypatch):
    """The small-batch scan equals the tiled path row for row on
    hot-tile data under quantize=1e5 (ranking on the epsilon-floored
    1e-5 km grid, ties on the data id), and both equal a numpy oracle
    on the same grid."""
    res, k, q = 7, 10, 1e5
    rng = np.random.default_rng(61)
    hot = np.column_stack([rng.uniform(40.0, 40.5, 2000), rng.uniform(10.0, 10.5, 2000)])
    bg = np.column_stack([rng.uniform(-60, 60, 500), rng.uniform(-170, 170, 500)])
    pts = np.concatenate([hot, bg])
    ddf = pd.DataFrame({"id": rng.permutation(len(pts)), "lat": pts[:, 0], "lon": pts[:, 1]})
    qpts = np.concatenate([hot[:40] + rng.normal(0, 1e-3, (40, 2)), bg[:10]])
    qdf = pd.DataFrame({"qid": np.arange(50), "lat": qpts[:, 0], "lon": qpts[:, 1]})
    queries, data = _knn_frames(spark, qdf, ddf, res)
    got, _ = _tiled_and_default(
        monkeypatch,
        lambda c: spatial.knn_tiled(queries, data, k, res, d_id="id", q_id="qid",
                                    quantize=q, counters=c).toPandas(),
    )
    d = spatial._quantize_np(spatial.haversine_km(
        qdf["lat"].to_numpy()[:, None], qdf["lon"].to_numpy()[:, None],
        ddf["lat"].to_numpy()[None, :], ddf["lon"].to_numpy()[None, :],
    ), q)
    ids = ddf["id"].to_numpy()
    got = got.sort_values(["qid", "rank"])
    for qid, grp in got.groupby("qid"):
        order = np.lexsort((ids, d[qid]))[:k]
        assert grp["neighbor_id"].tolist() == ids[order].tolist()
        np.testing.assert_allclose(grp["dist_km"], d[qid][order], rtol=1e-12)


def test_knn_tiled_small_batch_gate(spark, monkeypatch):
    """Both sides of the small-batch gate: the scan answers exactly
    when Q <= N and Q x N fits sizing.KNN_SCAN_PAIR_BUDGET; k >= N and
    Q > N take the broadcast brute branch, an explicit ring the tiled
    path, and an empty query frame gives no rows. The counters record
    branch, Q, N and pairs."""
    res = 5
    rng = np.random.default_rng(67)
    ddf = pd.DataFrame({"id": np.arange(80), "lat": rng.uniform(-50, 50, 80),
                        "lon": rng.uniform(-100, 100, 80)})
    qdf = pd.DataFrame({"qid": np.arange(30), "lat": rng.uniform(-50, 50, 30),
                        "lon": rng.uniform(-100, 100, 30)})
    queries, data = _knn_frames(spark, qdf, ddf, res)

    def run(qd, k=3, **kw):
        counters: dict = {}
        got = spatial.knn_tiled(qd, data, k, res, d_id="id", q_id="qid",
                                counters=counters, **kw).toPandas()
        return got, counters

    monkeypatch.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", 30 * 80)
    got, c = run(queries)
    assert c == {"branch": "scan", "q_rows": 30, "n_data": 80, "pairs": 2400}
    _assert_matches_oracle(got, qdf, ddf, 3)

    monkeypatch.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", 30 * 80 - 1)
    got, c = run(queries)
    assert c["branch"] == "tiled"
    _assert_matches_oracle(got, qdf, ddf, 3)

    monkeypatch.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", 10**12)
    got, c = run(queries, k=80)
    assert c["branch"] == "brute"
    _assert_matches_oracle(got, qdf, ddf, 80)

    got, c = run(queries, ring=1)
    assert c["branch"] == "tiled" and c["q_rows"] is None
    _assert_matches_oracle(got, qdf, ddf, 3)

    got, c = run(queries.limit(0))
    assert c["branch"] == "scan" and c["q_rows"] == 0
    assert got.empty
    assert list(got.columns) == [*queries.columns, "neighbor_id", "dist_km", "rank"]

    # Q > N: 120 queries against the 80 data rows broadcast the data
    qbig = pd.DataFrame({"qid": np.arange(120), "lat": rng.uniform(-50, 50, 120),
                         "lon": rng.uniform(-100, 100, 120)})
    big, _ = _knn_frames(spark, qbig, ddf, res)
    got, c = run(big)
    assert c["branch"] == "brute" and c["q_rows"] > c["n_data"]
    _assert_matches_oracle(got, qbig, ddf, 3)


def test_knn_join_bounded_count_cap_fits_jvm_int(spark, monkeypatch, tmp_path):
    """A raised brute pair budget against a tiny data side puts the
    bounded count's cap (budget // N = 2e11) past the JVM int that
    DataFrame.limit takes. The cap is clamped, the 40-row query frame
    without a footer count still takes the brute kernel, and the
    answer equals the numpy oracle. k < 1 raises."""
    monkeypatch.setattr(sizing, "KNN_BRUTE_PAIR_BUDGET", 10**12)
    rng = np.random.default_rng(47)
    qdf = pd.DataFrame({"qid": np.arange(60), "lat": rng.uniform(-40, 40, 60),
                        "lon": rng.uniform(-40, 40, 60)})
    ddf = pd.DataFrame({"id": np.arange(5), "lat": rng.uniform(-45, 45, 5),
                        "lon": rng.uniform(-45, 45, 5)})
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(qdf).write.parquet(qpath)
    queries = spark.read.parquet(qpath).filter("qid % 3 != 0")
    assert sizing.footer_count(queries) is None
    data = spark.createDataFrame(ddf)
    counters: dict = {}
    got = spatial.knn_join(queries, data, 3, 4, d_id="id", q_id="qid",
                           counters=counters).toPandas()
    assert counters["branch"] == "brute" and counters["q_rows"] == 40
    _assert_matches_oracle(got, qdf[qdf["qid"] % 3 != 0].reset_index(drop=True), ddf, 3)
    with pytest.raises(ValueError, match="k >= 1"):
        spatial.knn_join(queries, data, 0, 4, d_id="id")


def test_knn_branch_clamped_count_fails_closed(monkeypatch):
    """A bounded count that reaches the clamped cap proves only "more
    than the cap", so the gate takes the tiled path."""

    class Rows:
        isStreaming = False

        def limit(self, n):
            assert n <= 2**31 - 1
            self.n = n
            return self

        def count(self):
            return self.n  # the frame is at least as long as the limit

    monkeypatch.setattr(sizing, "footer_count", lambda df: None)
    monkeypatch.setattr(sizing, "KNN_BRUTE_PAIR_BUDGET", 10**12)
    rows = Rows()
    assert sizing.knn_branch(rows, 5, 3) == ("tiled", 2**31 - 1)
    assert rows.n == 2**31 - 1


def test_knn_tiled_unknown_query_count_fails_closed(spark, monkeypatch, tmp_path):
    """A filtered parquet query frame has no footer count. The
    small-batch gate then decides from a bounded count: the scan when
    the 40 surviving rows fit the budget, the tiled path as soon as
    they do not (never assumed small), exact either way."""
    res = 5
    rng = np.random.default_rng(71)
    qdf = pd.DataFrame({"qid": np.arange(60), "lat": rng.uniform(-40, 40, 60),
                        "lon": rng.uniform(-40, 40, 60)})
    ddf = pd.DataFrame({"id": np.arange(200), "lat": rng.uniform(-45, 45, 200),
                        "lon": rng.uniform(-45, 45, 200)})
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(qdf).write.parquet(qpath)
    queries = (spark.read.parquet(qpath).filter("qid % 3 != 0")
               .withColumn("cell", cell_col("lat", "lon", res)))
    assert sizing.footer_count(queries) is None
    data = spark.createDataFrame(ddf).withColumn("cell", cell_col("lat", "lon", res))
    kept = qdf[qdf["qid"] % 3 != 0].reset_index(drop=True)

    for budget, branch in ((40 * 200, "scan"), (39 * 200, "tiled")):
        monkeypatch.setattr(sizing, "KNN_SCAN_PAIR_BUDGET", budget)
        counters: dict = {}
        got = spatial.knn_tiled(queries, data, 3, res, d_id="id", q_id="qid",
                                counters=counters).toPandas()
        assert counters["branch"] == branch
        assert counters["q_rows"] == 40  # exact, or cap + 1 = "more than 39"
        _assert_matches_oracle(got, kept, ddf, 3)


def test_block_topk_gemm_path_bit_identical(monkeypatch):
    """The GEMM candidate path (dot-product selection + exact haversine
    on candidates + certified exclusion bound) must return BIT-identical
    (ids, dists) to the full per-pair scan — with and without quantize,
    on uniform data AND on a tie-dense lattice that forces quantized
    collisions at the k-th boundary (exercising the fallback rerun)."""
    monkeypatch.setattr(spatial, "_GEMM_MIN_PAIRS", 0)
    rng = np.random.default_rng(77)
    k = 5
    cases = []
    # uniform: GEMM guard certifies nearly every row
    nq, nd = 400, 2000
    cases.append((
        rng.uniform(-80, 80, nq), rng.uniform(-179, 179, nq),
        rng.uniform(-80, 80, nd), rng.uniform(-179, 179, nd),
        rng.permutation(nd).astype(np.int64),
    ))
    # tie-dense: many points share exact coordinates, so quantized
    # distances collide across the k-th boundary and rows must fall
    # back to the exact scan to get the id tie-break right
    lat_g = np.round(rng.uniform(-5, 5, 50), 1)
    lon_g = np.round(rng.uniform(-5, 5, 50), 1)
    pick = rng.integers(0, 50, 3000)
    cases.append((
        np.round(rng.uniform(-5, 5, 300), 1), np.round(rng.uniform(-5, 5, 300), 1),
        lat_g[pick], lon_g[pick],
        rng.permutation(3000).astype(np.int64),
    ))
    for qla, qlo, dla, dlo, did in cases:
        for quant in (None, 1e5):
            kk = min(k, len(did))
            ids_g, d_g = spatial._block_topk(qla, qlo, dla, dlo, did, k, quantize=quant)
            # oracle: full (distance, id) lexicographic sort — the rule
            # the SQL oracles pin (row_number over (dist, id))
            full = spatial.haversine_km(qla[:, None], qlo[:, None], dla[None, :], dlo[None, :])
            if quant is not None:
                full = spatial._quantize_np(full, quant)
            order = np.lexsort((np.broadcast_to(did, full.shape), full), axis=1)[:, :kk]
            rows = np.arange(len(qla))[:, None]
            assert ids_g.tolist() == did[order].tolist()
            # distances bit-for-bit (same haversine_km formula)
            assert d_g.tolist() == full[rows, order].tolist()
