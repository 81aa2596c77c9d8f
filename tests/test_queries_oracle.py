"""Driver-contract gate, in-suite: every queries() entry vs its DuckDB
oracle at BOTH sf0.001 and sf0.01 — the driver's own scale factor.

Running the driver SF in-suite is the r3 lesson made permanent: the
fcb9933 regression flipped three queries' floor-grid outputs ONLY at
sf0.01 (a 10x smaller sample has ~10x fewer chances to land a value on
a grid line), so an sf0.001-only gate stayed green while the driver
went red. pytest green must imply driver green.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.check_oracles import TABLES, compare

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.fixture(scope="module", params=SFS, ids=["sf0.001", "sf0.01"])
def sf_con(request):
    sf = request.param
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    yield sf, c
    c.close()


def _pairs():
    from rios_spark.queries import ORACLES, QUERIES

    return [(n, QUERIES[n], ORACLES.get(n)) for n in QUERIES]


@pytest.mark.parametrize("name,fn,oracle", _pairs(), ids=[n for n, *_ in _pairs()])
def test_query_matches_oracle(spark, sf_con, name, fn, oracle):
    sf, con = sf_con
    got = fn(spark, sf).toPandas()
    if oracle is None:
        assert len(got) >= 0  # rows-only contract
        if name == "extract_text_invariant":
            assert got["n_pages"].iloc[0] == got["n_byte_identical"].iloc[0]
        return
    want = con.execute(oracle).df()
    problems = compare(name, got, want)
    assert not problems, f"{name}: {problems}"


DRIVER_CAP = 50  # registry entries the driver's correctness check reads


def test_driver_cap_attests_every_oracle():
    """The driver checks only the first DRIVER_CAP registry entries.
    All 52 entries carry an oracle, so not every key fits; instead
    every distinct oracle statement must be attested by an entry inside
    the cap (media_image_features and rat_color_table included), and
    the entries past it only reuse an attested oracle."""
    from rios_spark.queries import ORACLES, QUERIES

    head = list(QUERIES)[:DRIVER_CAP]
    assert {"media_image_features", "rat_color_table"} <= set(head)
    attested = {ORACLES[n] for n in head if n in ORACLES}
    assert set(ORACLES.values()) <= attested
