"""Seeded input tables for the benchmark workloads.

`write_star_tables` writes the TPC-H-ish star schema plus the `events`
and `documents` tables that the registry queries in `rios_spark.queries`
read, with the column names and parquet types of the repository's
sf0.1 fixtures and their row counts. Every value is a function of the
seed alone (numpy PCG64), so one seed always gives byte-identical
inputs. Each table is written as one parquet file with one row group,
like the fixtures, so scan width matches them.

The pages tables of `pages_scale` come from the
engine's own `datagen.gen_pages_spark`, which is deterministic in
(n, seed).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the repository's fixtures
STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}
_WORDS = (
    "stream filter big batch merge group a column line the small sort join agg "
    "part fast window slow scan data hash tile cell page index row table"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_EVENT_TYPES = ["login", "view", "click", "purchase", "error"]
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Money-like doubles with two decimals, as the fixtures have."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def star_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = STAR_ROWS
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    c = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": pa.array(rng.integers(0, 25, len(c)), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": pa.array(rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], len(c))),
    })

    s = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": pa.array(rng.integers(0, 25, len(s)), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, len(s)),
    })

    o = np.arange(n["orders"])
    odate = _EPOCH_1995_US + rng.integers(0, 2400, len(o)) * _DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(o)), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], len(o))),
        "o_totalprice": _cents(rng, 900.0, 500_000.0, len(o)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(o))),
    })

    m = n["lineitem"]
    l_order = rng.integers(0, n["orders"], m)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], m)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], m)),
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, m) * _DAY_US),
    })

    e = np.arange(n["events"])
    tables["events"] = pa.table({
        "event_id": pa.array(e, pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, len(e)))),
        "user_id": pa.array(rng.integers(0, 1_500, len(e)), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, len(e), p=[0.1, 0.4, 0.3, 0.1, 0.1])),
        "value": np.round(rng.exponential(50.0, len(e)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, len(e))],
    })

    d = np.arange(n["documents"])
    n_tok = rng.integers(8, 90, len(d))
    tok = rng.integers(0, len(_WORDS), int(n_tok.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    text = [" ".join(_WORDS[t] for t in tok[bounds[i]:bounds[i + 1]]) for i in d]
    tables["documents"] = pa.table({
        "doc_id": pa.array(d, pa.int64()),
        "text": text,
        "lang": pa.array(rng.choice(_LANGS, len(d))),
        "source": [f"src{i % 20}" for i in d],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    return tables


def write_star_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
