"""Generate PLANS.md: a physical-plan audit of the flagship queries.

For each audited query: number of shuffles (Exchange), whether any
Python eval node appears (ArrowEval/BatchEval — expected ONLY for the
intentionally Arrow-batched kernels), broadcast join count, and the
pruned read schemas — the evidence for the scale claims (pushdown,
column pruning, JVM-side expressions) the docs make.

With ``--plans-dir DIR`` it instead writes the executed plan of every
registry query (rios_spark.queries.QUERIES) to ``DIR/<query>.txt`` and
leaves PLANS.md alone. Expression ids (``#N``), node ids
(``plan_id=N``) and lambda variable ids (``x_N``) are normalised, and
metadata strings are printed uncut, so two trees (or two registry
orders of one tree) can be compared with ``diff -r``:

    python tools/dump_plans.py SF_DIR --plans-dir /tmp/plans_a   # tree A
    python tools/dump_plans.py SF_DIR --plans-dir /tmp/plans_b   # tree B
    diff -r /tmp/plans_a /tmp/plans_b

Usage: python tools/dump_plans.py [sf_dir] [--plans-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

# the checkout this script lives in, not whatever rios_spark is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rios_spark.session import get_spark  # noqa: E402

AUDIT = [
    ("tile_counts_docs", "tile assign + count: map-side partial agg, one shuffle"),
    ("margin_ring_counts", "k-ring explode BEFORE the shuffle (projection pruned to `cell`)"),
    ("zonal_rect_docs", "broadcast cover + geometry join, codegen'd rect checks, one partial+final agg"),
    ("zonal_pentagon_docs", "pure half-plane SQL expression, zero Python"),
    ("knn_tiled_cust_supp", "Q > N: knn_join's gate broadcasts the supplier side to the Arrow brute kernel over the customer scan, the same plan as knn_cust_supp; ZERO shuffles"),
    ("resample_bilinear_cust", "broadcast kNN kernel + broadcast value join + one groupBy for the weighted quotient"),
    ("median_across_sources", "three partial aggs + full-outer align + per-row array median"),
    ("adaptive_split_docs", "fully distributed split decision: hot-cell semi-join, per-resolution window sums over the COUNT frame (never the data), broadcast re-key join"),
    ("doc_lang_scores", "explode + broadcast stopword join + codegen'd conditional counts"),
    ("utm_project_customers", "Kruger series as pure projection: ZERO shuffles"),
    ("sessionize_events", "lag + cumulative sum + session agg in ONE exchange"),
    ("vocab_topk_docs", "explode -> partial/final agg -> deterministic top-k"),
    ("exact_dedup_docs", "one hash agg on md5 key"),
    ("stratified_sample_docs", "deterministic md5-bucket quota filter: pure codegen projection+filter, ZERO shuffles"),
    ("doc_fingerprints", "batch-concatenated numpy kernel (ONE ArrowEval node, char-bounded sub-batches): ZERO shuffles; the scan fans out first (sizing.fan_out)"),
    ("doc_fingerprints_winnow", "same Arrow kernel with sliding-window minima (ONE ArrowEval node): ZERO shuffles; window minima from a sparse-table doubling ladder"),
    ("fingerprint_near_dup_docs", "ONE scan: groupBy fp collects sorted doc lists (df guard = size filter), id1<id2 pairs generated inside the array, then pair agg — never all-pairs, no self-join recompute"),
    ("tpch_q3", "join-order-sensitive relational shape: segment filter pushed to the customer scan, filtered customer BROADCAST into orders, date predicates pushed to both fact scans; no SortMergeJoin at bench scale"),
    ("tpch_q5", "6-table correlated-dim join: region->nation chain broadcast, nation-pruned customer/supplier dims broadcast into the facts, c_nationkey=s_nationkey applied post-join; the only shuffle at scale is lineitem<->orders + the final per-nation agg"),
    ("tpch_q10", "agg-before-dims shape: returnflag + date filters pushed to both fact scans, per-customer agg on the joined facts, THEN broadcast dim joins on the reduced result; 3 BHJ, 0 SMJ"),
    ("embedding_topk_indexed", "persisted-IVF serving path: probed list ids pushed into the assigned-table read as a list_id PARTITION FILTER (the scan touches only probed lists' files), cogrouped GEMM scoring, global top-k window"),
]


def count_distinct_nodes(plan: str, kind: str) -> int:
    """Count PHYSICAL nodes of `kind`, not textual occurrences: the
    plan string reprints shared subtrees (persisted frames referenced
    by several union branches, cached plans under every
    InMemoryTableScan), so a naive substring count multiplies each
    real exchange by its reader count. Nodes carry a unique
    [plan_id=N] — distinct ids = nodes that actually execute."""
    ids = set(re.findall(rf"\b{kind}\b[^\n]*?\[plan_id=(\d+)\]", plan))
    if ids:
        return len(ids)
    # nodes inside WholeStageCodegen print without plan ids — fall
    # back to line count for those
    return len([ln for ln in plan.splitlines() if re.search(rf"\b{kind}\b", ln)])


def normalize_plan(plan: str) -> str:
    """Drop the per-session counters from a plan string: expression ids
    (`#N`), node ids (`plan_id=N`) and lambda variable ids (`lambda
    x_N`, numbered by a session-wide counter) differ between runs of
    the same plan."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"\blambda ([a-z]+)_\d+", r"lambda \1_N", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", plan)


def write_plans(spark, sf_dir: str, out_dir: str) -> None:
    """One normalised executed-plan file per registry query."""
    from rios_spark.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    for name, fn in QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize_plan(plan))
    print(f"wrote {len(QUERIES)} plans to {out_dir}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--plans-dir", help="write one normalised plan per registry query here")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    from rios_spark.queries import QUERIES

    # uncut metadata strings: Spark abbreviates long DataFilters /
    # PushedFilters values BEFORE the ids are normalised, so the cut
    # point would move with the digit count of earlier ids
    spark = get_spark(
        "plan_audit", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.sql.maxMetadataStringLength": str(1 << 20)},
    )
    if args.plans_dir:
        write_plans(spark, sf_dir, args.plans_dir)
        spark.stop()
        return
    rows = []
    details = []
    for name, note in AUDIT:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = count_distinct_nodes(plan, "Exchange")
        n_bc = count_distinct_nodes(plan, "BroadcastExchange")
        py = bool(re.search(
        r"(ArrowEval|BatchEval|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)",
        plan,
    ))
        schemas = sorted(set(re.findall(r"ReadSchema: struct<([^>]*)>", plan)))
        rows.append((name, n_ex, n_bc, "yes" if py else "no", note))
        details.append((name, schemas))

    md = ["# PLANS — physical-plan audit of flagship queries",
          "",
          f"Generated by tools/dump_plans.py over {sf_dir}. 'Py' marks Arrow-",
          "batched Python nodes — expected ONLY where the operator is",
          "deliberately a vectorized kernel (kNN brute/residual phases,",
          "applier kernels); every relational operator stays JVM-side.",
          "",
          "| query | exchanges | broadcast nodes | Py | plan shape |",
          "|---|---|---|---|---|"]
    for name, n_ex, n_bc, py, note in rows:
        md.append(f"| {name} | {n_ex} | {n_bc} | {py} | {note} |")
    md += ["", "## Pruned read schemas (column pruning reaches the scan)", ""]
    for name, schemas in details:
        md.append(f"- **{name}**:")
        for s in schemas:
            md.append(f"  - `struct<{s}>`")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(md) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
