"""The plan-diff tool: a plan file must not depend on run order."""

from __future__ import annotations

from tools.dump_plans import normalize_plan


def test_normalize_plan_drops_run_order_counters():
    """Two dumps of one plan differ only in session counters: expression
    ids (#N), node ids (plan_id=N) and lambda variable ids (x_N, y_N,
    numbered across the session). Normalised, they are identical; a
    column whose name merely looks like a lambda id is kept."""

    def plan(e: int, lam: int, node: int) -> str:
        x, y = f"lambda x_{lam}#{e + 1}", f"lambda y_{lam + 1}#{e + 2}"
        return (
            f"Filter (aggregate(__edges#{e}, 0, lambdafunction(({x} + {y}.yi), "
            f"{x}, {y}, false), lambdafunction({x}, {x}, false)) > 0) [plan_id={node}]\n"
            f"+- FileScan parquet [x_1#{e + 3}] DataFilters: [isnotnull(x_1#{e + 3})]"
        )

    a, b = plan(12, 5, 3), plan(1207, 17, 41)
    assert a != b
    assert normalize_plan(a) == normalize_plan(b)
    assert "lambda x_N#N" in normalize_plan(a)
    assert "lambda y_N#N" in normalize_plan(a)
    assert "isnotnull(x_1#N)" in normalize_plan(a)
