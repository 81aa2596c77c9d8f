"""Plan-level combinators: hot-tile splitting, the resume manifest and
the sizing layer. These are the engine's API-level replacements for
what RIOS hand-builds (static block lists, single-writer stitch) and
for what RIOS lacks entirely (resume/lineage — SURVEY.md §2.9). Hot
keys in algebraic aggregates need no combinator: Catalyst's partial
aggregate sends at most one row per key per map task."""

from rios_spark.plans.adaptive import adaptive_split  # noqa: F401
from rios_spark.plans.manifest import Manifest  # noqa: F401
