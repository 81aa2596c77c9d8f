"""Plan-level combinators: skew handling, salted aggregation, resume
manifest. These are the engine's API-level replacements for what RIOS
hand-builds (static block lists, single-writer stitch) and for what
RIOS lacks entirely (resume/lineage — SURVEY.md §2.9)."""

from rios_spark.plans.adaptive import adaptive_split  # noqa: F401
from rios_spark.plans.salted import salted_agg  # noqa: F401
from rios_spark.plans.manifest import Manifest  # noqa: F401
