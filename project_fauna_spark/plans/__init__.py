"""Named-query registry: every engine operator exposed as a query.

Importing this package imports every operator module, each of which
registers its queries into ``project_fauna_spark.registry``, and then
orders the registry; ``QUERIES`` / ``ORACLE`` are the driver-facing
maps.  A query lives in the operator module of its name prefix (README
"Layout").  An operator module imports only the registry, never this
package, so it can be imported on its own.

Registry order is ``plans/window.GRADING_WINDOW`` followed by every
other name sorted by name, so no import or module move can shift a
position.  A ``GRADING_WINDOW`` name that no module registers raises
``KeyError`` here.
"""

from project_fauna_spark.plans.window import GRADING_WINDOW
from project_fauna_spark.registry import ORACLE, QUERIES

# Operator modules register their queries at import time.
import project_fauna_spark.operators.analytics  # noqa: F401
import project_fauna_spark.operators.clustering  # noqa: F401
import project_fauna_spark.operators.curation  # noqa: F401
import project_fauna_spark.operators.dedup  # noqa: F401
import project_fauna_spark.operators.etl_source  # noqa: F401
import project_fauna_spark.operators.eventseries  # noqa: F401
import project_fauna_spark.operators.graph  # noqa: F401
import project_fauna_spark.operators.ingest  # noqa: F401
import project_fauna_spark.operators.layout  # noqa: F401
import project_fauna_spark.operators.llm_extras  # noqa: F401
import project_fauna_spark.operators.llm_pipeline  # noqa: F401
import project_fauna_spark.operators.llm_quality  # noqa: F401
import project_fauna_spark.operators.ml_feature  # noqa: F401
import project_fauna_spark.operators.modern_sql  # noqa: F401
import project_fauna_spark.operators.multimodal  # noqa: F401
import project_fauna_spark.operators.quality  # noqa: F401
import project_fauna_spark.operators.reference_queries  # noqa: F401
import project_fauna_spark.operators.relational  # noqa: F401
import project_fauna_spark.operators.semistructured  # noqa: F401
import project_fauna_spark.operators.similarity  # noqa: F401
import project_fauna_spark.operators.skew  # noqa: F401
import project_fauna_spark.operators.streaming_batch  # noqa: F401
import project_fauna_spark.operators.text  # noqa: F401
import project_fauna_spark.operators.timeseries  # noqa: F401
import project_fauna_spark.operators.udf_surface  # noqa: F401
import project_fauna_spark.operators.upsert  # noqa: F401
import project_fauna_spark.operators.warehouse  # noqa: F401

_front = {n: QUERIES[n] for n in GRADING_WINDOW}
_rest = {n: QUERIES[n] for n in sorted(QUERIES) if n not in _front}
QUERIES.clear()
QUERIES.update(_front)
QUERIES.update(_rest)

__all__ = ["QUERIES", "ORACLE"]
