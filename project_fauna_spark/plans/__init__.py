"""Named-query registry: every engine operator exposed as a query.

Importing this package registers the queries of every operator module;
``QUERIES`` / ``ORACLE`` are the driver-facing maps.  A query lives in
the operator module of its name prefix (README "Layout").

Registry order is ``plans/window.GRADING_WINDOW`` followed by every
other name sorted by name, so no import or module move can shift a
position.
"""

from project_fauna_spark.plans.registry import (
    ORACLE,
    QUERIES,
    register,
    resolve_deferred_oracles,
)
from project_fauna_spark.plans.window import GRADING_WINDOW

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

# Oracles that compose other queries' oracle text build once every
# module has registered.
resolve_deferred_oracles()

# Tolerate a PARTIAL registry here: when a Spark worker unpickles a
# module-level UDF (udf_surface.py pickles by reference), the worker
# re-imports that operator module, which re-runs this package __init__
# while the UDF's host module is still mid-import in sys.modules — so
# ITS registrations are absent in that interpreter.  Workers never
# consume registry order; window completeness is driver-side and is
# enforced by tests/test_window_manifest.py (first-50 == manifest).
_front = {n: QUERIES[n] for n in GRADING_WINDOW if n in QUERIES}
_rest = {n: QUERIES[n] for n in sorted(QUERIES) if n not in _front}
QUERIES.clear()
QUERIES.update(_front)
QUERIES.update(_rest)

__all__ = ["QUERIES", "ORACLE", "register"]
