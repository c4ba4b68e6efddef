"""Named query library.

Each query is registered with a builder ``(spark, sf_dir) -> DataFrame``
and (when SQL-expressible) a DuckDB-compatible oracle SQL string over
the pre-registered views ``region nation customer supplier part orders
lineitem events documents embeddings``. Column names and rounding are
kept identical on both sides — the correctness driver hashes values
after sorting columns by name.

Importing this package populates the registry, in registration order:
module import order below, then definition order within a module.
"""

from iot_etl_spark.plans.registry import QUERIES, ORACLES, query

# registration side-effects
from iot_etl_spark.plans import queries_tpch  # noqa: F401
from iot_etl_spark.plans import queries_tpch2  # noqa: F401
from iot_etl_spark.plans import queries_sqlsurface  # noqa: F401
from iot_etl_spark.plans import queries_events  # noqa: F401
from iot_etl_spark.plans import queries_text  # noqa: F401
from iot_etl_spark.plans import queries_embed  # noqa: F401
from iot_etl_spark.plans import queries_corpus  # noqa: F401
from iot_etl_spark.plans import queries_stream  # noqa: F401
from iot_etl_spark.plans import queries_warehouse  # noqa: F401
from iot_etl_spark.plans import queries_analytics2  # noqa: F401
from iot_etl_spark.plans import queries_mlprep  # noqa: F401
from iot_etl_spark.plans import queries_audit  # noqa: F401
from iot_etl_spark.plans import queries_analytics3  # noqa: F401
from iot_etl_spark.plans import queries_analytics4  # noqa: F401
from iot_etl_spark.plans import queries_analytics5  # noqa: F401
from iot_etl_spark.plans import queries_analytics6  # noqa: F401
from iot_etl_spark.plans import queries_analytics7  # noqa: F401
from iot_etl_spark.plans import queries_analytics8  # noqa: F401
from iot_etl_spark.plans import queries_analytics9  # noqa: F401
from iot_etl_spark.plans import queries_analytics10  # noqa: F401

__all__ = ["QUERIES", "ORACLES", "query"]
