"""ondemand_dask_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of the reference
(`kfit-dev/ondemand-dask`, a Dask-cluster provisioning utility whose
data-plane surface is the Dask DataFrame API; see SURVEY.md §0.3).

Everything here is idiomatic Spark: declarative DataFrame/SQL plans
optimized by Catalyst, with Pandas-UDF escapes only where built-in
operators cannot express the semantics (ewm, custom aggregations,
multimodal decode).
"""

from ondemand_dask_spark.session import build_session
from ondemand_dask_spark.io import load_table, register_views
from ondemand_dask_spark.cluster import ClusterSpec, spawn, teardown
from ondemand_dask_spark.operators import (
    OnDemandFrame,
    choose_quantile_path,
    exact_group_quantiles,
    from_spark,
    merge_asof,
    salted_agg,
    salted_join,
)

__all__ = [
    "build_session",
    "load_table",
    "register_views",
    "ClusterSpec",
    "spawn",
    "teardown",
    "OnDemandFrame",
    "from_spark",
    "merge_asof",
    "choose_quantile_path",
    "exact_group_quantiles",
    "salted_agg",
    "salted_join",
]
__version__ = "0.1.0"
