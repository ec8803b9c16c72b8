"""Composed operators Spark lacks natively (§2.C/§2.E hard parts) and
the Dask-style frame façade."""

from ondemand_dask_spark.operators.asof import merge_asof  # noqa: F401
from ondemand_dask_spark.operators.frame import OnDemandFrame, from_spark  # noqa: F401
from ondemand_dask_spark.operators.quantile import (  # noqa: F401
    choose_quantile_path,
    exact_group_quantiles,
)
from ondemand_dask_spark.operators.rangejoin import bucketed_range_join  # noqa: F401
from ondemand_dask_spark.operators.skew import salted_agg, salted_join  # noqa: F401
