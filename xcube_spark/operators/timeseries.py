"""Time-series extraction — the reference's signature aggregation.

Re-expresses ``get_time_series`` (xcube/core/timeseries.py:50-205):
spatial aggregation per time step over an optional geometry/bbox mask,
agg methods {mean, median, std, min, max, count} (AGG_METHODS,
timeseries.py:40-47).

Spark mapping (SURVEY §2.5): a single hash aggregate
``groupBy(time).agg(...)`` — partial (map-side) aggregation makes this a
one-shuffle plan whose reduce cardinality is only the number of time
steps, so it scales linearly with cube size.  Unlike the reference,
``median`` needs no eager load (timeseries.py:168-172's must-load
workaround): Spark computes exact ``percentile`` / approximate
``percentile_approx`` distributively.

NaN/NULL parity: the reference aggregates with skipna=True
(timeseries.py:182-190); missing cells are SQL NULLs in the cells table,
which Spark aggregates skip by definition — ``count`` counts non-null
values of the variable, matching the reference's valid-observation count
(``max_number_of_observations`` analog).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: supported aggregation methods (timeseries.py:40-47)
AGG_METHODS = ("mean", "median", "std", "min", "max", "count")


def _agg_expr(var: str, method: str, exact_median: bool) -> Column:
    c = F.col(var)
    if method == "mean":
        e = F.avg(c)
    elif method == "median":
        e = F.expr(f"percentile({var}, 0.5)") if exact_median else F.percentile_approx(c, 0.5)
    elif method == "std":
        # reference uses numpy/xarray std with ddof=0 (population std)
        e = F.stddev_pop(c)
    elif method == "min":
        e = F.min(c)
    elif method == "max":
        e = F.max(c)
    elif method == "count":
        e = F.count(c).cast("long")
    else:
        raise ValueError(f"unknown agg method {method!r}; expected {AGG_METHODS}")
    # result naming convention {var}_{agg} (timeseries.py:193-198)
    return e.alias(f"{var}_{method}")


def get_time_series(
    df: DataFrame,
    var_names: Iterable[str] | None = None,
    agg_methods: Sequence[str] = ("mean",),
    bbox: Sequence[float] | None = None,
    geometry_mask: Column | None = None,
    time_name: str = "time",
    exact_median: bool = True,
) -> DataFrame:
    """Aggregate variables per time step over an optional spatial mask.

    Returns one row per time step, columns ``{var}_{agg}`` (plus
    ``{var}_count`` when requested), ordered by time — matching the
    reference's output dataset shape (timeseries.py:193-205).
    """
    from xcube_spark.cube.grid import var_names as _cube_vars
    from xcube_spark.operators.select import select_spatial_subset

    if bbox is not None:
        df = select_spatial_subset(df, bbox=bbox)
    if geometry_mask is not None:
        df = df.where(geometry_mask)
    vars_ = list(var_names) if var_names is not None else _cube_vars(df)
    for m in agg_methods:
        if m not in AGG_METHODS:
            raise ValueError(f"unknown agg method {m!r}")
    aggs = [_agg_expr(v, m, exact_median) for v in vars_ for m in agg_methods]
    # at most one row per time step: a single-partition local sort
    # orders it without orderBy's range-sampling job and sort shuffle
    return (df.groupBy(time_name).agg(*aggs)
            .coalesce(1).sortWithinPartitions(time_name))
