"""Affine spatial resampling — xcube/core/resampling/affine.py:24-392.

``affine_transform_dataset``: resample a regular-grid cube onto another
regular grid in the same CRS (pure scale + offset between the two
pixel spaces).

Spark mapping (SURVEY §2.6): the **target-driven gather join** —
1. synthesize the target cell table (pure ``spark.range`` math, like
   ``new_cube``);
2. compute each target cell's *fractional source index* with the affine
   Column expression (no UDF; the reference's
   ``dask_image.ndinterp.affine_transform`` call graph collapses into
   two multiplies and an add per axis);
3. gather:
   - **nearest** (spline order 0; the int/bool default,
     affine.py:152-158): round to int index, single equi-join on
     ``(t_i, y_i, x_i)``;
   - **bilinear** (order 1, float default): join the 4 neighbor cells
     and blend with the fractional weights — expressed as one explode
     of 4 weighted index tuples followed by the same equi-join and a
     weighted-sum aggregation (NaN-aware: weights renormalize over
     non-null neighbors, the reference's ``recover_nan`` trick,
     affine.py:290-311);
4. **integer-factor downscale** (the ``da.coarsen`` path,
   affine.py:62-98): block aggregation via subsample_dataset instead of
   a gather — one partial-agg shuffle.

The source side keeps its (t_i, y_i, x_i) layout, so with a cells table
sorted on those keys the gather join sort-merges without extra exchange.
The join is a LEFT OUTER join that preserves the target index table,
so Spark can broadcast only the source side, never the target.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid


def _target_index_table(spark: SparkSession, target: CubeGrid) -> DataFrame:
    """Target cells with their (fractional) source-space coordinates
    attached later; one narrow spark.range projection."""
    plane = target.width * target.height
    base = spark.range(target.size)
    t_i = (F.col("id") / plane).cast("int")
    rem = F.col("id") % plane
    y_i = (rem / target.width).cast("int")
    x_i = (rem % target.width).cast("int")
    return base.select(
        t_i.alias("t_i"), y_i.alias("y_i"), x_i.alias("x_i")
    ).select(
        "t_i",
        "y_i",
        "x_i",
        target.time_center_expr(F.col("t_i")).alias("time"),
        target.y_center_expr(F.col("y_i")).alias("y"),
        target.x_center_expr(F.col("x_i")).alias("x"),
    )


def _source_frac_index(source: CubeGrid, coord: Column, axis: str) -> Column:
    """Fractional source pixel index of a coordinate (affine inverse):
    i = (coord - origin) / res - 0.5 (cell centers at half-pixels)."""
    if axis == "x":
        return (coord - F.lit(source.x_start)) / F.lit(source.x_res) - 0.5
    if source.inverse_y:
        return (F.lit(source.y_end) - coord) / F.lit(source.y_res) - 0.5
    return (coord - F.lit(source.y_start)) / F.lit(source.y_res) - 0.5


def affine_transform_dataset(
    cube: DataFrame,
    source: CubeGrid,
    target: CubeGrid,
    var_names: Iterable[str] | None = None,
    spline_orders: int | Mapping[str, int] | None = None,
) -> DataFrame:
    """Resample ``cube`` from grid ``source`` onto grid ``target``.

    ``spline_orders``: 0 (nearest), 1 (bilinear), 3 (bicubic —
    16-neighbor Catmull-Rom convolution, the classic a=-0.5 bicubic
    kernel; an interpolating stand-in for the reference's order-3
    spline, affine.py:152-158 via dask_image), or 2/4/5 (TRUE B-spline
    interpolation with the distributed mirror-boundary prefilter,
    resampling/bspline.py — scipy ``map_coordinates`` semantics);
    scalar or per-var (the reference's ``var_configs`` spline_order,
    spatial.py:62-98).
    """
    from xcube_spark.cube.grid import var_names as cube_vars

    spark = cube.sparkSession
    vars_ = list(var_names) if var_names is not None else cube_vars(cube)
    if spline_orders is None:
        orders = {v: 1 if dict(cube.dtypes)[v] in ("double", "float") else 0
                  for v in vars_}
    elif isinstance(spline_orders, int):
        orders = {v: spline_orders for v in vars_}
    else:
        orders = {v: spline_orders.get(v, 1) for v in vars_}
    bad = {v: o for v, o in orders.items() if o not in (0, 1, 2, 3, 4, 5)}
    if bad:
        raise ValueError(f"unsupported spline orders {bad}; only 0..5")

    tgt = _target_index_table(spark, target)
    fx = _source_frac_index(source, F.col("x"), "x")
    fy = _source_frac_index(source, F.col("y"), "y")
    tgt = tgt.withColumns({"__fx": fx, "__fy": fy})

    src_cells = cube.select(
        F.col("t_i").alias("__st"),
        F.col("y_i").alias("__sy"),
        F.col("x_i").alias("__sx"),
        *vars_,
    )

    nearest_vars = [v for v in vars_ if orders[v] == 0]
    linear_vars = [v for v in vars_ if orders[v] == 1]
    cubic_vars = [v for v in vars_ if orders[v] == 3]
    bspline_vars = {o: [v for v in vars_ if orders[v] == o]
                    for o in (2, 4, 5) if any(orders[v] == o for v in vars_)}
    out = tgt

    # with a single gather family the target's coords ride through the
    # gather join itself — no join-back onto the target table
    single_family = (sum(map(bool, (nearest_vars, linear_vars, cubic_vars)))
                     + len(bspline_vars)) == 1

    if nearest_vars:
        nearest = tgt.select(
            "t_i", "y_i", "x_i",
            *(("time", "y", "x") if single_family else ()),
            F.round("__fy").cast("int").alias("__sy"),
            F.round("__fx").cast("int").alias("__sx"),
        )
        # equi-join on computed indices (the extract.py:321 rewrite)
        joined = nearest.join(
            src_cells.select("__st", "__sy", "__sx", *nearest_vars),
            on=[
                F.col("t_i") == F.col("__st"),
                nearest["__sy"] == src_cells["__sy"],
                nearest["__sx"] == src_cells["__sx"],
            ],
            how="left",
        )
        if single_family:
            return joined.select(
                "t_i", "y_i", "x_i", "time", "y", "x", *nearest_vars
            )
        out = out.join(
            joined.select("t_i", "y_i", "x_i", *nearest_vars),
            on=["t_i", "y_i", "x_i"], how="left",
        )

    def weighted_gather(family_vars: list[str], corners: Column) -> DataFrame:
        """Explode weighted neighbor tuples, equi-join the source
        cells, and blend with NaN-renormalized weights (recover_nan,
        affine.py:290-311) — shared by the bilinear (4-corner) and
        bicubic (16-neighbor) families."""
        coord_cols = ("time", "y", "x") if single_family else ()
        expl = tgt.select(
            "t_i", "y_i", "x_i", *coord_cols, F.explode(corners).alias("c")
        ).select(
            "t_i", "y_i", "x_i", *coord_cols,
            F.col("c.__sy").alias("__sy"),
            F.col("c.__sx").alias("__sx"),
            F.col("c.__w").alias("__w"),
        )
        joined = expl.join(
            src_cells.select("__st", "__sy", "__sx", *family_vars),
            on=[
                F.col("t_i") == F.col("__st"),
                expl["__sy"] == src_cells["__sy"],
                expl["__sx"] == src_cells["__sx"],
            ],
            how="left",
        )
        # the corner rows of a target cell carry identical coords, so
        # first() re-attaches them without a join-back
        aggs = [F.first(c).alias(c) for c in coord_cols]
        for v in family_vars:
            num = F.sum(F.when(F.col(v).isNotNull(), F.col("__w") * F.col(v)))
            den = F.sum(F.when(F.col(v).isNotNull(), F.col("__w")))
            # abs(): bicubic weights can be negative, so a valid
            # near-complete stencil may sum slightly below 1
            aggs.append(
                F.when(F.abs(den) > 1e-12, num / den).alias(v)
            )
        return joined.groupBy("t_i", "y_i", "x_i").agg(*aggs)

    if linear_vars:
        # 4-neighbor gather: (dy, dx) in {0,1}^2 with bilinear weights
        y0 = F.floor("__fy").cast("int")
        x0 = F.floor("__fx").cast("int")
        wy = F.col("__fy") - y0
        wx = F.col("__fx") - x0
        corners = F.array(
            *[
                F.struct(
                    (y0 + dy).alias("__sy"),
                    (x0 + dx).alias("__sx"),
                    (
                        (wy if dy else (1 - wy)) * (wx if dx else (1 - wx))
                    ).alias("__w"),
                )
                for dy in (0, 1)
                for dx in (0, 1)
            ]
        )
        blended = weighted_gather(linear_vars, corners)
        if single_family:
            return blended.select(
                "t_i", "y_i", "x_i", "time", "y", "x", *linear_vars
            )
        out = out.join(blended, on=["t_i", "y_i", "x_i"], how="left")

    if cubic_vars:
        # 16-neighbor gather: (dy, dx) in {-1,0,1,2}^2 with separable
        # Catmull-Rom weights w(|o - frac|) — the cubic-convolution
        # kernel (a = -0.5); weights sum to exactly 1 on a full stencil
        y0 = F.floor("__fy").cast("int")
        x0 = F.floor("__fx").cast("int")
        ty = F.col("__fy") - y0
        tx = F.col("__fx") - x0

        def cr(dist: Column) -> Column:
            s = F.abs(dist)
            s2, s3 = s * s, s * s * s
            return (
                F.when(s <= 1, 1.5 * s3 - 2.5 * s2 + 1)
                .when(s < 2, -0.5 * s3 + 2.5 * s2 - 4 * s + 2)
                .otherwise(F.lit(0.0))
            )

        corners = F.array(
            *[
                F.struct(
                    (y0 + dy).alias("__sy"),
                    (x0 + dx).alias("__sx"),
                    (cr(F.lit(dy) - ty) * cr(F.lit(dx) - tx)).alias("__w"),
                )
                for dy in (-1, 0, 1, 2)
                for dx in (-1, 0, 1, 2)
            ]
        )
        blended = weighted_gather(cubic_vars, corners)
        if single_family:
            return blended.select(
                "t_i", "y_i", "x_i", "time", "y", "x", *cubic_vars
            )
        out = out.join(blended, on=["t_i", "y_i", "x_i"], how="left")

    for o, family in bspline_vars.items():
        # true B-spline orders (scipy parity): distributed prefilter +
        # basis gather (resampling/bspline.py)
        from xcube_spark.operators.resampling.bspline import (
            bspline_transform_dataset)

        blended = bspline_transform_dataset(cube, source, target, o,
                                            var_names=family)
        if single_family:
            return blended
        out = out.join(
            blended.select("t_i", "y_i", "x_i", *family),
            on=["t_i", "y_i", "x_i"], how="left")

    return out.select("t_i", "y_i", "x_i", "time", "y", "x", *vars_)


def downscale_dataset(
    cube: DataFrame,
    factor: int,
    agg: str = "mean",
) -> DataFrame:
    """Integer-divisor downscale (the coarsen path, affine.py:62-98):
    block aggregation, nanmean default -> NULL-skipping avg.  Keeps the
    plain variable names (the coarsen path does not rename, unlike
    resample_in_time's ``var_<method>`` convention)."""
    from xcube_spark.cube.grid import var_names as cube_vars
    from xcube_spark.operators.subsampling import subsample_dataset

    vars_ = cube_vars(cube)
    out = subsample_dataset(cube, factor=factor, agg_methods=agg)
    renames = {f"{v}_{agg}": v for v in vars_ if f"{v}_{agg}" in out.columns}
    return out.withColumnsRenamed(renames).drop("n")
