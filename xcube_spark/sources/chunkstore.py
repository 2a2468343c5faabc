"""Virtual chunk-computed datasets — xcube/core/chunkstore.py:36-224
and core/zarrstore/generic.py:27,308.

The reference's lazy stores synthesize Zarr chunks on demand from a
user callable ``get_data(chunk_index) -> ndarray``.  The Spark-native
analog (SURVEY §2.1): a **generator DataFrame** —

    spark.range(num_chunks) -> mapInArrow(chunk_index -> cell rows)
        -> project(CubeGrid cell centres)

Each task materializes one chunk by calling the user function; nothing
is stored, scans stream straight out of compute.  The cell rows come
from the shared emitter (sources/cells.py); the coordinates are the
grid's closed-form cell centres.  A filter on ``t_i/y_i/x_i`` applies
to the generated rows: it cannot cross the Python stage, so every
chunk is generated.

The user function receives the chunk's index triple and its cell-index
bounds and returns a numpy array shaped (nt, ny, nx) per variable —
the reference's ``GenericArray.get_data`` contract re-expressed.
"""

from __future__ import annotations

from typing import Callable, Mapping

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.sources.cells import cells_frame, task_range

#: (chunk t/y/x index, (t0,t1,y0,y1,x0,x1) cell bounds) -> {var: ndarray}
ChunkFunc = Callable[[tuple[int, int, int], tuple[int, ...]], Mapping[str, np.ndarray]]


def chunk_grid(grid: CubeGrid) -> tuple[int, int, int]:
    ct, cy, cx = grid.chunks
    return (
        (grid.time_periods + ct - 1) // ct,
        (grid.height + cy - 1) // cy,
        (grid.width + cx - 1) // cx,
    )


def open_chunk_store(
    spark: SparkSession,
    grid: CubeGrid,
    get_data: ChunkFunc,
    var_names: list[str],
) -> DataFrame:
    """Build the virtual cells DataFrame over ``get_data``.

    The plan is ``range(num_chunks) -> mapInArrow -> project``: chunk
    generation is embarrassingly parallel and each Arrow batch carries
    one whole chunk.  A NaN from ``get_data`` is a NULL cell."""
    nt, ny, nx = chunk_grid(grid)
    ct, cy, cx = grid.chunks
    tp, h, w = grid.time_periods, grid.height, grid.width

    def read(row):
        tc, rem = divmod(int(row.id), ny * nx)
        yc, xc = divmod(rem, nx)
        t0, t1 = tc * ct, min((tc + 1) * ct, tp)
        y0, y1 = yc * cy, min((yc + 1) * cy, h)
        x0, x1 = xc * cx, min((xc + 1) * cx, w)
        arrays = get_data((tc, yc, xc), (t0, t1, y0, y1, x0, x1))
        yield (t0, y0, x0), {
            v: np.asarray(arrays[v], "float64").reshape(
                t1 - t0, y1 - y0, x1 - x0) for v in var_names}

    cells = cells_frame(task_range(spark, nt * ny * nx), read, var_names,
                        (tp, h, w))
    return cells.withColumns({
        "time": grid.time_center_expr(F.col("t_i")),
        "y": grid.y_center_expr(F.col("y_i")),
        "x": grid.x_center_expr(F.col("x_i")),
    }).select("t_i", "y_i", "x_i", "time", "y", "x", *var_names)
