"""Multi-resolution pyramids — xcube/core/level.py + mldataset/.

``compute_levels`` (level.py:31-137): build pyramid levels, level 0 =
full resolution, each level halving x/y (``size[l+1] = (size[l]+1)//2``,
mldataset/abc.py:19-31) by decimation (``[..., ::2, ::2]``) or by block
aggregation (quality path).

Spark mapping (SURVEY §1.8/4): LOD tables.  Decimation is a pure
predicate (shuffle-free); aggregation reuses subsample_dataset.  Level
selection (the tile server's zoom rule, abc.py:136) picks the smallest
level whose resolution is finer than the requested one — a planner
function, not a scan.
"""

from __future__ import annotations

import math
from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.operators.subsampling import subsample_dataset


def num_levels(grid: CubeGrid, tile_size: int = 256) -> int:
    """Levels until the full extent fits one tile (tilingscheme math)."""
    n = 1
    w, h = grid.width, grid.height
    while max(w, h) > tile_size:
        w, h = (w + 1) // 2, (h + 1) // 2
        n += 1
    return n


def next_level(cube: DataFrame, method: str = "first") -> DataFrame:
    """One pyramid step: halve x/y.

    method='first'   -> decimation, the reference default (level.py:90):
                        keep even rows/cols; pure filter, no shuffle.
    method=<agg>     -> 2x2 block aggregation via subsample_dataset
                        (anti-aliased 'quality' path).
    """
    if method == "first":
        out = cube.where((F.col("y_i") % 2 == 0) & (F.col("x_i") % 2 == 0))
        return out.withColumns(
            {
                "y_i": (F.col("y_i") / 2).cast("int"),
                "x_i": (F.col("x_i") / 2).cast("int"),
            }
        )
    return subsample_dataset(cube, factor=2, agg_methods=method)


def compute_levels(
    cube: DataFrame,
    grid: CubeGrid,
    num: int | None = None,
    method: str = "first",
) -> list[tuple[DataFrame, CubeGrid]]:
    """All pyramid levels [(level_df, level_grid), ...], level 0 first.

    Levels are lazy DataFrames — materialize the same levels with
    ``mldataset.write_mldataset(BaseMultiLevelDataset(cube, grid, num,
    method), path)`` to get the reference's ``.levels`` persistence
    (level.py:139-205); in the relational model each level is its own
    parquet table, partitioned like the base layout.
    """
    num = num or num_levels(grid)
    out: list[tuple[DataFrame, CubeGrid]] = [(cube, grid)]
    cur, g = cube, grid
    for _ in range(1, num):
        cur = next_level(cur, method=method)
        g = g.downsampled(2)
        out.append((cur, g))
    return out


def select_level(
    levels: Mapping[int, CubeGrid] | list[CubeGrid],
    target_res: float,
) -> int:
    """LOD selection rule (mldataset/abc.py:136): the coarsest level
    whose resolution is still finer than (or equal to) the target."""
    grids = dict(enumerate(levels)) if isinstance(levels, list) else dict(levels)
    best = 0
    for lvl in sorted(grids):
        if grids[lvl].x_res <= target_res * (1 + 1e-9):
            best = lvl
        else:
            break
    return best

