"""The cells table every gridded reader returns — one owner for its
layout ``t_i, y_i, x_i, time, y, x, <vars>``, the engine's twin of
the single ``DatasetIO.read`` contract every format driver of the
reference returns its dataset through (xcube/core/dsio.py).

A reader keeps only its format code: the header parse, a task table
(one row per chunk, tile or plane, :func:`task_range`) and
``read(row)``, which decodes that row's blocks as
``(origin, {var: ndarray})`` pairs — 3-D ``(t, y, x)`` or 2-D
``(y, x)`` arrays trimmed to the data extent, ``origin`` the cell
index of their first element.  The emitter does the rest:

* each block becomes one Arrow record batch built straight from numpy
  arrays — no pandas on the way;
* the index columns come from each block's origin and shape;
* ``time``/``y``/``x`` come from axis arrays the driver decoded once:
  they ship in the task closure and each task indexes them with its
  cells' indices, so there is no axis table and no join;
* NaN becomes SQL NULL as the batch is built; the projection applies
  the CF time decode as a Column.

Plan shape: ``tasks -> mapInArrow(read) -> project``.  Variables on
different chunk grids (``pivot=True``) come one per block and pivot
on the cell key and its coordinates — one shuffle, still no join.
A filter after the open cannot cross the Python stage; readers that
take ``cell_bounds`` drop the tasks outside them first
(:func:`prune_tasks`) and filter the cells exactly after
(:func:`clip_cells`).
"""

from __future__ import annotations

from collections import namedtuple
from typing import Callable, Iterable, Mapping, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

INDEX = ("t_i", "y_i", "x_i")
AXES = ("time", "y", "x")

#: ``(origin, {var: block})``: a block's first cell index and its arrays
Block = tuple[Sequence[int], Mapping[str, np.ndarray]]
Reader = Callable[[object], Iterable[Block]]


def cf_decode(arr: np.ndarray, attrs: Mapping) -> np.ndarray:
    """CF decode of raw values as xarray's ``decode_cf`` does it:
    ``_FillValue``/``missing_value`` -> NaN, then scale/offset."""
    out = arr.astype("float64")
    for key in ("_FillValue", "missing_value"):
        if key in attrs:
            out[arr == np.asarray(attrs[key], arr.dtype)] = np.nan
    scale = float(attrs.get("scale_factor", 1.0))
    offset = float(attrs.get("add_offset", 0.0))
    if scale != 1.0 or offset != 0.0:
        out = out * scale + offset
    return out


def task_range(spark: SparkSession, n: int) -> DataFrame:
    """``spark.range(n)`` with no more splits than tasks or cores: a
    16-tile read on a 32-core session runs 16 Python tasks, not 32."""
    return spark.range(n, numPartitions=max(
        1, min(n, spark.sparkContext.defaultParallelism)))


def prune_tasks(tasks: DataFrame, extents: Mapping[str, tuple[Column, int]],
                cell_bounds: Mapping[str, tuple[int, int]] | None,
                ) -> DataFrame:
    """The tasks whose cells can meet ``cell_bounds`` (inclusive
    cell-index ranges, ``{"y_i": (lo, hi)}``).  ``extents``
    maps an index column to the task's first cell on it (a Column over
    the task row) and a task's cell count along it; bounds on other
    columns keep every task."""
    for axis, (lo, hi) in (cell_bounds or {}).items():
        if axis in extents:
            first, size = extents[axis]
            tasks = tasks.where((first <= hi) & (first + size > lo))
    return tasks


def clip_cells(cells: DataFrame,
               cell_bounds: Mapping[str, tuple[int, int]] | None) -> DataFrame:
    """The exact cell filter that follows :func:`prune_tasks`."""
    for axis, (lo, hi) in (cell_bounds or {}).items():
        cells = cells.where(F.col(axis).between(lo, hi))
    return cells


def region_tasks(regions: Mapping[tuple, Sequence],
                 n_vars: int) -> tuple[list, bool]:
    """Tasks ``(origin, parts)`` over chunk regions ``{origin: [one
    part per variable]}``, and whether they need the pivot: one task
    per region when every region holds all ``n_vars`` variables (one
    chunk grid), else one task per (region, variable)."""
    if all(len(parts) == n_vars for parts in regions.values()):
        return sorted(regions.items()), False
    return [(origin, [part]) for origin, parts in sorted(regions.items())
            for part in parts], True


def _doubles(arr: np.ndarray) -> pa.Array:
    """A DOUBLE column with NaN as null (SQL NULL once in Spark)."""
    return pa.array(np.asarray(arr, "float64").ravel(), pa.float64(),
                    from_pandas=True)


def cells_frame(tasks: DataFrame, read: Reader, names: Sequence[str],
                shape: Sequence[int],
                axes: Mapping[str, np.ndarray] | None = None,
                label: str = "", pivot: bool = False) -> DataFrame:
    """The raw cell rows of ``tasks``: the index columns of a
    ``len(shape)``-D cube, the given axis columns and ``names`` as
    DOUBLE, NULL where NaN.  ``read`` gets each task row as a
    namedtuple.  An axis shorter than the data raises ``ValueError``."""
    index = INDEX[-len(shape):]
    extent = dict(zip(index, shape))
    coords = {}  # axis name -> (index column, values); time first
    for name in AXES:
        if name in (axes or {}):
            icol = INDEX[AXES.index(name)]
            vals = np.asarray(axes[name], "float64")
            if len(vals) < extent[icol]:
                raise ValueError(
                    f"axis {name!r} of {label} has {len(vals)} values, "
                    f"the data has {extent[icol]}")
            coords[name] = (icol, vals[: extent[icol]])

    sql = {pa.int32(): "INT", pa.float64(): "DOUBLE", pa.string(): "STRING"}
    out_schema = pa.schema(
        [(c, pa.int32()) for c in index]
        + [(c, pa.float64()) for c in coords]
        + ([("var", pa.string()), ("val", pa.float64())] if pivot
           else [(n, pa.float64()) for n in names]))

    def gen(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        for batch in batches:
            task = namedtuple("task", batch.schema.names, rename=True)
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                for origin, block in read(task(*values)):
                    first = next(iter(block.values()))
                    grids = np.meshgrid(
                        *[np.arange(o, o + n, dtype="int32")
                          for o, n in zip(origin, first.shape)],
                        indexing="ij")
                    idx = [g.ravel() for g in grids]
                    cols = [pa.array(i) for i in idx]
                    cols += [_doubles(vals[idx[index.index(icol)]])
                             for icol, vals in coords.values()]
                    if pivot:
                        (var, arr), = block.items()
                        cols += [pa.repeat(var, arr.size), _doubles(arr)]
                    else:
                        cols += [_doubles(block[n]) for n in names]
                    yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    cells = tasks.mapInArrow(gen, ", ".join(
        f"`{f.name}` {sql[f.type]}" for f in out_schema))
    if pivot:
        cells = cells.groupBy(*index, *coords).pivot("var", list(names)) \
            .agg(F.first("val"))
    return cells


def emit_cells(tasks: DataFrame, read: Reader, names: Sequence[str],
               shape: Sequence[int],
               axes: Mapping[str, np.ndarray] | None = None,
               time_attrs: Mapping | None = None, label: str = "",
               pivot: bool = False) -> DataFrame:
    """The cells DataFrame of ``tasks`` (see the module docstring):
    :func:`cells_frame` with ``time`` decoded by its CF
    ``units``/``calendar`` (``time_attrs``)."""
    cells = cells_frame(tasks, read, names, shape, axes, label, pivot)
    if "time" not in (axes or {}):
        return cells
    from xcube_spark.functions.cftime import decode_cf_time

    attrs = time_attrs or {}
    return cells.withColumn("time", decode_cf_time(
        F.col("time"), attrs.get("units", "seconds since 1970-01-01"),
        attrs.get("calendar")))
