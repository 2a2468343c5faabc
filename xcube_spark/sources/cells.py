"""The cells table every gridded reader returns — one owner for its
layout ``t_i, y_i, x_i, time, y, x, <vars>``, the engine's twin of
the single ``DatasetIO.read`` contract every format driver of the
reference returns its dataset through (xcube/core/dsio.py).

A reader keeps only its format code: the header parse, a task table
(one row per chunk, tile or plane) and ``read(row)``, which decodes
that row's blocks as ``(origin, {var: ndarray})`` pairs — 3-D
``(t, y, x)`` or 2-D ``(y, x)`` arrays trimmed to the data extent,
``origin`` the cell index of their first element.  The emitter does
the rest:

* the index columns come from each block's origin and shape;
* ``time``/``y``/``x`` come from axis arrays the driver decoded once:
  they ship in the task closure and each task indexes them with its
  cells' indices, so there is no axis table and no join;
* the projection maps NaN (Arrow's missing) to SQL NULL and applies
  the CF time decode as a Column.

Plan shape: ``tasks -> mapInPandas(read) -> project``.  Variables on
different chunk grids (``pivot=True``) come one per block and pivot
on the cell key and its coordinates — one shuffle, still no join.
"""

from __future__ import annotations

from typing import Callable, Iterable, Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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


def cells_frame(tasks: DataFrame, read: Reader, names: Sequence[str],
                shape: Sequence[int],
                axes: Mapping[str, np.ndarray] | None = None,
                label: str = "", pivot: bool = False) -> DataFrame:
    """The raw cell rows of ``tasks``: the index columns of a
    ``len(shape)``-D cube, the given axis columns and ``names`` as
    DOUBLE, NaN where missing.  An axis shorter than the data raises
    ``ValueError``."""
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

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                for origin, block in read(row):
                    first = next(iter(block.values()))
                    grids = np.meshgrid(
                        *[np.arange(o, o + n)
                          for o, n in zip(origin, first.shape)],
                        indexing="ij")
                    out = {c: g.ravel().astype("int32")
                           for c, g in zip(index, grids)}
                    for name, (icol, vals) in coords.items():
                        out[name] = vals[out[icol]]
                    if pivot:
                        (var, arr), = block.items()
                        out["var"] = var
                        out["val"] = np.asarray(arr, "float64").ravel()
                    else:
                        for n in names:
                            out[n] = np.asarray(block[n], "float64").ravel()
                    yield pd.DataFrame(out)

    schema = [f"{c} INT" for c in index] + [f"`{c}` DOUBLE" for c in coords]
    schema += (["var STRING", "val DOUBLE"] if pivot
               else [f"`{n}` DOUBLE" for n in names])
    cells = tasks.mapInPandas(gen, ", ".join(schema))
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
    :func:`cells_frame` projected to SQL NULL for missing values, with
    ``time`` decoded by its CF ``units``/``calendar`` (``time_attrs``)."""
    cells = cells_frame(tasks, read, names, shape, axes, label, pivot)
    coords = [F.col(name) for name in AXES if name in (axes or {})]
    if "time" in (axes or {}):
        from xcube_spark.functions.cftime import decode_cf_time

        attrs = time_attrs or {}
        coords[0] = decode_cf_time(
            F.col("time"), attrs.get("units", "seconds since 1970-01-01"),
            attrs.get("calendar")).alias("time")
    return cells.select(
        *INDEX[-len(shape):], *coords,
        *[F.when(~F.isnan(n), F.col(n)).alias(n) for n in names])
