"""Distributed multi-granule virtualization — the kerchunk workflow
the reference consumes through its reference data store
(``kerchunk``/``fsspec`` reference filesystem; repo twin
``sources/zarrio.py read_kerchunk_store``), built Spark-first.

A 100 TB netCDF-4 archive is millions of granule files.  Opening it as
one cube must NOT parse a million HDF5 headers on the driver: here the
metadata scan itself is a Spark job — ``mapInPandas`` tasks parse each
granule's HDF5 superblock/B-trees executor-locally and emit (a) chunk
byte-range rows and (b) tiny per-granule summaries (time values, axis
hashes).  Only the summaries and chunk KEYS come back to build the
combined reference document; no data bytes move at all.

The output is a standard kerchunk refs JSON describing ONE virtual
Zarr v2 cube concatenated along time (``{"version": 1, "refs":
{...}}``, byte ranges into the original .nc files, HDF5
shuffle+deflate chunks mapped to numcodecs ``shuffle`` + ``zlib``),
which then opens chunk-parallel through the existing
``open_kerchunk_cube`` — scan once, query forever.
"""

from __future__ import annotations

import base64
import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

_SCAN_SCHEMA = ("path STRING, kind STRING, var STRING, t0 INT, y0 INT, "
                "x0 INT, addr LONG, nbytes LONG, info STRING")

#: JSON-refs assembly is driver-side; beyond this many granules the
#: parquet-refs path (fully distributed) is the only sane choice.
MAX_JSON_REFS_GRANULES = 10_000


def _zarr_codecs(filters: list) -> tuple[list | None, dict | None]:
    """HDF5 filter pipeline -> (zarr filters, compressor)."""
    flt, comp = [], None
    for fid, cdata in filters:
        if fid == 2:
            flt.append({"id": "shuffle",
                        "elementsize": int(cdata[0]) if cdata else 0})
        elif fid == 1:
            comp = {"id": "zlib",
                    "level": int(cdata[0]) if cdata else 1}
        else:
            raise ValueError(
                f"HDF5 filter {fid} has no zarr reference mapping")
    return (flt or None), comp


def scan_netcdf4_granules(spark: SparkSession, paths: list[str],
                          var_names: list[str] | None = None,
                          time_dim: str = "time", y_dim: str = "lat",
                          x_dim: str = "lon",
                          capture_errors: bool = False):
    """Distributed granule metadata scan: one task per batch of paths
    parses HDF5 metadata and emits chunk/axis/meta rows.

    With ``capture_errors`` a granule that fails to parse emits one
    ``kind='error'`` row (info = message) instead of failing the whole
    job — the streaming ingest quarantines those paths."""

    def scan_one(path: str) -> list:
        from xcube_spark.sources.hdf5 import H5File, _var_dims, read_h5_array

        h5 = H5File(path)
        scales = {n.rsplit("/", 1)[-1]: n
                  for n, d in h5.datasets.items()
                  if d.attrs.get("CLASS") == "DIMENSION_SCALE"}
        yd = y_dim if y_dim in scales else "y"
        xd = x_dim if x_dim in scales else "x"
        want = [time_dim, yd, xd]
        rows = []
        for n, ds in h5.datasets.items():
            short = n.rsplit("/", 1)[-1]
            if _var_dims(ds) != want:
                continue
            if var_names is not None and short not in var_names:
                continue
            tp, h, w = ds.shape
            if ds.layout == "chunked":
                cshape = ds.chunk_shape
                for coords, addr, nb, fmask in h5.chunks(ds):
                    if fmask:
                        raise ValueError(
                            f"{path}:{short}: partial filter "
                            "masks are not virtualizable")
                    rows.append((path, "chunk", short, *coords,
                                 addr, nb, None))
                filters = ds.filters
            else:
                cshape = (1, h, w)
                plane = h * w * ds.dtype.itemsize
                for t in range(tp):
                    rows.append((path, "chunk", short, t, 0, 0,
                                 ds.data_addr + t * plane, plane,
                                 None))
                filters = []
            flt, comp = _zarr_codecs(filters)
            rows.append((path, "meta", short, 0, 0, 0, 0, 0,
                         json.dumps({
                             "shape": list(ds.shape),
                             "chunks": list(cshape),
                             "dtype": ds.dtype.str,
                             "filters": flt,
                             "compressor": comp,
                             "attrs": {
                                 k: v for k, v in ds.attrs.items()
                                 if k in ("_FillValue",
                                          "missing_value",
                                          "scale_factor",
                                          "add_offset")},
                         })))
        tvals, tattrs = read_h5_array(path, scales[time_dim], h5=h5)
        yvals, _ = read_h5_array(path, scales[yd], h5=h5)
        xvals, _ = read_h5_array(path, scales[xd], h5=h5)
        rows.append((path, "axes", "", 0, 0, 0, 0, 0, json.dumps({
            "t": tvals.astype("float64").tolist(),
            "y": yvals.astype("float64").tolist(),
            "x": xvals.astype("float64").tolist(),
            "t_units": tattrs.get("units",
                                  "seconds since 1970-01-01"),
            "t_calendar": tattrs.get("calendar"),
        })))
        return rows

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                try:
                    rows = scan_one(path)
                except Exception as e:  # noqa: BLE001 — quarantined
                    if not capture_errors:
                        raise
                    rows = [(path, "error", "", 0, 0, 0, 0, 0, str(e))]
                yield pd.DataFrame(
                    rows, columns=["path", "kind", "var", "t0", "y0",
                                   "x0", "addr", "nbytes", "info"])

    pdf = pd.DataFrame({"path": list(paths)})
    tasks = spark.createDataFrame(pdf).repartition(min(len(paths), 64))
    return tasks.mapInPandas(scan, _SCAN_SCHEMA)


def virtualize_netcdf4_mf(
    spark: SparkSession,
    paths: list[str],
    refs_path: str,
    var_names: list[str] | None = None,
    time_dim: str = "time",
    y_dim: str = "lat",
    x_dim: str = "lon",
) -> int:
    """Virtualize a set of netCDF-4 granules into ONE kerchunk refs
    document: a time-concatenated virtual Zarr v2 cube whose chunks are
    byte ranges into the original files.  Granules are ordered by
    their first time value; every granule must share the spatial axes,
    variable set and per-variable chunking/codec (asserted).  Returns
    the reference count; open with ``open_kerchunk_cube``.

    DRIVER-SIDE refs assembly (the whole chunk-reference table is
    collected to write one JSON document) — refuses archives above
    ``MAX_JSON_REFS_GRANULES`` granules; virtualize big archives with
    :func:`virtualize_netcdf4_mf_parquet`, whose reference table is
    written fully distributed and whose driver share is O(#granules)
    metadata only."""
    if len(paths) > MAX_JSON_REFS_GRANULES:
        raise ValueError(
            f"virtualize_netcdf4_mf collects every chunk reference "
            f"driver-side to write one JSON doc and refuses "
            f"{len(paths)} granules (cap {MAX_JSON_REFS_GRANULES}); "
            "use virtualize_netcdf4_mf_parquet - its refs table is "
            "written fully distributed and opens via "
            "open_kerchunk_parquet_cube")
    rows = scan_netcdf4_granules(spark, paths, var_names,
                                 time_dim, y_dim, x_dim).collect()
    return assemble_refs(rows, refs_path)


def _plan_virtual(metas: dict, axes: dict):
    """Shared validation + layout planning for both refs formats:
    granule time ordering, axis/codec homogeneity, chunk-layout
    uniformity, and the time-chunk tiling constraint."""
    order = sorted(axes, key=lambda p: axes[p]["t"][0])
    if not order:
        raise ValueError("no granules scanned")
    first = axes[order[0]]
    for p in order[1:]:
        if (axes[p]["y"] != first["y"] or axes[p]["x"] != first["x"]
                or axes[p]["t_units"] != first["t_units"]):
            raise ValueError(f"granule {p} has a different grid/axes")
    var_meta: dict[str, dict] = {}
    for (p, v), m in metas.items():
        ref = var_meta.setdefault(v, m)
        if (m["chunks"] != ref["chunks"] or m["dtype"] != ref["dtype"]
                or m["filters"] != ref["filters"]
                or m["compressor"] != ref["compressor"]):
            raise ValueError(f"granule {p} chunking/codec differs for {v}")
    shapes = {tuple(m["chunks"]) for m in var_meta.values()}
    if len(shapes) != 1:
        raise ValueError(
            f"variables must share one chunk layout, got {shapes} "
            "(pass var_names to select a uniform subset)")
    t_offsets: dict[str, int] = {}
    total_t = 0
    for p in order:
        t_offsets[p] = total_t
        total_t += len(axes[p]["t"])
    ct = next(iter(shapes))[0]
    for p in order:
        if t_offsets[p] % ct or len(axes[p]["t"]) % ct:
            raise ValueError(
                f"granule {p}: time chunk {ct} does not tile the "
                "concatenation boundaries")
    h, w = len(first["y"]), len(first["x"])
    return order, first, var_meta, t_offsets, total_t, h, w


def _metadata_entries(order, axes, first, var_meta, total_t, h, w):
    """All inline (key, payload) metadata entries of the virtual cube:
    .zgroup, axis arrays (base64) and per-variable .zarray/.zattrs —
    shared by the JSON and parquet refs writers."""
    out = [(".zgroup", json.dumps({"zarr_format": 2}))]

    def inline(name: str, vals: list, attrs: dict) -> None:
        arr = np.asarray(vals, "<f8")
        out.append((f"{name}/.zarray", json.dumps({
            "zarr_format": 2, "shape": [len(vals)], "chunks": [len(vals)],
            "dtype": "<f8", "compressor": None, "filters": None,
            "fill_value": None, "order": "C"})))
        out.append((f"{name}/.zattrs", json.dumps(attrs)))
        out.append((f"{name}/0", "base64:" + base64.b64encode(
            arr.tobytes()).decode("ascii")))

    inline("time", [t for p in order for t in axes[p]["t"]],
           {"_ARRAY_DIMENSIONS": ["time"], "units": first["t_units"],
            **({"calendar": first["t_calendar"]}
               if first["t_calendar"] else {})})
    inline("y", first["y"], {"_ARRAY_DIMENSIONS": ["y"]})
    inline("x", first["x"], {"_ARRAY_DIMENSIONS": ["x"]})
    for v, m in var_meta.items():
        out.append((f"{v}/.zarray", json.dumps({
            "zarr_format": 2, "shape": [total_t, h, w],
            "chunks": m["chunks"], "dtype": m["dtype"],
            "compressor": m["compressor"], "filters": m["filters"],
            "fill_value": m["attrs"].get("_FillValue"), "order": "C"})))
        out.append((f"{v}/.zattrs", json.dumps(
            {"_ARRAY_DIMENSIONS": ["time", "y", "x"], **m["attrs"]})))
    return out


def _group_scan_rows(rows):
    """Scan rows -> (chunks-by-path, metas, axes) dicts."""
    chunks: dict[str, list] = {}
    metas: dict[tuple[str, str], dict] = {}
    axes: dict[str, dict] = {}
    for r in rows:
        if r["kind"] == "chunk":
            chunks.setdefault(r["path"], []).append(r)
        elif r["kind"] == "meta":
            metas[(r["path"], r["var"])] = json.loads(r["info"])
        elif r["kind"] == "axes":
            axes[r["path"]] = json.loads(r["info"])
    return chunks, metas, axes


def validate_scan_rows(rows) -> None:
    """Raise ValueError if the scan rows do not form one coherent
    virtual cube (grid/codec/chunk-tiling homogeneity) — the
    pre-commit check of the streaming granule ingest."""
    _, metas, axes = _group_scan_rows(rows)
    _plan_virtual(metas, axes)


def assemble_refs(rows, refs_path: str) -> int:
    """Build the combined kerchunk refs document from (already
    collected) scan rows — shared by the batch virtualizer and the
    streaming granule-ingest sink."""
    chunks, metas, axes = _group_scan_rows(rows)
    order, first, var_meta, t_offsets, total_t, h, w = \
        _plan_virtual(metas, axes)
    refs: dict[str, object] = dict(
        _metadata_entries(order, axes, first, var_meta, total_t, h, w))
    count = 0
    for v, m in var_meta.items():
        ct_, cy, cx = m["chunks"]
        for p in order:
            off = t_offsets[p]
            for r in chunks.get(p, []):
                if r["var"] != v:
                    continue
                key = (f"{v}/{(off + r['t0']) // ct_}"
                       f".{r['y0'] // cy}.{r['x0'] // cx}")
                refs[key] = [f"file://{p}", int(r["addr"]),
                             int(r["nbytes"])]
                count += 1
    with open(refs_path, "w") as f:
        json.dump({"version": 1, "refs": refs}, f)
    return count


# ---------------------------------------------------------------------------
# parquet refs: the driverless-scale variant
# ---------------------------------------------------------------------------


def virtualize_netcdf4_mf_parquet(
    spark: SparkSession,
    paths: list[str],
    refs_dir: str,
    var_names: list[str] | None = None,
    time_dim: str = "time",
    y_dim: str = "lat",
    x_dim: str = "lon",
) -> None:
    """Parquet-refs variant of :func:`virtualize_netcdf4_mf` (the
    kerchunk-parquet storage direction): chunk references are computed
    AND written entirely distributed — only the O(#granules) axis/meta
    summaries ever reach the driver, so a million-granule archive
    virtualizes without a driver-sized refs JSON.

    Output layout: one parquet table with columns ``(key, url, offset,
    length, inline)``; metadata keys (.zarray/.zattrs/axis chunks)
    carry ``inline`` payloads, data keys carry byte ranges.  Open with
    :func:`open_kerchunk_parquet_cube`."""
    from pyspark.sql import functions as F

    scan = scan_netcdf4_granules(spark, paths, var_names,
                                 time_dim, y_dim, x_dim)
    scan = scan.persist()
    small = scan.where(F.col("kind") != "chunk").collect()
    metas: dict[tuple[str, str], dict] = {}
    axes: dict[str, dict] = {}
    for r in small:
        if r["kind"] == "meta":
            metas[(r["path"], r["var"])] = json.loads(r["info"])
        else:
            axes[r["path"]] = json.loads(r["info"])
    order, first, var_meta, t_offsets, total_t, h, w = \
        _plan_virtual(metas, axes)
    meta_rows = [(key, None, 0, 0, payload) for key, payload in
                 _metadata_entries(order, axes, first, var_meta,
                                   total_t, h, w)]

    # distributed key computation: broadcast the tiny (path -> t_off)
    # and (var -> chunk grid) tables, never collect the chunk rows
    off_df = spark.createDataFrame(
        [(p, t_offsets[p]) for p in order], "path STRING, t_off INT")
    cdf = spark.createDataFrame(
        [(v, *m["chunks"]) for v, m in var_meta.items()],
        "var STRING, ct INT, cy INT, cx INT")
    chunk_refs = (
        scan.where(F.col("kind") == "chunk")
        .join(F.broadcast(off_df), "path")
        .join(F.broadcast(cdf), "var")
        .select(
            F.concat_ws("/", "var", F.concat_ws(
                ".",
                ((F.col("t_off") + F.col("t0")) / F.col("ct"))
                .cast("int").cast("string"),
                (F.col("y0") / F.col("cy")).cast("int").cast("string"),
                (F.col("x0") / F.col("cx")).cast("int").cast("string"),
            )).alias("key"),
            F.concat(F.lit("file://"), "path").alias("url"),
            F.col("addr").alias("offset"),
            F.col("nbytes").alias("length"),
            F.lit(None).cast("string").alias("inline"),
        )
    )
    meta_df = spark.createDataFrame(
        meta_rows, "key STRING, url STRING, offset LONG, length LONG, "
                   "inline STRING")
    chunk_refs.unionByName(meta_df).write.mode("overwrite") \
        .parquet(refs_dir)
    scan.unpersist()


def open_kerchunk_parquet_cube(
    spark: SparkSession,
    refs_dir: str,
    var_names: list[str] | None = None,
):
    """Open a parquet-refs virtual cube: metadata rows (KBs) are
    collected to build the array map and decode the axes; chunk-
    reference rows stay a DataFrame and group into per-chunk-coordinate
    tasks with ONE metadata-sized shuffle — the data bytes are
    ranged-read executor-locally, exactly like the JSON-refs path
    (:func:`~xcube_spark.sources.zarrio.open_kerchunk_cube`) but with
    no driver-resident refs map at any point.  Columns follow
    ``var_names``, else the sorted variable names."""
    from pyspark.sql import functions as F

    from xcube_spark.sources.cells import emit_cells
    from xcube_spark.sources.zarrio import (_axes, _data_vars,
                                            _kerchunk_arrays,
                                            _kerchunk_fetch, decode_chunk,
                                            decode_values)

    refs = spark.read.parquet(refs_dir)
    meta = {r["key"]: r["inline"]
            for r in refs.where(F.col("inline").isNotNull()).collect()}
    base_dir = os.path.dirname(os.path.abspath(refs_dir))
    arrays = _kerchunk_arrays(meta, refs_dir)
    metas = _data_vars(arrays, var_names, refs_dir)
    names = list(metas) if var_names is not None else sorted(metas)
    tp, h, w = metas[names[0]].shape
    ct, cy, cx = metas[names[0]].chunks
    ntc, nyc, nxc = metas[names[0]].chunk_counts()

    key = F.split(F.col("key"), "/")
    coord = F.split(key.getItem(1), r"\.")
    chunk_refs = (
        refs.where(F.col("inline").isNull())
        .where(key.getItem(0).isin(names))
        .select(coord.getItem(0).cast("int").alias("tc"),
                coord.getItem(1).cast("int").alias("yc"),
                coord.getItem(2).cast("int").alias("xc"),
                F.struct(key.getItem(0).alias("var"), "url", "offset",
                         "length").alias("part"))
    )
    # Every coordinate of the chunk grid gets a task, referenced or
    # not: unwritten chunks of a sparse archive read as fill.  The grid
    # is a distributed range whose NULL parts collect_list skips.
    grid = spark.range(ntc * nyc * nxc).select(
        (F.col("id") / (nyc * nxc)).cast("int").alias("tc"),
        ((F.col("id") / nxc) % nyc).cast("int").alias("yc"),
        (F.col("id") % nxc).cast("int").alias("xc"),
        F.lit(None).cast(chunk_refs.schema["part"].dataType).alias("part"))
    tasks = chunk_refs.unionByName(grid).groupBy("tc", "yc", "xc") \
        .agg(F.collect_list("part").alias("parts"))

    def read(row):
        fetch = _kerchunk_fetch(
            {p["var"]: [p["url"], p["offset"], p["length"]]
             for p in row.parts}, base_dir)
        t0, y0, x0 = int(row.tc) * ct, int(row.yc) * cy, int(row.xc) * cx
        block = {}
        for n in names:  # a variable with no ref reads as fill
            vals = decode_values(decode_chunk(fetch(n), metas[n]), metas[n])
            block[n] = vals[: tp - t0, : h - y0, : w - x0]
        yield (t0, y0, x0), block

    axes, time_attrs = _axes(arrays, _kerchunk_fetch(meta, base_dir))
    return emit_cells(tasks, read, names, (tp, h, w), axes, time_attrs,
                      refs_dir)
