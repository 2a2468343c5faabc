"""NetCDF-3 (classic) cube IO — xcube/core/dsio.py:359
(``Netcdf4DatasetIO``).

The reference reads/writes NetCDF through the netCDF4/HDF5 stack,
which is not in this container and not reimplementable.  The
**classic** formats (CDF-1 / CDF-2, the original NetCDF binary layout)
ARE a small public spec — header with dim/attr/var tables, contiguous
row-major fixed data, record variables striding the unlimited
dimension — so they are parsed directly, giving the engine real
ingestion for the large body of classic-format earth-observation
products.  netCDF4/HDF5 files remain out of scope (documented).

Same scale model as the Zarr/GeoTIFF readers: the driver reads only
the header and the 1-D coordinate variables (KBs); each time step is a
``spark.range`` task that reads every variable's byte range and
decodes it executor-locally, and the cells come out through the shared
emitter (sources/cells.py) with no join.
CF decoding matches the reference's xarray ``decode_cf``:
``_FillValue``/``missing_value`` -> NULL, then scale/offset, and CF
``units``/``calendar`` time handling via functions/cftime.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from xcube_spark.sources.cells import cf_decode, emit_cells, task_range

_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
_NC_TYPES = {1: np.dtype(">i1"), 2: np.dtype("S1"), 3: np.dtype(">i2"),
             4: np.dtype(">i4"), 5: np.dtype(">f4"), 6: np.dtype(">f8")}
_TYPE_CODES = {v: k for k, v in _NC_TYPES.items()}


@dataclass
class NcVar:
    name: str
    dims: list[int]  # dim indices
    dtype: np.dtype
    vsize: int
    begin: int
    attrs: dict = field(default_factory=dict)
    is_record: bool = False


@dataclass
class NcFile:
    dims: list[tuple[str, int]]  # (name, size); record dim size patched
    gattrs: dict
    variables: dict[str, NcVar]
    numrecs: int
    recsize: int


class _Cursor:
    def __init__(self, data: bytes):
        self.d, self.o = data, 0

    def u32(self) -> int:
        v, = struct.unpack_from(">i", self.d, self.o)
        self.o += 4
        return v

    def u64(self) -> int:
        v, = struct.unpack_from(">q", self.d, self.o)
        self.o += 8
        return v

    def name(self) -> str:
        n = self.u32()
        s = self.d[self.o:self.o + n].decode("utf-8")
        self.o += (n + 3) // 4 * 4
        return s

    def values(self, nc_type: int, n: int):
        dt = _NC_TYPES[nc_type]
        size = dt.itemsize * n
        raw = self.d[self.o:self.o + size]
        self.o += (size + 3) // 4 * 4
        if nc_type == 2:
            return raw.decode("utf-8", "replace").rstrip("\0")
        return np.frombuffer(raw, dt).tolist()

    def att_list(self) -> dict:
        tag, n = self.u32(), self.u32()
        out = {}
        if tag == 0 and n == 0:
            return out
        if tag != _NC_ATTRIBUTE:
            raise ValueError("malformed NetCDF attribute list")
        for _ in range(n):
            aname = self.name()
            atype = self.u32()
            nelem = self.u32()
            vals = self.values(atype, nelem)
            if isinstance(vals, list) and len(vals) == 1:
                vals = vals[0]
            out[aname] = vals
        return out


def read_netcdf_header(path: str, _buf: int = 1 << 20) -> NcFile:
    """Driver-side header parse (CDF-1 32-bit / CDF-2 64-bit offsets)."""
    with open(path, "rb") as f:
        data = f.read(_buf)  # headers are KBs; 1 MB is generous
    if data[:3] != b"CDF" or data[3] not in (1, 2):
        raise ValueError(f"not a classic NetCDF file: {path} "
                         "(netCDF4/HDF5 is out of scope)")
    v64 = data[3] == 2
    c = _Cursor(data)
    c.o = 4
    try:
        numrecs = c.u32()  # -1 = STREAMING
        dims: list[tuple[str, int]] = []
        tag, n = c.u32(), c.u32()
        if tag == _NC_DIMENSION:
            for _ in range(n):
                dims.append((c.name(), c.u32()))
        elif not (tag == 0 and n == 0):
            raise ValueError("malformed NetCDF dimension list")
        gattrs = c.att_list()
        variables: dict[str, NcVar] = {}
        tag, n = c.u32(), c.u32()
        recsize = 0
        rec_vars: list[NcVar] = []
        if tag == _NC_VARIABLE:
            for _ in range(n):
                name = c.name()
                nd = c.u32()
                dimids = [c.u32() for _ in range(nd)]
                attrs = c.att_list()
                nc_type = c.u32()
                vsize = c.u32()
                begin = c.u64() if v64 else c.u32()
                is_rec = bool(dimids) and dims[dimids[0]][1] == 0
                var = NcVar(name=name, dims=dimids,
                            dtype=_NC_TYPES[nc_type], vsize=vsize,
                            begin=begin, attrs=attrs, is_record=is_rec)
                variables[name] = var
                if is_rec:
                    rec_vars.append(var)
                    recsize += vsize
        elif not (tag == 0 and n == 0):
            raise ValueError("malformed NetCDF variable list")
    except (struct.error, IndexError) as e:
        if len(data) == _buf and os.path.getsize(path) > _buf:
            # header larger than the read buffer — parse ran off the
            # end; re-read with a bigger window instead of surfacing a
            # confusing struct error
            return read_netcdf_header(path, _buf=_buf * 16)
        raise ValueError(f"malformed classic-NetCDF header: {path}") from e
    if len(rec_vars) == 1:
        # spec special rule: with exactly ONE record variable its
        # record slots are packed with NO 4-byte padding — the padded
        # vsize overstates the stride for i1/i2/S1 element types
        v = rec_vars[0]
        nelem = 1
        for d in v.dims[1:]:
            nelem *= dims[d][1]
        recsize = nelem * v.dtype.itemsize
    return NcFile(dims=dims, gattrs=gattrs, variables=variables,
                  numrecs=max(numrecs, 0), recsize=recsize)


def _dim_size(nc: NcFile, idx: int) -> int:
    name, size = nc.dims[idx]
    return nc.numrecs if size == 0 else size


def open_netcdf_cube(
    spark: SparkSession,
    path: str,
    var_names: list[str] | None = None,
    time_dim: str = "time",
    y_dim: str = "lat",
    x_dim: str = "lon",
) -> DataFrame:
    """Open a classic-NetCDF cube as a cells DataFrame
    (``t_i, y_i, x_i, time, y, x, <vars>``).

    Accepts variables shaped ``(time, y, x)`` (fixed or record time
    dimension).  Per-(var, time-step) byte ranges are computed from the
    header.  Plan: ``range(T) -> mapInArrow -> project`` — each task
    reads its plane of every variable; the coordinate values are read
    once on the driver and indexed per cell in the task (a dimension
    without a coordinate variable counts cells).  Dim names default to
    the CF-common ``time/lat/lon`` and fall back to ``y``/``x``."""
    nc = read_netcdf_header(path)
    dim_names = [d[0] for d in nc.dims]
    if y_dim not in dim_names and "y" in dim_names:
        y_dim = "y"
    if x_dim not in dim_names and "x" in dim_names:
        x_dim = "x"
    for want in (time_dim, y_dim, x_dim):
        if want not in dim_names:
            raise ValueError(f"dimension {want!r} not in {dim_names}")
    ti, yi, xi = (dim_names.index(d) for d in (time_dim, y_dim, x_dim))
    data_vars = {
        n: v for n, v in nc.variables.items()
        if v.dims == [ti, yi, xi]
    }
    if var_names is not None:
        missing = set(var_names) - set(data_vars)
        if missing:
            raise KeyError(f"variables not in file: {sorted(missing)}")
        data_vars = {n: data_vars[n] for n in var_names}
    if not data_vars:
        raise ValueError(f"no (time, y, x) variables in {path}")
    names = list(data_vars)
    tp = _dim_size(nc, ti)
    h, w = _dim_size(nc, yi), _dim_size(nc, xi)
    plane = h * w
    # (begin, stride) per var: record vars stride by recsize, fixed
    # vars by their own plane size
    layout = {
        n: (v.begin,
            nc.recsize if v.is_record else v.dtype.itemsize * plane,
            v.dtype, dict(v.attrs))
        for n, v in data_vars.items()
    }

    def read(row):
        t = int(row.id)
        block = {}
        with open(path, "rb") as f:
            for n, (begin, stride, dt, attrs) in layout.items():
                f.seek(begin + t * stride)
                arr = np.frombuffer(f.read(dt.itemsize * plane), dt)
                block[n] = cf_decode(arr, attrs).reshape(1, h, w)
        yield (t, 0, 0), block

    # 1-D coordinate variables, raw; a missing one counts cells
    def axis_vals(dim_idx: int, dim_name: str) -> tuple[np.ndarray, dict]:
        v = nc.variables.get(dim_name)
        if v is None or v.dims != [dim_idx]:
            return np.arange(_dim_size(nc, dim_idx), dtype="float64"), {}
        size = _dim_size(nc, dim_idx)
        with open(path, "rb") as f:
            f.seek(v.begin)
            if v.is_record:
                vals = np.empty(size, "float64")
                for r in range(size):
                    f.seek(v.begin + r * nc.recsize)
                    vals[r] = np.frombuffer(
                        f.read(v.dtype.itemsize), v.dtype)[0]
            else:
                vals = np.frombuffer(
                    f.read(v.dtype.itemsize * size), v.dtype
                ).astype("float64")
        return vals, dict(v.attrs)

    (t_vals, t_attrs), (y_vals, _), (x_vals, _) = (
        axis_vals(ti, time_dim), axis_vals(yi, y_dim), axis_vals(xi, x_dim))
    return emit_cells(task_range(spark, tp), read, names, (tp, h, w),
                      {"time": t_vals, "y": y_vals, "x": x_vals}, t_attrs,
                      path)


# ---- writer (classic CDF-1, fixed layout) ------------------------------


def _pad(b: bytes) -> bytes:
    return b + b"\0" * ((4 - len(b) % 4) % 4)


def _name(s: str) -> bytes:
    raw = s.encode("utf-8")
    return struct.pack(">i", len(raw)) + _pad(raw)


def _att_list(attrs: dict) -> bytes:
    if not attrs:
        return struct.pack(">2i", 0, 0)
    out = struct.pack(">2i", _NC_ATTRIBUTE, len(attrs))
    for k, v in attrs.items():
        out += _name(k)
        if isinstance(v, str):
            raw = v.encode("utf-8")
            out += struct.pack(">2i", 2, len(raw)) + _pad(raw)
        else:
            vals = v if isinstance(v, (list, tuple)) else [v]
            out += struct.pack(">2i", 6, len(vals))
            out += _pad(struct.pack(f">{len(vals)}d",
                                    *[float(x) for x in vals]))
    return out


def write_netcdf_cube(
    cube: DataFrame,
    path: str,
    grid,
    var_names: list[str] | None = None,
    attrs: dict | None = None,
) -> None:
    """Write a cells cube as classic CDF-1 (fixed layout, float64 vars,
    CF time units + _FillValue) — the interop/export twin of the
    reader; collects driver-side, so use for slices/fixtures (bulk
    storage stays parquet/zarr)."""
    from datetime import timezone

    from xcube_spark.cube.grid import var_names as cube_vars

    vars_ = list(var_names) if var_names is not None else cube_vars(cube)
    tp, h, w = grid.time_periods, grid.height, grid.width
    from xcube_spark.sources.geotiff import _guard_driver_collect

    _guard_driver_collect(tp * h * w * len(vars_), "write_netcdf_cube")
    fill = -9.0e33
    planes = {n: np.full(tp * h * w, fill, ">f8") for n in vars_}
    for r in cube.select("t_i", "y_i", "x_i", *vars_).collect():
        base = (r["t_i"] * h + r["y_i"]) * w + r["x_i"]
        for n in vars_:
            if r[n] is not None:
                planes[n][base] = r[n]

    t_vals = np.array([grid.t_start.replace(tzinfo=timezone.utc).timestamp()
                       + (i + 0.5) * grid.t_freq_days * 86400.0
                       for i in range(tp)], ">f8")
    y_vals = np.array([(grid.y_end - (i + 0.5) * grid.y_res)
                       if grid.inverse_y
                       else (grid.y_start + (i + 0.5) * grid.y_res)
                       for i in range(h)], ">f8")
    x_vals = np.array([grid.x_start + (i + 0.5) * grid.x_res
                       for i in range(w)], ">f8")

    hdr = b"CDF\x01" + struct.pack(">i", 0)  # numrecs 0: fixed layout
    hdr += struct.pack(">2i", _NC_DIMENSION, 3)
    hdr += _name("time") + struct.pack(">i", tp)
    hdr += _name("lat") + struct.pack(">i", h)
    hdr += _name("lon") + struct.pack(">i", w)
    hdr += _att_list({"Conventions": "CF-1.8", **(attrs or {})})

    specs = [("time", [0], t_vals,
              {"units": "seconds since 1970-01-01 00:00:00"}),
             ("lat", [1], y_vals, {"units": "degrees_north"}),
             ("lon", [2], x_vals, {"units": "degrees_east"})]
    for n in vars_:
        specs.append((n, [0, 1, 2], planes[n], {"_FillValue": fill}))

    # two passes: sizes first, then begins
    bodies = []
    for name, dims, vals, vattrs in specs:
        ent = _name(name) + struct.pack(">i", len(dims))
        ent += struct.pack(f">{len(dims)}i", *dims)
        ent += _att_list(vattrs)
        vsize = len(vals) * 8
        ent += struct.pack(">2i", 6, vsize)
        bodies.append((ent, vals, vsize))
    var_tbl_size = 8 + sum(len(e) + 4 for e, _, _ in bodies)
    begin = len(hdr) + var_tbl_size
    out = bytearray(hdr)
    out += struct.pack(">2i", _NC_VARIABLE, len(bodies))
    begins = []
    for ent, vals, vsize in bodies:
        begins.append(begin)
        out += ent + struct.pack(">i", begin)
        begin += vsize
    for (_, vals, _), b in zip(bodies, begins):
        assert len(out) == b
        out += np.ascontiguousarray(vals, ">f8").tobytes()
    with open(path, "wb") as f:
        f.write(bytes(out))
