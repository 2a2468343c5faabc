"""Zarr v2 cube IO — xcube/core/dsio.py:411 (``ZarrDatasetIO``).

Zarr is the reference's canonical cube storage: ``ZarrDatasetIO``
reads/writes Zarr directories with CF decoding (fill value, scale
factor / add offset — exercised by test/core/test_dsio.py).  This
module gives the Spark engine the same interop WITHOUT the ``zarr``
package (not in the container): the Zarr **v2 format itself** is a
tiny public spec — JSON ``.zgroup``/``.zarray``/``.zattrs`` documents
plus raw C-order chunk files named ``"t.y.x"``, optionally
zlib-compressed — so we implement it directly:

- **Reader** (``open_zarr_cube``): store metadata is a driver-side read
  of a few small JSON files; the chunk index becomes
  ``spark.range(n_chunks)`` and each task decodes its own chunk files
  via ``mapInArrow`` (one Arrow batch per chunk, nothing routed
  through the driver or through pandas).  ``cell_bounds`` prunes chunk
  ids before any chunk byte is read — the same
  IO-proportional-to-subset promise as the reference's lazy xarray
  open.  Coordinate axes are decoded driver-side (axis
  arrays are metadata-sized) and emitted by the decoding task, indexed
  by the cell indices — no axis tables, no joins.
- **Writer** (``write_zarr_cube``): cells are shuffled once by chunk
  key and sorted by it within each partition; a ``mapInArrow`` task
  streams its sorted batches and writes each chunk's objects as the
  chunk ends; only the JSON metadata is written by the driver.

CF encode/decode semantics (matching xarray's ``decode_cf`` used by the
reference): on read, ``raw == fill_value -> missing`` then
``value = raw * scale_factor + add_offset``; on write,
``packed = floor((value - add_offset) / scale_factor + 0.5)`` with
missing -> fill.  The quantization uses explicit ``floor(q + 0.5)``
(not banker's rounding) so any engine can reproduce it bit-for-bit.

Paths are plain filesystem directories; on a cluster the store must be
on storage reachable from every executor (the same contract as the
reference's local/S3 zarr stores — an fsspec-style remote driver would
slot into ``_read_bytes``/``_write_bytes``).

Supported: dtypes ``<f8 <f4 <i2 <i4 <i8 <u2 |i1 |u1``, compressor
``null`` or ``{"id": "zlib"}``, C order, filters ``null`` or a
``shuffle`` chain (what HDF5 virtualization emits) — the subset the
reference's own test fixtures use.
"""

from __future__ import annotations

import json
import math
import os
import re
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Mapping

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.sources.cells import (clip_cells, emit_cells, prune_tasks,
                                       task_range)

_DTYPES = {
    "<f8": np.dtype("<f8"), "<f4": np.dtype("<f4"),
    "<i2": np.dtype("<i2"), "<i4": np.dtype("<i4"), "<i8": np.dtype("<i8"),
    "<u2": np.dtype("<u2"), "|i1": np.dtype("i1"), "|u1": np.dtype("u1"),
}


#: v3 ``data_type`` names -> v2 dtype codes (the internal currency)
_V3_DTYPES = {
    "float64": "<f8", "float32": "<f4", "int16": "<i2", "int32": "<i4",
    "int64": "<i8", "uint16": "<u2", "int8": "|i1", "uint8": "|u1",
}
_V2_TO_V3 = {v: k for k, v in _V3_DTYPES.items()}


@dataclass
class ZarrArray:
    """One array's metadata (v2 ``.zarray``+``.zattrs`` or v3
    ``zarr.json``; ``dtype`` always holds the v2 code internally)."""

    name: str
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    dtype: str
    compressor: dict | None
    fill_value: object
    attrs: dict = field(default_factory=dict)
    zarr_format: int = 2
    #: numcodecs-style filter chain; only ``shuffle`` is supported —
    #: the one needed to virtualize HDF5 shuffle+deflate chunks
    filters: list | None = None
    #: v3 ``sharding_indexed`` codec state: ``chunks`` above is then
    #: the SHARD shape (the store object granularity) and this dict
    #: holds ``inner_chunks`` (tuple, divides the shard shape),
    #: ``index_location`` ("end"/"start") and ``crc32c`` (bool, the
    #: index checksum codec).  Inner-chunk compression reuses
    #: ``compressor``.
    sharding: dict | None = None

    def chunk_key(self, *idx: int) -> str:
        """Chunk file key relative to the array dir: v2 ``i.j.k``,
        v3 default encoding ``c/i/j/k``."""
        if self.zarr_format == 3:
            return "c/" + "/".join(str(i) for i in idx)
        return ".".join(str(i) for i in idx)

    @property
    def dims(self) -> list[str]:
        return list(self.attrs.get("_ARRAY_DIMENSIONS",
                                   [f"dim_{i}" for i in range(len(self.shape))]))

    @property
    def np_dtype(self) -> np.dtype:
        if self.dtype not in _DTYPES:
            raise ValueError(f"unsupported zarr dtype {self.dtype!r} "
                             f"(supported: {sorted(_DTYPES)})")
        return _DTYPES[self.dtype]

    def chunk_counts(self) -> tuple[int, ...]:
        return tuple((s + c - 1) // c for s, c in zip(self.shape, self.chunks))


# ---- byte-level helpers (the executor-side IO kernel) -------------------


def _read_bytes(path: str) -> bytes | None:
    if not os.path.exists(path):
        return None
    with open(path, "rb") as f:
        return f.read()


def _write_bytes(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)  # v3 c/ nesting
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)  # atomic publish, concurrent-writer safe


def _fill_scalar(meta: ZarrArray):
    fv = meta.fill_value
    if fv == "NaN":
        return np.nan
    return fv


_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)
del _n, _c


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, the zarr v3 ``crc32c`` codec) — table-
    driven; only ever run over shard indexes (16 bytes per inner
    chunk), never over chunk payloads."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


_SHARD_MISSING = (1 << 64) - 1


def _shard_layout(meta: ZarrArray) -> tuple[tuple[int, ...], int, int]:
    """(inner-chunk counts per dim, total inner chunks, index nbytes)."""
    inner = tuple(meta.sharding["inner_chunks"])
    counts = tuple(s // i for s, i in zip(meta.chunks, inner))
    n = 1
    for c in counts:
        n *= c
    idx_size = 16 * n + (4 if meta.sharding.get("crc32c") else 0)
    return counts, n, idx_size


def _inner_meta(meta: ZarrArray) -> ZarrArray:
    from dataclasses import replace

    return replace(meta, chunks=tuple(meta.sharding["inner_chunks"]),
                   sharding=None)


def _decode_shard(raw: bytes, meta: ZarrArray) -> np.ndarray:
    """Shard object -> full-shard ndarray: parse the uint64-pair
    index (v3 ``sharding_indexed``), decode each present inner chunk
    through the ordinary chunk path, fill the rest."""
    counts, n, idx_size = _shard_layout(meta)
    if len(raw) < idx_size:
        raise ValueError(
            f"shard for {meta.name!r} shorter than its index "
            f"({len(raw)} < {idx_size} bytes)")
    loc = meta.sharding.get("index_location", "end")
    idx = raw[-idx_size:] if loc == "end" else raw[:idx_size]
    if meta.sharding.get("crc32c"):
        want = int.from_bytes(idx[-4:], "little")
        got = _crc32c(idx[:-4])
        if want != got:
            raise ValueError(
                f"shard index checksum mismatch for {meta.name!r} "
                f"(crc32c {got:#010x} != stored {want:#010x})")
        idx = idx[:-4]
    offsets = np.frombuffer(idx, "<u8").reshape(n, 2)
    fv = _fill_scalar(meta)
    out = np.full(meta.chunks, 0 if fv is None else fv, meta.np_dtype)
    im = _inner_meta(meta)
    inner = im.chunks
    for flat in range(n):
        off, nb = int(offsets[flat, 0]), int(offsets[flat, 1])
        if off == _SHARD_MISSING:
            continue
        pos = np.unravel_index(flat, counts)
        sl = tuple(slice(p * c, (p + 1) * c)
                   for p, c in zip(pos, inner))
        out[sl] = decode_chunk(raw[off:off + nb], im)
    return out


def _encode_shard(arr: np.ndarray, meta: ZarrArray) -> bytes | None:
    """Full-shard ndarray -> shard object bytes.  Inner chunks that
    are entirely fill are omitted (missing index entries — the same
    empty-chunk pruning the v2 writer does per file); an all-fill
    shard returns None so the caller can skip the object entirely."""
    counts, n, _ = _shard_layout(meta)
    im = _inner_meta(meta)
    inner = im.chunks
    fv = _fill_scalar(meta)
    offsets = np.full((n, 2), _SHARD_MISSING, "<u8")
    loc = meta.sharding.get("index_location", "end")
    idx_size = 16 * n + (4 if meta.sharding.get("crc32c") else 0)
    payload = bytearray()
    base = idx_size if loc == "start" else 0
    for flat in range(n):
        pos = np.unravel_index(flat, counts)
        sl = tuple(slice(p * c, (p + 1) * c)
                   for p, c in zip(pos, inner))
        block = np.ascontiguousarray(arr[sl])
        if fv is not None:
            if isinstance(fv, float) and math.isnan(fv):
                empty = bool(np.isnan(block).all())
            else:
                empty = bool((block == np.asarray(fv, block.dtype)).all())
            if empty:
                continue
        enc = encode_chunk(block, im)
        offsets[flat] = (base + len(payload), len(enc))
        payload += enc
    if not payload:
        return None
    idx = offsets.tobytes()
    if meta.sharding.get("crc32c"):
        idx += _crc32c(idx).to_bytes(4, "little")
    return bytes(idx + payload) if loc == "start" \
        else bytes(payload) + idx


def decode_chunk(raw: bytes | None, meta: ZarrArray) -> np.ndarray:
    """Chunk bytes -> full-chunk-shape ndarray (missing file -> fill,
    per the v2 spec)."""
    if raw is None:
        fv = _fill_scalar(meta)
        return np.full(meta.chunks, 0 if fv is None else fv, meta.np_dtype)
    if meta.sharding is not None:
        return _decode_shard(raw, meta)
    if meta.compressor is not None:
        cid = meta.compressor.get("id")
        if cid == "zlib":
            raw = zlib.decompress(raw)
        elif cid == "gzip":  # the v3 core codec (RFC 1952 framing)
            import gzip

            raw = gzip.decompress(raw)
        else:
            raise ValueError(f"unsupported compressor {meta.compressor!r}")
    for f in reversed(meta.filters or []):
        if f.get("id") == "shuffle":
            n = int(f.get("elementsize", meta.np_dtype.itemsize))
            nel = len(raw) // n
            arr = np.frombuffer(raw[:nel * n], "u1")
            raw = arr.reshape(n, nel).T.tobytes() + raw[nel * n:]
        else:
            raise ValueError(f"unsupported zarr filter {f!r}")
    return np.frombuffer(raw, dtype=meta.np_dtype).reshape(meta.chunks)


def encode_chunk(arr: np.ndarray, meta: ZarrArray) -> bytes | None:
    """Chunk ndarray -> store bytes (None only for an all-fill SHARD,
    which the writer skips entirely)."""
    if meta.sharding is not None:
        return _encode_shard(arr, meta)
    data = np.ascontiguousarray(arr, dtype=meta.np_dtype).tobytes()
    if meta.compressor is not None:
        if meta.compressor.get("id") == "gzip":
            import gzip

            # mtime=0: the member header holds no write time, so one
            # cube written twice gives the same bytes
            data = gzip.compress(data, meta.compressor.get("level", 1),
                                 mtime=0)
        else:
            data = zlib.compress(data, meta.compressor.get("level", 1))
    return data


def decode_values(arr: np.ndarray, meta: ZarrArray) -> np.ndarray:
    """CF decode to float64: fill -> NaN, then scale/offset."""
    out = arr.astype("float64")
    fv = _fill_scalar(meta)
    if fv is not None:
        mask = np.isnan(out) if (isinstance(fv, float) and math.isnan(fv)) \
            else (arr == np.asarray(fv, arr.dtype))
        out[mask] = np.nan
    scale = float(meta.attrs.get("scale_factor", 1.0))
    offset = float(meta.attrs.get("add_offset", 0.0))
    if scale != 1.0 or offset != 0.0:
        out = out * scale + offset
    return out


def encode_values(vals: np.ndarray, meta: ZarrArray) -> np.ndarray:
    """CF encode from float64: scale/offset quantize (floor(q + 0.5)),
    NaN -> fill."""
    scale = float(meta.attrs.get("scale_factor", 1.0))
    offset = float(meta.attrs.get("add_offset", 0.0))
    v = np.asarray(vals, "float64")
    if scale != 1.0 or offset != 0.0:
        q = np.floor((v - offset) / scale + 0.5)
    else:
        q = v
    fv = _fill_scalar(meta)
    if fv is not None and not (isinstance(fv, float) and math.isnan(fv)):
        q = np.where(np.isnan(v), np.asarray(fv, "float64"), q)
    return q.astype(meta.np_dtype)


# ---- store metadata -----------------------------------------------------


def _json_fill(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _read_store_v3(path: str) -> dict[str, ZarrArray]:
    """v3 layout: root ``zarr.json`` group doc, per-array
    ``<name>/zarr.json`` with inline attributes and a codec chain."""
    arrays = {}
    for name in sorted(os.listdir(path)):
        aj = os.path.join(path, name, "zarr.json")
        if not os.path.exists(aj):
            continue
        with open(aj) as f:
            meta = json.load(f)
        if meta.get("node_type") != "array":
            continue
        if meta.get("zarr_format") != 3:
            raise ValueError(f"unsupported zarr_format in {name!r}")
        grid_cfg = meta.get("chunk_grid", {})
        if grid_cfg.get("name") != "regular":
            raise ValueError(f"unsupported chunk grid for {name!r}")
        key_enc = meta.get("chunk_key_encoding",
                           {"name": "default"})
        if key_enc.get("name") != "default" or key_enc.get(
                "configuration", {}).get("separator", "/") != "/":
            raise ValueError(f"unsupported chunk key encoding for {name!r}")
        codecs = list(meta.get("codecs", []))
        sharding = None
        if codecs and codecs[0].get("name") == "sharding_indexed":
            scfg = codecs[0].get("configuration", {})
            inner = tuple(int(v) for v in scfg["chunk_shape"])
            shard = tuple(grid_cfg["configuration"]["chunk_shape"])
            if len(inner) != len(shard) or any(
                    s % i for s, i in zip(shard, inner)):
                raise ValueError(
                    f"sharding inner chunk shape {inner} does not "
                    f"divide the shard shape {shard} for {name!r}")
            icodecs = list(scfg.get("index_codecs",
                                    [{"name": "bytes"}]))
            if not icodecs or icodecs[0].get("name") != "bytes":
                raise ValueError(
                    f"unsupported index codecs for {name!r}")
            crc = False
            for c in icodecs[1:]:
                if c.get("name") == "crc32c":
                    crc = True
                else:
                    raise ValueError(
                        f"unsupported index codec {c!r} for {name!r}")
            loc = scfg.get("index_location", "end")
            if loc not in ("end", "start"):
                raise ValueError(
                    f"unsupported index_location {loc!r} for {name!r}")
            sharding = {"inner_chunks": inner, "index_location": loc,
                        "crc32c": crc}
            codecs = list(scfg.get("codecs", []))
        if not codecs or codecs[0].get("name") != "bytes" or codecs[0].get(
                "configuration", {}).get("endian", "little") != "little":
            raise ValueError(f"unsupported codec chain for {name!r}")
        compressor = None
        for c in codecs[1:]:
            if c.get("name") == "gzip":
                compressor = {"id": "gzip",
                              "level": c.get("configuration", {})
                              .get("level", 1)}
            else:
                raise ValueError(f"unsupported codec {c!r} for {name!r}")
        if meta.get("data_type") not in _V3_DTYPES:
            raise ValueError(f"unsupported data_type for {name!r}")
        attrs = dict(meta.get("attributes", {}))
        if meta.get("dimension_names"):
            attrs.setdefault("_ARRAY_DIMENSIONS",
                             list(meta["dimension_names"]))
        arrays[name] = ZarrArray(
            name=name, shape=tuple(meta["shape"]),
            chunks=tuple(grid_cfg["configuration"]["chunk_shape"]),
            dtype=_V3_DTYPES[meta["data_type"]], compressor=compressor,
            fill_value=meta.get("fill_value"), attrs=attrs, zarr_format=3,
            sharding=sharding,
        )
    return arrays


def read_store(path: str) -> dict[str, ZarrArray]:
    """Driver-side metadata read; dispatches on the store layout
    (v2 ``.zgroup`` vs v3 root ``zarr.json``)."""
    root_v3 = os.path.join(path, "zarr.json")
    if os.path.exists(root_v3):
        with open(root_v3) as f:
            root = json.load(f)
        if root.get("zarr_format") == 3 and root.get("node_type") == "group":
            return _read_store_v3(path)
    if not os.path.exists(os.path.join(path, ".zgroup")):
        raise FileNotFoundError(f"not a zarr group: {path}")
    arrays = {}
    for name in sorted(os.listdir(path)):
        za = os.path.join(path, name, ".zarray")
        if not os.path.exists(za):
            continue
        with open(za) as f:
            meta = json.load(f)
        attrs = {}
        zat = os.path.join(path, name, ".zattrs")
        if os.path.exists(zat):
            with open(zat) as f:
                attrs = json.load(f)
        if meta.get("zarr_format") != 2 or meta.get("order", "C") != "C" \
                or meta.get("filters"):
            raise ValueError(f"unsupported zarr array layout for {name!r}")
        arrays[name] = ZarrArray(
            name=name, shape=tuple(meta["shape"]), chunks=tuple(meta["chunks"]),
            dtype=meta["dtype"], compressor=meta.get("compressor"),
            fill_value=meta.get("fill_value"), attrs=attrs,
        )
    return arrays


def _write_array_meta(path: str, meta: ZarrArray) -> None:
    adir = os.path.join(path, meta.name)
    os.makedirs(adir, exist_ok=True)
    if meta.zarr_format == 3:
        codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
        if meta.compressor is not None:
            codecs.append({"name": "gzip", "configuration": {
                "level": meta.compressor.get("level", 1)}})
        if meta.sharding is not None:
            icodecs = [{"name": "bytes",
                        "configuration": {"endian": "little"}}]
            if meta.sharding.get("crc32c"):
                icodecs.append({"name": "crc32c"})
            codecs = [{"name": "sharding_indexed", "configuration": {
                "chunk_shape": list(meta.sharding["inner_chunks"]),
                "codecs": codecs,
                "index_codecs": icodecs,
                "index_location": meta.sharding.get("index_location",
                                                    "end"),
            }}]
        attrs = {k: v for k, v in meta.attrs.items()
                 if k != "_ARRAY_DIMENSIONS"}
        with open(os.path.join(adir, "zarr.json"), "w") as f:
            json.dump({
                "zarr_format": 3, "node_type": "array",
                "shape": list(meta.shape),
                "data_type": _V2_TO_V3[meta.dtype],
                "chunk_grid": {"name": "regular", "configuration": {
                    "chunk_shape": list(meta.chunks)}},
                "chunk_key_encoding": {"name": "default", "configuration": {
                    "separator": "/"}},
                "codecs": codecs,
                "fill_value": _json_fill(meta.fill_value),
                "attributes": attrs,
                "dimension_names": meta.dims,
            }, f)
        return
    with open(os.path.join(adir, ".zarray"), "w") as f:
        json.dump({
            "zarr_format": 2, "shape": list(meta.shape),
            "chunks": list(meta.chunks), "dtype": meta.dtype,
            "compressor": meta.compressor, "fill_value": _json_fill(meta.fill_value),
            "order": "C", "filters": None,
        }, f)
    with open(os.path.join(adir, ".zattrs"), "w") as f:
        json.dump(meta.attrs, f)


# ---- CF time units (shared with normalize's time decode) ----------------

_UNITS_RE = re.compile(
    r"^\s*(seconds|minutes|hours|days)\s+since\s+(.+?)\s*$", re.I)
_UNIT_SECONDS = {"seconds": 1.0, "minutes": 60.0, "hours": 3600.0,
                 "days": 86400.0}


def parse_time_units(units: str) -> tuple[float, float]:
    """CF time units -> (epoch_seconds, seconds_per_unit).  Handles the
    '<unit> since <iso-ish timestamp>' family the reference decodes via
    xarray (core/normalize.py:465 julian/CF time handling)."""
    m = _UNITS_RE.match(units)
    if not m:
        raise ValueError(f"unsupported time units {units!r}")
    unit, epoch = m.group(1).lower(), m.group(2)
    epoch = epoch.replace("T", " ").strip()
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(epoch, fmt)
            break
        except ValueError:
            continue
    else:
        raise ValueError(f"unsupported epoch {epoch!r} in {units!r}")
    return dt.replace(tzinfo=timezone.utc).timestamp(), _UNIT_SECONDS[unit]


# ---- CF grid mapping (cf-conventions grid_mapping variable) -------------

_WGS84_ELLIPSOID = {"semi_major_axis": 6378137.0,
                    "inverse_flattening": 298.257223563}


def cf_grid_mapping_attrs(crs: str) -> dict:
    """CRS -> CF grid-mapping attributes (the reference's cfconv
    encode, xcube/core/gridmapping + util CF helpers): the ``crs``
    variable any CF reader (xarray/rioxarray) understands."""
    from xcube_spark.operators.resampling.reproject import parse_utm_crs

    code = crs.upper()
    if code == "EPSG:4326":
        return {"grid_mapping_name": "latitude_longitude",
                "epsg_code": crs, **_WGS84_ELLIPSOID}
    if code == "EPSG:3857":
        # the projection is SPHERICAL (radius = WGS84 semi-major);
        # encoding the sphere keeps it CF-distinguishable from the
        # true ellipsoidal Mercator (EPSG:3395 family below)
        return {"grid_mapping_name": "mercator",
                "standard_parallel": 0.0,
                "longitude_of_projection_origin": 0.0,
                "false_easting": 0.0, "false_northing": 0.0,
                "epsg_code": crs,
                "semi_major_axis": 6378137.0,
                "semi_minor_axis": 6378137.0}
    utm = parse_utm_crs(code)
    if utm:
        zone, south = utm
        return {"grid_mapping_name": "transverse_mercator",
                "longitude_of_central_meridian": float(zone * 6 - 183),
                "latitude_of_projection_origin": 0.0,
                "scale_factor_at_central_meridian": 0.9996,
                "false_easting": 500_000.0,
                "false_northing": 10_000_000.0 if south else 0.0,
                "epsg_code": crs, **_WGS84_ELLIPSOID}
    fam = _family_grid_mapping_attrs(code)
    if fam is not None:
        return {**fam, "epsg_code": crs}
    return {"grid_mapping_name": "unknown", "epsg_code": crs}


_GRS80_ELLIPSOID = {"semi_major_axis": 6378137.0,
                    "inverse_flattening": 298.257222101}


def _conic_ellipsoid_attrs(params: tuple, base_len: int = 6) -> dict:
    """Ellipsoid CF attrs for an (optionally ellipsoid-extended)
    LCC/AEA/LAEA family tuple: GRS80 for the short form, the recorded
    (a, rf) for the 8-tuple form (round 8)."""
    if len(params) > base_len:
        return {"semi_major_axis": params[base_len],
                "inverse_flattening": params[base_len + 1]}
    return dict(_GRS80_ELLIPSOID)


def _family_grid_mapping_attrs(code: str) -> dict | None:
    """CF attrs for any CRS registered in a closed-form family table
    (reproject.py) — the encode twin of `crsparse.crs_from_cf`, so
    EVERY CRS this engine can reproject into also writes resolvable
    CF metadata (not `grid_mapping_name: unknown`)."""
    from xcube_spark.operators.resampling import reproject as R

    if code in R.TM_PARAMS:
        a, f, lat0, lon0, k0, fe, fn = R.TM_PARAMS[code]
        return {"grid_mapping_name": "transverse_mercator",
                "latitude_of_projection_origin": lat0,
                "longitude_of_central_meridian": lon0,
                "scale_factor_at_central_meridian": k0,
                "false_easting": fe, "false_northing": fn,
                "semi_major_axis": a,
                "inverse_flattening": (0.0 if f == 0.0 else 1.0 / f)}
    if code in R.LCC_PARAMS:
        lat1, lat2, lat0, lon0, fe, fn = R.LCC_PARAMS[code][:6]
        return {"grid_mapping_name": "lambert_conformal_conic",
                "standard_parallel": [lat1, lat2],
                "latitude_of_projection_origin": lat0,
                "longitude_of_central_meridian": lon0,
                "false_easting": fe, "false_northing": fn,
                **_conic_ellipsoid_attrs(R.LCC_PARAMS[code])}
    if code in R.AEA_PARAMS:
        lat1, lat2, lat0, lon0, fe, fn = R.AEA_PARAMS[code][:6]
        return {"grid_mapping_name": "albers_conical_equal_area",
                "standard_parallel": [lat1, lat2],
                "latitude_of_projection_origin": lat0,
                "longitude_of_central_meridian": lon0,
                "false_easting": fe, "false_northing": fn,
                **_conic_ellipsoid_attrs(R.AEA_PARAMS[code])}
    if code in R.LAEA_PARAMS:
        lat0, lon0, fe, fn = R.LAEA_PARAMS[code][:4]
        return {"grid_mapping_name": "lambert_azimuthal_equal_area",
                "latitude_of_projection_origin": lat0,
                "longitude_of_projection_origin": lon0,
                "false_easting": fe, "false_northing": fn,
                **_conic_ellipsoid_attrs(R.LAEA_PARAMS[code],
                                         base_len=4)}
    if code in R.MERC_PARAMS:
        lat_ts, lon0, fe, fn = R.MERC_PARAMS[code]
        return {"grid_mapping_name": "mercator",
                "standard_parallel": lat_ts,
                "longitude_of_projection_origin": lon0,
                "false_easting": fe, "false_northing": fn,
                **_WGS84_ELLIPSOID}
    if code in R.PS_PARAMS:
        t = R.PS_PARAMS[code]
        south, lat_ts, lon0 = t[0], t[1], t[2]
        fe, fn = (t[3], t[4]) if len(t) > 3 else (0.0, 0.0)
        out = {"grid_mapping_name": "polar_stereographic",
               "latitude_of_projection_origin":
                   -90.0 if south else 90.0,
               "straight_vertical_longitude_from_pole": lon0,
               "false_easting": fe, "false_northing": fn,
               **_WGS84_ELLIPSOID}
        if lat_ts is None:  # variant A (+k_0 at the pole — UPS)
            out["scale_factor_at_projection_origin"] = t[5]
        else:
            out["standard_parallel"] = -lat_ts if south else lat_ts
        return out
    if code in R.GEOS_PARAMS:
        h, lon0, sweep_x, a, rf = R.GEOS_PARAMS[code]
        out = {"grid_mapping_name": "geostationary",
               "perspective_point_height": h,
               "longitude_of_projection_origin": lon0,
               "latitude_of_projection_origin": 0.0,
               "sweep_angle_axis": "x" if sweep_x else "y",
               "false_easting": 0.0, "false_northing": 0.0,
               "semi_major_axis": a}
        import math as _math
        if _math.isfinite(rf):
            out["inverse_flattening"] = rf
        else:
            out["semi_minor_axis"] = a
        return out
    if code in R.AEQD_PARAMS or code in R.ORTHO_PARAMS \
            or code in R.GNOM_PARAMS:
        # gnomonic has no CF appendix entry; like the world atlas
        # projections the writer uses the descriptive method name
        table = (R.AEQD_PARAMS if code in R.AEQD_PARAMS
                 else R.ORTHO_PARAMS if code in R.ORTHO_PARAMS
                 else R.GNOM_PARAMS)
        name = ("azimuthal_equidistant" if code in R.AEQD_PARAMS
                else "orthographic" if code in R.ORTHO_PARAMS
                else "gnomonic")
        r, lat0, lon0, fe, fn = table[code]
        return {"grid_mapping_name": name,
                "latitude_of_projection_origin": lat0,
                "longitude_of_projection_origin": lon0,
                "false_easting": fe, "false_northing": fn,
                "earth_radius": r}
    if code in R.OMERC_PARAMS:
        a, rf, latc, lonc, alpha, gamma, kc, ec, nc, var_a = \
            R.OMERC_PARAMS[code]
        if var_a:
            return None  # variant A is not CF-expressible; epsg only
        return {"grid_mapping_name": "oblique_mercator",
                "latitude_of_projection_origin": latc,
                "longitude_of_projection_origin": lonc,
                "azimuth_of_central_line": alpha,
                "rectified_grid_angle": gamma,
                "scale_factor_at_projection_origin": kc,
                "false_easting": ec, "false_northing": nc,
                "semi_major_axis": a, "inverse_flattening": rf}
    if code in R.NSPER_PARAMS:
        r, h, lat0, lon0, fe, fn = R.NSPER_PARAMS[code]
        return {"grid_mapping_name": "vertical_perspective",
                "perspective_point_height": h,
                "latitude_of_projection_origin": lat0,
                "longitude_of_projection_origin": lon0,
                "false_easting": fe, "false_northing": fn,
                "earth_radius": r}
    if code in R.STEREG_PARAMS:
        r, k0, lat0, lon0, fe, fn = R.STEREG_PARAMS[code]
        return {"grid_mapping_name": "stereographic",
                "latitude_of_projection_origin": lat0,
                "longitude_of_projection_origin": lon0,
                "scale_factor_at_projection_origin": k0,
                "false_easting": fe, "false_northing": fn,
                "earth_radius": r}
    if code in R.CEA_PARAMS:
        a, rf, lat_ts, lon0, fe, fn = R.CEA_PARAMS[code]
        out = {"grid_mapping_name": "lambert_cylindrical_equal_area",
               "standard_parallel": lat_ts,
               "longitude_of_central_meridian": lon0,
               "false_easting": fe, "false_northing": fn,
               "semi_major_axis": a}
        import math as _math
        if _math.isfinite(rf):
            out["inverse_flattening"] = rf
        else:
            out["semi_minor_axis"] = a
        return out
    if code in R.STEREA_PARAMS:
        a, rf, lat0, lon0, k0, fe, fn = R.STEREA_PARAMS[code]
        return {"grid_mapping_name": "oblique_stereographic",
                "latitude_of_projection_origin": lat0,
                "longitude_of_projection_origin": lon0,
                "scale_factor_at_projection_origin": k0,
                "false_easting": fe, "false_northing": fn,
                "semi_major_axis": a, "inverse_flattening": rf}
    if code in R.SOMERC_PARAMS:
        a, rf, lat0, lon0, k0, fe, fn, towgs84 = R.SOMERC_PARAMS[code]
        out = {"grid_mapping_name": "swiss_oblique_cylindrical",
               "latitude_of_projection_origin": lat0,
               "longitude_of_projection_origin": lon0,
               "scale_factor_at_projection_origin": k0,
               "false_easting": fe, "false_northing": fn,
               "semi_major_axis": a, "inverse_flattening": rf}
        if towgs84 is not None:
            import math as _math
            tx, ty, tz, rx, ry, rz, s = towgs84
            out["towgs84"] = [tx, ty, tz,
                              _math.degrees(rx) * 3600.0,
                              _math.degrees(ry) * 3600.0,
                              _math.degrees(rz) * 3600.0,
                              s * 1e6]
        return out
    if code in R.KROVAK_PARAMS:
        (a, rf, lat_c, lon0, alpha_c, phi_p, kp, x0, y0, _czech,
         towgs84) = R.KROVAK_PARAMS[code]
        out = {"grid_mapping_name": "krovak",
               "latitude_of_projection_origin": lat_c,
               "longitude_of_central_meridian": lon0,
               "azimuth_of_central_line": alpha_c,
               "latitude_of_pseudo_standard_parallel": phi_p,
               "scale_factor_at_pseudo_standard_parallel": kp,
               "false_easting": x0, "false_northing": y0,
               "semi_major_axis": a, "inverse_flattening": rf}
        if towgs84 is not None:
            import math as _math
            tx, ty, tz, rx, ry, rz, s = towgs84
            out["towgs84"] = [tx, ty, tz,
                              _math.degrees(rx) * 3600.0,
                              _math.degrees(ry) * 3600.0,
                              _math.degrees(rz) * 3600.0,
                              s * 1e6]
        return out
    if code in R.POLY_PARAMS:
        a, rf, lat0, lon0, fe, fn, towgs84 = R.POLY_PARAMS[code]
        out = {"grid_mapping_name": "polyconic",
               "latitude_of_projection_origin": lat0,
               "longitude_of_central_meridian": lon0,
               "false_easting": fe, "false_northing": fn,
               "semi_major_axis": a, "inverse_flattening": rf}
        if towgs84 is not None:
            import math as _math
            tx, ty, tz, rx, ry, rz, s = towgs84
            out["towgs84"] = [tx, ty, tz,
                              _math.degrees(rx) * 3600.0,
                              _math.degrees(ry) * 3600.0,
                              _math.degrees(rz) * 3600.0,
                              s * 1e6]
        return out
    if code in R.CASS_PARAMS:
        a, rf, lat0, lon0, fe, fn = R.CASS_PARAMS[code]
        return {"grid_mapping_name": "cassini_soldner",
                "latitude_of_projection_origin": lat0,
                "longitude_of_central_meridian": lon0,
                "false_easting": fe, "false_northing": fn,
                "semi_major_axis": a, "inverse_flattening": rf}
    if code in R.EQEARTH_PARAMS:
        a, rf, lon0, fe, fn = R.EQEARTH_PARAMS[code]
        out = {"grid_mapping_name": "equal_earth",
               "longitude_of_projection_origin": lon0,
               "false_easting": fe, "false_northing": fn,
               "semi_major_axis": a}
        import math as _math
        if _math.isfinite(rf):
            out["inverse_flattening"] = rf
        else:
            out["semi_minor_axis"] = a
        return out
    if code in R.EQDC_PARAMS:
        a, rf, lat1, lat2, lat0, lon0, fe, fn = R.EQDC_PARAMS[code]
        import math as _math
        out = {"grid_mapping_name": "equidistant_conic",
               "standard_parallel": ([lat1, lat2] if lat1 != lat2
                                     else lat1),
               "latitude_of_projection_origin": lat0,
               "longitude_of_central_meridian": lon0,
               "false_easting": fe, "false_northing": fn,
               "semi_major_axis": a}
        if _math.isfinite(rf):
            out["inverse_flattening"] = rf
        else:
            out["semi_minor_axis"] = a
        return out
    if code in R.ROTPOLE_PARAMS:
        theta_p, lambda_p, phi0 = R.ROTPOLE_PARAMS[code]
        return {"grid_mapping_name": "rotated_latitude_longitude",
                "grid_north_pole_latitude": theta_p,
                "grid_north_pole_longitude": lambda_p,
                "north_pole_grid_longitude": phi0}
    if code in R.SINU_PARAMS:
        return {"grid_mapping_name": "sinusoidal",
                "longitude_of_projection_origin": 0.0,
                "false_easting": 0.0, "false_northing": 0.0,
                "earth_radius": R.SINU_PARAMS[code]}
    if code in R.MOLL_PARAMS:
        return {"grid_mapping_name": "mollweide",
                "longitude_of_projection_origin": 0.0,
                "false_easting": 0.0, "false_northing": 0.0,
                "earth_radius": R.MOLL_PARAMS[code]}
    # the spherical world/atlas projections: not in the CF appendix,
    # so (like pyproj's sinusoidal/mollweide extensions) the writer
    # uses the descriptive method name + earth_radius
    for name, table in (("eckert_iv", R.ECK4_PARAMS),
                        ("miller_cylindrical", R.MILL_PARAMS),
                        ("van_der_grinten", R.VANDG_PARAMS),
                        ("natural_earth", R.NATEARTH_PARAMS),
                        ("robinson", R.ROBIN_PARAMS),
                        ("hammer", R.HAMMER_PARAMS),
                        ("interrupted_goode_homolosine", R.IGH_PARAMS)):
        if code in table:
            return {"grid_mapping_name": name,
                    "longitude_of_projection_origin": 0.0,
                    "false_easting": 0.0, "false_northing": 0.0,
                    "earth_radius": table[code]}
    if code in R.WINTRI_PARAMS:
        import math as _math

        a, cp1 = R.WINTRI_PARAMS[code]
        return {"grid_mapping_name": "winkel_tripel",
                "standard_parallel": _math.degrees(_math.acos(cp1)),
                "longitude_of_projection_origin": 0.0,
                "false_easting": 0.0, "false_northing": 0.0,
                "earth_radius": a}
    return None


def crs_from_grid_mapping(attrs: Mapping) -> str:
    """CF grid-mapping attrs -> CRS string (decode side): prefer the
    recorded EPSG code, else resolve the mapping parameters through
    `crsparse.crs_from_cf` onto the closed-form families (arbitrary
    parameters, not just the pre-registered codes; reference parity:
    `pyproj.CRS.from_cf` at cfconv.py:211)."""
    if "epsg_code" in attrs:
        code = str(attrs["epsg_code"])
        # 'PROJ:FAMILY:(params)' keys are session-local registrations
        # made by crsparse (resolve_proj4/_register) — meaningless in a
        # fresh process whose in-memory family tables never saw them.
        # The CF parameters written alongside are self-describing:
        # re-resolve (and re-register) through crs_from_cf instead of
        # returning the dangling key.
        if not code.upper().startswith("PROJ:"):
            return code
    name = attrs.get("grid_mapping_name", "")
    if name == "latitude_longitude":
        return "EPSG:4326"
    from xcube_spark.operators.resampling.crsparse import crs_from_cf

    try:
        return crs_from_cf(attrs)
    except (NotImplementedError, ValueError) as exc:
        raise ValueError(
            f"cannot derive CRS from grid mapping {dict(attrs)!r}"
        ) from exc


# ---- writer -------------------------------------------------------------

#: default CF encoding for a data variable
_DEFAULT_ENC = {"dtype": "<f8", "fill_value": "NaN",
                "compressor": {"id": "zlib", "level": 1}}


def _var_meta(name: str, grid: CubeGrid, enc: Mapping) -> ZarrArray:
    enc = {**_DEFAULT_ENC, **dict(enc)}
    attrs = {"_ARRAY_DIMENSIONS": ["time", "y", "x"],
             "grid_mapping": "crs"}
    for k in ("scale_factor", "add_offset"):
        if k in enc:
            attrs[k] = enc[k]
    return ZarrArray(
        name=name,
        shape=(grid.time_periods, grid.height, grid.width),
        chunks=tuple(grid.chunks), dtype=enc["dtype"],
        compressor=enc["compressor"],
        fill_value=(np.nan if enc["fill_value"] == "NaN" else enc["fill_value"]),
        attrs=attrs,
    )


def write_zarr_cube(
    cube: DataFrame,
    path: str,
    grid: CubeGrid,
    var_names: list[str] | None = None,
    encoding: Mapping[str, Mapping] | None = None,
    mode: str = "error",
    zarr_format: int = 2,
    shards: tuple[int, int, int] | None = None,
) -> int:
    """Write a cells-table cube as a Zarr group (v2 default, or the
    v3 layout with ``zarr_format=3``: root/array ``zarr.json`` docs,
    ``c/i/j/k`` chunk keys, bytes+gzip codec chain); returns the
    number of chunk objects written.

    ``shards`` (v3 only) writes the ``sharding_indexed`` codec:
    ``grid.chunks`` become the INNER chunks and each store object is
    one shard of the given shape (a multiple of ``grid.chunks`` per
    dim), with a crc32c-checksummed uint64-pair index at the object
    end.  This is the 100 TB layout: a PB-scale cube with 1 MB chunks
    is billions of objects — listing alone breaks — while shards keep
    the object count small and sequentialize IO without giving up
    fine-grained chunk addressing (readers slice inner chunks out of
    the index).  All-fill inner chunks are omitted from the index and
    all-fill shards are not written (the same empty-chunk pruning the
    v2 writer does per file).

    Distributed write: ``repartition(chunk key)
    .sortWithinPartitions(chunk key).mapInArrow(write_part)``, one
    shuffle keyed by shard (or chunk) index.  Only ``t_i, y_i, x_i``
    and the variables (cast to DOUBLE) cross into Python.  Each task
    streams its sorted Arrow batches, cuts them where the chunk key
    changes and carries the last, possibly unfinished chunk into the
    next batch, so it holds at most one batch plus one chunk; it
    encodes and writes every variable's object of a chunk as the
    chunk ends.  The driver only writes the JSON metadata and the
    (metadata-sized) coordinate arrays.  Matches
    ``ZarrDatasetIO.write`` semantics
    (/root/reference/xcube/core/dsio.py:500) with CF packing attrs.
    """
    from xcube_spark.cube.grid import var_names as cube_vars

    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format!r}")
    if shards is not None:
        if zarr_format != 3:
            raise ValueError("shards requires zarr_format=3")
        if len(shards) != 3 or any(
                s <= 0 or s % c for s, c in zip(shards, grid.chunks)):
            raise ValueError(
                f"shard shape {shards!r} must be a positive multiple "
                f"of the chunk shape {tuple(grid.chunks)!r} per dim")
    if os.path.exists(os.path.join(path, ".zgroup")) or os.path.exists(
            os.path.join(path, "zarr.json")):
        if mode == "error":
            raise FileExistsError(path)
        if mode != "overwrite":
            raise ValueError(f"mode must be error|overwrite, got {mode!r}")
        # 'w' replaces the store (reference ZarrDatasetIO 'w' mode): a
        # sparser rewrite over the same chunk grid must not read back
        # the previous write's stale chunk files as current data
        import shutil
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    if zarr_format == 3:
        with open(os.path.join(path, "zarr.json"), "w") as f:
            json.dump({"zarr_format": 3, "node_type": "group",
                       "attributes": {"crs": grid.crs}}, f)
    else:
        with open(os.path.join(path, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
        with open(os.path.join(path, ".zattrs"), "w") as f:
            json.dump({"crs": grid.crs}, f)

    def _fmt(meta: ZarrArray) -> ZarrArray:
        meta.zarr_format = zarr_format
        if zarr_format == 3 and meta.compressor is not None:
            # v3's core compression codec is gzip (RFC 1952), not raw
            # zlib — switch so encode_chunk frames to what the
            # metadata declares
            meta.compressor = {"id": "gzip",
                               "level": meta.compressor.get("level", 1)}
        if shards is not None:
            meta.sharding = {"inner_chunks": tuple(grid.chunks),
                             "index_location": "end", "crc32c": True}
            meta.chunks = tuple(shards)
        return meta

    vars_ = list(var_names) if var_names is not None else cube_vars(cube)
    encoding = dict(encoding or {})
    metas = {v: _fmt(_var_meta(v, grid, encoding.get(v, {})))
             for v in vars_}
    for m in metas.values():
        _write_array_meta(path, m)

    # coordinate arrays: tiny, driver-written, single chunk each; time
    # carries CF units so any reader (xarray included) decodes it
    t_units = "seconds since 1970-01-01 00:00:00"
    axes = {
        "time": (np.array([grid.t_start.replace(tzinfo=timezone.utc).timestamp()
                           + (i + 0.5) * grid.t_freq_days * 86400.0
                           for i in range(grid.time_periods)]),
                 {"_ARRAY_DIMENSIONS": ["time"], "units": t_units}),
        "y": (np.array([(grid.y_end - (i + 0.5) * grid.y_res) if grid.inverse_y
                        else (grid.y_start + (i + 0.5) * grid.y_res)
                        for i in range(grid.height)]),
              {"_ARRAY_DIMENSIONS": ["y"]}),
        "x": (np.array([grid.x_start + (i + 0.5) * grid.x_res
                        for i in range(grid.width)]),
              {"_ARRAY_DIMENSIONS": ["x"]}),
    }
    for name, (vals, attrs) in axes.items():
        am = ZarrArray(name=name, shape=vals.shape, chunks=vals.shape,
                       dtype="<f8", compressor=None, fill_value=None,
                       attrs=attrs, zarr_format=zarr_format)
        _write_array_meta(path, am)
        _write_bytes(os.path.join(path, name, am.chunk_key(0)),
                     encode_chunk(vals, am))

    # CF grid-mapping variable: a 1-element array carrying the CRS
    # attributes (cfconv encode — any CF reader resolves grid_mapping)
    crs_meta = ZarrArray(name="crs", shape=(1,), chunks=(1,), dtype="|i1",
                         compressor=None, fill_value=None,
                         attrs={"_ARRAY_DIMENSIONS": ["crs"],
                                **cf_grid_mapping_attrs(grid.crs)},
                         zarr_format=zarr_format)
    _write_array_meta(path, crs_meta)
    _write_bytes(os.path.join(path, "crs", crs_meta.chunk_key(0)),
                 encode_chunk(np.zeros(1, "i1"), crs_meta))

    ct, cy, cx = shards if shards is not None else grid.chunks

    def write_chunk(cols: list[np.ndarray]) -> int:
        """Encode and write one chunk's objects from its cell rows
        ``[t_i, y_i, x_i, *vars]``; the number of objects written."""
        t, y, x = cols[:3]
        tc, yc, xc = int(t[0]) // ct, int(y[0]) // cy, int(x[0]) // cx
        n = 0
        for vals, (v, meta) in zip(cols[3:], metas.items()):
            chunk = np.full(meta.chunks, np.nan, "float64")
            chunk[t % ct, y % cy, x % cx] = vals
            enc = encode_chunk(encode_values(chunk, meta), meta)
            if enc is None:  # all-fill shard: no object at all
                continue
            _write_bytes(os.path.join(path, v, meta.chunk_key(tc, yc, xc)),
                         enc)
            n += 1
        return n

    def write_part(batches):
        # rows arrive sorted by chunk: a chunk ends where the key
        # changes, and the last one may go on in the next batch
        n, open_key, pieces = 0, None, []
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = [c.to_numpy(zero_copy_only=False) for c in batch.columns]
            t, y, x = cols[:3]
            key = np.stack([t // ct, y // cy, x // cx], axis=1)
            cuts = np.flatnonzero((key[1:] != key[:-1]).any(axis=1)) + 1
            for lo, hi in zip([0, *cuts], [*cuts, batch.num_rows]):
                if pieces and tuple(key[lo]) != open_key:
                    n += write_chunk([np.concatenate(p) for p in zip(*pieces)])
                    pieces = []
                open_key = tuple(key[lo])
                pieces.append([c[lo:hi] for c in cols])
        if pieces:
            n += write_chunk([np.concatenate(p) for p in zip(*pieces)])
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int32())})

    chunk_key = [F.floor(F.col(c) / s) for c, s in
                 (("t_i", ct), ("y_i", cy), ("x_i", cx))]
    rows = (
        cube.select("t_i", "y_i", "x_i",
                    *[F.col(v).cast("double").alias(v) for v in vars_])
        .repartition(*chunk_key).sortWithinPartitions(*chunk_key)
        .mapInArrow(write_part, "n int")
        .collect()
    )
    return sum(r.n for r in rows)


# ---- reader -------------------------------------------------------------


def open_zarr_cube(
    spark: SparkSession,
    path: str,
    var_names: list[str] | None = None,
    cell_bounds: Mapping[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Open a Zarr v2 group as a cells-table DataFrame
    (``t_i, y_i, x_i, time, y, x, <vars>``), the engine's equivalent of
    ``ZarrDatasetIO.read`` (/root/reference/xcube/core/dsio.py:445).

    Plan shape: ``range(n_chunks) -> mapInArrow(decode) -> project``,
    with no join.  The ``time``/``y``/``x`` axis arrays are decoded
    once on the driver and ship in the task closure; each task emits
    the coordinates of its cells by indexing them, and the projection
    applies the CF time decode as a Column (the shared emitter,
    sources/cells.py).  Chunk decode is
    embarrassingly parallel and executor-local.  An axis shorter than
    the data raises ``ValueError``.

    **Chunk pushdown**: a predicate on ``t_i/y_i/x_i`` applied *after*
    the open cannot cross the Python decode stage, so pass
    ``cell_bounds={"t_i": (lo, hi), ...}`` (inclusive cell-index
    ranges) to prune chunk ids in the tiny range table — only
    intersecting chunks are ever fetched, and the exact cell filter is
    re-applied after decode (IO proportional to the subset, the
    reference's lazy-open promise).

    **Sharded stores** open at INNER-chunk granularity: the driver
    reads just the shard indexes (metadata-scale tail range reads)
    and rewrites each data variable to its inner chunk grid with a
    byte-range fetch into the shard objects — so scan parallelism and
    cell_bounds pruning follow the fine chunk grid, not the shard
    grid, and a subset read never decodes a whole shard."""
    arrays = read_store(path)
    if any(m.sharding is not None for m in arrays.values()):
        arrays, fetch = _sharded_as_ranged(path, arrays)
        return _open_cells(spark, arrays, fetch, var_names, path,
                           cell_bounds)

    def fetch(key: str) -> bytes | None:
        return _read_bytes(os.path.join(path, key))

    return _open_cells(spark, arrays, fetch, var_names, path, cell_bounds)


def _sharded_as_ranged(path: str, arrays: dict[str, ZarrArray]):
    """Rewrite sharded arrays onto their inner chunk grids and return
    a ranged fetch: chunk key -> (shard file, offset, nbytes) looked
    up from the shard indexes (read ONCE on the driver, payloads
    untouched).  Unsharded arrays pass through to plain file reads."""
    from dataclasses import replace

    ranges: dict[str, tuple[str, int, int]] = {}
    out: dict[str, ZarrArray] = {}
    for name, meta in arrays.items():
        if meta.sharding is None:
            out[name] = meta
            continue
        inner = tuple(meta.sharding["inner_chunks"])
        within = tuple(s // i for s, i in zip(meta.chunks, inner))
        shard_counts = meta.chunk_counts()
        flat_meta = replace(meta, chunks=inner, sharding=None)
        out[name] = flat_meta
        adir = os.path.join(path, name)
        for flat in range(int(np.prod(shard_counts))):
            spos = np.unravel_index(flat, shard_counts)
            spath = os.path.join(adir, meta.chunk_key(*spos))
            if not os.path.exists(spath):
                continue
            offsets = _read_shard_index(spath, meta)
            for iflat in range(offsets.shape[0]):
                off, nb = (int(offsets[iflat, 0]),
                           int(offsets[iflat, 1]))
                if off == _SHARD_MISSING:
                    continue
                ipos = np.unravel_index(iflat, within)
                gpos = tuple(s * w + i for s, w, i
                             in zip(spos, within, ipos))
                key = f"{name}/{flat_meta.chunk_key(*gpos)}"
                ranges[key] = (spath, off, nb)

    sharded_prefixes = tuple(
        n + "/" for n, m in arrays.items() if m.sharding is not None)

    def fetch(key: str) -> bytes | None:
        rng = ranges.get(key)
        if rng is not None:
            spath, off, nb = rng
            with open(spath, "rb") as f:
                f.seek(off)
                return f.read(nb)
        if key.startswith(sharded_prefixes):
            # sharded variable, chunk absent from every index -> fill
            return None
        return _read_bytes(os.path.join(path, key))

    return out, fetch


def _data_vars(arrays: dict[str, ZarrArray], var_names: list[str] | None,
               label: str) -> dict[str, ZarrArray]:
    """The 3-D data variables of a store (``var_names`` order when
    given), checked to share one shape and chunk grid."""
    data_vars = {n: m for n, m in arrays.items()
                 if len(m.shape) == 3 and n not in ("time", "y", "x")}
    if var_names is not None:
        missing = set(var_names) - set(data_vars)
        if missing:
            raise KeyError(f"variables not in store: {sorted(missing)}")
        data_vars = {n: data_vars[n] for n in var_names}
    if not data_vars:
        raise ValueError(f"no 3-D data variables in {label}")
    first = next(iter(data_vars.values()))
    for m in data_vars.values():
        if m.shape != first.shape or m.chunks != first.chunks:
            raise ValueError("variables must share shape/chunks "
                             f"({m.name} differs from {first.name})")
    return data_vars


def _axes(arrays: dict[str, ZarrArray], fetch) -> tuple[dict, dict | None]:
    """The decoded ``time``/``y``/``x`` arrays a store has, and the
    time axis' attributes."""
    axes = {name: _axis_values(name, arrays[name], fetch)
            for name in ("time", "y", "x") if name in arrays}
    return axes, arrays["time"].attrs if "time" in arrays else None


def _open_cells(
    spark: SparkSession,
    arrays: dict[str, ZarrArray],
    fetch,
    var_names: list[str] | None,
    label: str,
    cell_bounds: Mapping[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Shared reader core over a ``fetch(key) -> bytes | None`` store
    abstraction (directory stores and kerchunk reference stores)."""
    metas = _data_vars(arrays, var_names, label)
    first = next(iter(metas.values()))
    tp, h, w = first.shape
    ct, cy, cx = first.chunks
    nt, ny, nx = first.chunk_counts()

    def read(row):
        tc, rem = divmod(int(row.id), ny * nx)
        yc, xc = divmod(rem, nx)
        t0, y0, x0 = tc * ct, yc * cy, xc * cx
        block = {}
        for v, meta in metas.items():
            raw = fetch(f"{v}/{meta.chunk_key(tc, yc, xc)}")
            vals = decode_values(decode_chunk(raw, meta), meta)
            block[v] = vals[: tp - t0, : h - y0, : w - x0]
        yield (t0, y0, x0), block

    tc = (F.col("id") / (ny * nx)).cast("int")
    yc = ((F.col("id") % (ny * nx)) / nx).cast("int")
    xc = (F.col("id") % nx).cast("int")
    tasks = prune_tasks(task_range(spark, nt * ny * nx), {
        "t_i": (tc * ct, ct), "y_i": (yc * cy, cy), "x_i": (xc * cx, cx)},
        cell_bounds)
    axes, time_attrs = _axes(arrays, fetch)
    return clip_cells(emit_cells(tasks, read, list(metas), (tp, h, w), axes,
                                 time_attrs, label), cell_bounds)


def _axis_values(name: str, meta: ZarrArray, fetch) -> np.ndarray:
    """CF-decoded values of a 1-D coordinate array, all of its chunks
    (a chunked axis is as valid as a single-chunk one)."""
    return np.concatenate([
        decode_values(decode_chunk(fetch(f"{name}/{meta.chunk_key(i)}"),
                                   meta), meta)
        for i in range(meta.chunk_counts()[0])])[: meta.shape[0]]


# ---- kerchunk reference stores -----------------------------------------


def read_kerchunk_store(refs_path: str) -> tuple[dict[str, ZarrArray], dict]:
    """Parse a kerchunk/fsspec reference document (the format the
    reference consumes through its ReferenceDataStore): JSON
    ``{"version": 1, "refs": {key: value}}`` (or a bare key map) where
    a value is inline content (string, optionally ``base64:``-prefixed)
    or a ``[url]`` / ``[url, offset, length]`` byte range."""
    with open(refs_path) as f:
        doc = json.load(f)
    refs = doc.get("refs", doc)
    return _kerchunk_arrays(refs, refs_path), refs


def _kerchunk_arrays(refs: Mapping, label: str) -> dict[str, ZarrArray]:
    """The zarr v2 arrays a kerchunk key map describes (its inline
    ``.zarray``/``.zattrs`` entries)."""

    def load_json(key):
        v = refs.get(key)
        if v is None:
            return None
        return v if isinstance(v, (dict, list)) else json.loads(v)

    arrays: dict[str, ZarrArray] = {}
    for key in refs:
        if not key.endswith(".zarray") or key == ".zarray":
            continue
        name = key[: -len("/.zarray")]
        meta = load_json(key)
        flt = meta.get("filters") or None
        if meta.get("zarr_format") != 2 or meta.get("order", "C") != "C" \
                or (flt and any(f.get("id") != "shuffle" for f in flt)):
            raise ValueError(f"unsupported zarr array layout for {name!r}")
        arrays[name] = ZarrArray(
            name=name, shape=tuple(meta["shape"]),
            chunks=tuple(meta["chunks"]), dtype=meta["dtype"],
            compressor=meta.get("compressor"),
            fill_value=meta.get("fill_value"),
            attrs=load_json(f"{name}/.zattrs") or {},
            filters=flt,
        )
    if not arrays:
        raise ValueError(f"no zarr arrays referenced in {label}")
    return arrays


def _kerchunk_fetch(refs: dict, base_dir: str):
    def fetch(key: str) -> bytes | None:
        v = refs.get(key)
        if v is None:
            return None
        if isinstance(v, str):
            if v.startswith("base64:"):
                import base64

                return base64.b64decode(v[len("base64:"):])
            return v.encode("latin1")
        url = v[0]
        p = url[len("file://"):] if url.startswith("file://") else url
        if not os.path.isabs(p):
            p = os.path.join(base_dir, p)
        with open(p, "rb") as f:
            if len(v) >= 3:
                f.seek(int(v[1]))
                return f.read(int(v[2]))
            return f.read()

    return fetch


def open_kerchunk_cube(
    spark: SparkSession,
    refs_path: str,
    var_names: list[str] | None = None,
) -> DataFrame:
    """Open a kerchunk-referenced virtual Zarr cube: same chunk-parallel
    plan as :func:`open_zarr_cube`, but each task resolves its chunk
    through the reference map — an executor-local ranged read into
    whatever file the reference points at.  The refs map itself is
    metadata-sized (one entry per chunk) and ships in the task closure.
    """
    arrays, refs = read_kerchunk_store(refs_path)
    fetch = _kerchunk_fetch(refs, os.path.dirname(os.path.abspath(refs_path)))
    return _open_cells(spark, arrays, fetch, var_names, refs_path)


def write_kerchunk_refs(zarr_path: str, refs_path: str,
                        pack: str | None = None) -> int:
    """Build a kerchunk reference document over an existing Zarr v2
    store (the virtualization direction kerchunk exists for): metadata
    inlines, chunks become byte-range references.  With ``pack``, all
    chunk bytes are concatenated into that single blob file and the
    refs carry real (offset, length) ranges — the shape kerchunk
    produces over NetCDF/HDF originals.  Returns the reference count."""
    arrays = read_store(zarr_path)
    refs: dict[str, object] = {}
    with open(os.path.join(zarr_path, ".zgroup")) as f:
        refs[".zgroup"] = f.read()
    za = os.path.join(zarr_path, ".zattrs")
    if os.path.exists(za):
        with open(za) as f:
            refs[".zattrs"] = f.read()
    blob = open(pack, "wb") if pack else None
    offset = 0
    try:
        for name, meta in arrays.items():
            adir = os.path.join(zarr_path, name)
            with open(os.path.join(adir, ".zarray")) as f:
                refs[f"{name}/.zarray"] = f.read()
            zat = os.path.join(adir, ".zattrs")
            if os.path.exists(zat):
                with open(zat) as f:
                    refs[f"{name}/.zattrs"] = f.read()
            for chunk in sorted(os.listdir(adir)):
                if chunk.startswith("."):
                    continue
                cpath = os.path.join(adir, chunk)
                size = os.path.getsize(cpath)
                if blob is not None:
                    with open(cpath, "rb") as f:
                        blob.write(f.read())
                    refs[f"{name}/{chunk}"] = [os.path.basename(pack),
                                               offset, size]
                    offset += size
                else:
                    refs[f"{name}/{chunk}"] = [
                        "file://" + os.path.abspath(cpath), 0, size]
    finally:
        if blob is not None:
            blob.close()
    with open(refs_path, "w") as f:
        json.dump({"version": 1, "refs": refs}, f)
    return len(refs)


def _read_shard_index(path: str, meta: ZarrArray) -> np.ndarray:
    """Read ONLY a shard object's index (a tail/head range request —
    never the chunk payload) and return the (n, 2) offset/nbytes
    table.  This is how a 100 TB reader addresses inner chunks: one
    small range read per shard, then exact ranges per chunk."""
    counts, n, idx_size = _shard_layout(meta)
    size = os.path.getsize(path)
    if size < idx_size:
        raise ValueError(
            f"shard {path!r} shorter than its index "
            f"({size} < {idx_size} bytes)")
    loc = meta.sharding.get("index_location", "end")
    with open(path, "rb") as f:
        if loc == "end":
            f.seek(size - idx_size)
        idx = f.read(idx_size)
    if meta.sharding.get("crc32c"):
        want = int.from_bytes(idx[-4:], "little")
        got = _crc32c(idx[:-4])
        if want != got:
            raise ValueError(
                f"shard index checksum mismatch for {path!r}")
        idx = idx[:-4]
    return np.frombuffer(idx, "<u8").reshape(n, 2)


def virtualize_sharded_store(zarr_path: str, refs_path: str) -> int:
    """Kerchunk-virtualize a Zarr v3 store (sharded or not) as a v2
    reference document: every INNER chunk becomes a byte-range
    reference into its shard object, read from the shard indexes
    alone (no chunk payload is touched).  The result opens through
    :func:`open_kerchunk_cube` with inner-chunk task granularity —
    the scan parallelism of the fine chunk grid over the object
    count of the shard grid, the point of sharding at 100 TB.
    Missing inner chunks get no reference (decode falls back to
    fill).  Returns the reference count."""
    arrays = read_store(zarr_path)
    refs: dict[str, object] = {}
    root = os.path.join(zarr_path, "zarr.json")
    group_attrs = {}
    if os.path.exists(root):
        with open(root) as f:
            group_attrs = json.load(f).get("attributes", {})
    refs[".zgroup"] = json.dumps({"zarr_format": 2})
    refs[".zattrs"] = json.dumps(group_attrs)
    n_refs = 2
    for name, meta in arrays.items():
        inner = tuple(meta.sharding["inner_chunks"]) \
            if meta.sharding else tuple(meta.chunks)
        refs[f"{name}/.zarray"] = json.dumps({
            "zarr_format": 2, "shape": list(meta.shape),
            "chunks": list(inner), "dtype": meta.dtype,
            "compressor": meta.compressor,
            "fill_value": _json_fill(meta.fill_value),
            "order": "C", "filters": None,
        })
        refs[f"{name}/.zattrs"] = json.dumps(meta.attrs)
        n_refs += 2
        adir = os.path.join(zarr_path, name)
        shard_counts = meta.chunk_counts()
        if meta.sharding is None:
            for flat in range(int(np.prod(shard_counts))):
                pos = np.unravel_index(flat, shard_counts)
                cpath = os.path.join(adir, meta.chunk_key(*pos))
                if not os.path.exists(cpath):
                    continue
                key = ".".join(str(i) for i in pos)
                refs[f"{name}/{key}"] = [
                    "file://" + os.path.abspath(cpath), 0,
                    os.path.getsize(cpath)]
                n_refs += 1
            continue
        within = tuple(s // i for s, i in zip(meta.chunks, inner))
        for flat in range(int(np.prod(shard_counts))):
            spos = np.unravel_index(flat, shard_counts)
            spath = os.path.join(adir, meta.chunk_key(*spos))
            if not os.path.exists(spath):
                continue
            offsets = _read_shard_index(spath, meta)
            url = "file://" + os.path.abspath(spath)
            for iflat in range(offsets.shape[0]):
                off, nb = (int(offsets[iflat, 0]),
                           int(offsets[iflat, 1]))
                if off == _SHARD_MISSING:
                    continue
                ipos = np.unravel_index(iflat, within)
                gpos = tuple(s * w + i for s, w, i
                             in zip(spos, within, ipos))
                key = ".".join(str(i) for i in gpos)
                refs[f"{name}/{key}"] = [url, off, nb]
                n_refs += 1
    with open(refs_path, "w") as f:
        json.dump({"version": 1, "refs": refs}, f)
    return n_refs


# ---- unchunk (xcube/core/unchunk.py parity) -----------------------------

#: driver-side assembly guard: unchunking materializes the WHOLE array
#: in driver memory (the reference does the same via np.full); bigger
#: arrays should be rewritten distributed via open+write with
#: chunks=shape instead
MAX_UNCHUNK_ELEMENTS = 64 * 1024 * 1024


def unchunk_dataset(
    dataset_path: str,
    var_names: list[str] | None = None,
    coords_only: bool = False,
) -> list[str]:
    """Rewrite selected arrays of a zarr store as ONE chunk, in place
    (reference ``unchunk_dataset``, core/unchunk.py:15-66; its CLI is
    ``xcube optimize --unchunk-coords`` for the common case).

    ``coords_only`` restricts to coordinate arrays (1-D arrays named
    after their own dimension) — the reference's main use: a store
    whose tiny coordinate arrays were written chunked forces one
    object-store GET per coordinate chunk at open time; collapsing
    them to single chunks makes opening O(#arrays).  Returns the
    names rewritten.
    """
    import itertools
    import shutil
    from dataclasses import replace

    arrays = read_store(dataset_path)
    if var_names is not None:
        unknown = sorted(set(var_names) - set(arrays))
        if unknown:
            raise ValueError(
                f"variable(s) {', '.join(unknown)} not found in "
                f"{dataset_path!r}")
    done: list[str] = []
    for name, meta in sorted(arrays.items()):
        if var_names is not None and name not in var_names:
            continue
        is_coord = len(meta.shape) == 1 and meta.dims == [name]
        if coords_only and not is_coord:
            continue
        if tuple(meta.chunks) == tuple(meta.shape):
            continue  # already a single chunk
        n_elem = 1
        for s in meta.shape:
            n_elem *= s
        if n_elem > MAX_UNCHUNK_ELEMENTS:
            raise ValueError(
                f"array {name!r} has {n_elem} elements — unchunking "
                f"assembles it driver-side (cap {MAX_UNCHUNK_ELEMENTS}); "
                "rewrite it distributed with write_zarr_cube and "
                "chunks=shape instead")
        full = np.full(meta.shape, _fill_scalar(meta),
                       dtype=meta.np_dtype)
        adir = os.path.join(dataset_path, name)
        for idx in itertools.product(
                *[range(c) for c in meta.chunk_counts()]):
            raw = _read_bytes(os.path.join(adir, meta.chunk_key(*idx)))
            arr = decode_chunk(raw, meta)
            sel = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, meta.chunks, meta.shape))
            full[sel] = arr[tuple(
                slice(0, sl.stop - sl.start) for sl in sel)]
        # Crash-safe swap order: stage the new chunk under a temp name,
        # switch the metadata, rename the chunk into place, and only then
        # delete the old chunk files — at no point are the array's bytes
        # only on disk in a form the (old or new) metadata cannot reach
        # plus the staged temp file.
        new_meta = replace(meta, chunks=tuple(meta.shape))
        new_key = new_meta.chunk_key(*([0] * len(meta.shape)))
        new_path = os.path.join(adir, new_key.replace("/", os.sep))
        tmp_path = os.path.join(adir, ".unchunk-tmp")
        _write_bytes(tmp_path, encode_chunk(full, new_meta))
        old_keys = [
            meta.chunk_key(*idx)
            for idx in itertools.product(
                *[range(c) for c in meta.chunk_counts()])
        ]
        _write_array_meta(dataset_path, new_meta)
        os.makedirs(os.path.dirname(new_path), exist_ok=True)
        os.replace(tmp_path, new_path)
        for k in old_keys:
            if k == new_key:
                continue  # overwritten by the rename above
            p = os.path.join(adir, k.replace("/", os.sep))
            if os.path.isfile(p):
                os.remove(p)
        if meta.zarr_format == 3:
            # prune now-empty v3 chunk sub-directories.  topdown=False
            # visits leaves first, but a parent's dirnames snapshot
            # still lists children rmdir'd during the walk — so do not
            # gate on dirnames/filenames; just attempt rmdir, which
            # fails harmlessly (OSError) on non-empty dirs and thereby
            # also sweeps parents emptied mid-walk.
            for dirpath, _dirnames, _filenames in os.walk(
                    os.path.join(adir, "c"), topdown=False):
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        done.append(name)
    return done
