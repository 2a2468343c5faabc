"""GeoTIFF / COG ingestion — the reference's rioxarray-backed GeoTIFF
format accessors (xcube/plugin.py:91-218 ``geotiff`` entries,
xcube/core/store/fs/impl/geotiff.py ``DatasetGeoTiffFsDataAccessor``).

No rasterio/GDAL in the container, so the classic-TIFF subset that
satellite COGs actually use is parsed directly from the public TIFF 6.0
+ GeoTIFF specs (like zarrio.py does for Zarr v2):

- classic TIFF (little/big endian), striped or tiled;
- compression: none (1) or DEFLATE (8/32946, zlib), horizontal
  predictor (tag 317) values 1 and 2;
- sample formats: uint/int/float, 8/16/32/64 bit, chunky planar
  layout; one or more samples per pixel (bands);
- georeferencing: ModelPixelScale + ModelTiepoint (the north-up affine
  every COG carries) and the GeoKey directory's EPSG code;
- GDAL_NODATA tag -> missing values;
- Cloud-Optimized GeoTIFF overviews: each reduced-resolution IFD
  becomes a pyramid level (``open_geotiff_levels``), mirroring the
  reference's GeoTIFFMultiLevelDataset.

Scale model (same as the Zarr reader): the driver reads only the IFD
metadata (KBs); tile/strip byte ranges become a ``spark.range`` chunk
table and each task reads + decodes its own byte range via
``mapInArrow``, executor-local; ``cell_bounds`` drops the blocks
outside a subset before any byte is read — IO proportional to the
subset read.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field
from typing import Mapping

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.sources.cells import (clip_cells, emit_cells, prune_tasks,
                                       task_range)

#: driver-side raster writers refuse above this many cells — they
#: collect() the full raster, so they are scoped to tiles/fixtures;
#: bulk export goes through the DISTRIBUTED zarr/parquet writers
#: (zarrio.write_zarr_cube / parquet layout writer)
MAX_DRIVER_CELLS = 64_000_000  # 64M cells ~ 512 MB of float64


def _guard_driver_collect(n_cells: int, fn_name: str) -> None:
    if n_cells > MAX_DRIVER_CELLS:
        raise ValueError(
            f"{fn_name} is a DRIVER-SIDE writer for tiles/fixtures and "
            f"refuses {n_cells} cells (cap {MAX_DRIVER_CELLS}); export "
            "big cubes with the distributed writers instead: "
            "write_zarr_cube (sources/zarrio.py) or the parquet layout "
            "writer (sources/layout.py)"
        )

# TIFF tag ids (TIFF 6.0 / GeoTIFF specs)
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTO = 258, 259, 262
_T_STRIP_OFFSETS, _T_SAMPLES, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = \
    273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR = 284, 317
_T_TILE_W, _T_TILE_H, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_SAMPLE_FORMAT = 339
_T_PIXEL_SCALE, _T_TIEPOINT = 33550, 33922
_T_GEO_KEYS = 34735
_T_GDAL_NODATA = 42113

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f",
             12: "d"}

#: GeoKey ids carrying the CRS EPSG code
_GK_GEOGRAPHIC_TYPE, _GK_PROJECTED_CS = 2048, 3072


@dataclass
class TiffIFD:
    """One image file directory: a full- or reduced-resolution image."""

    width: int
    height: int
    n_bands: int
    dtype: np.dtype
    compression: int
    predictor: int
    tile_w: int
    tile_h: int
    offsets: list[int]
    byte_counts: list[int]
    tiled: bool
    nodata: float | None = None
    pixel_scale: tuple[float, float] | None = None
    tiepoint: tuple[float, float, float, float] | None = None
    crs: str = "EPSG:4326"
    tags: dict = field(default_factory=dict)

    @property
    def tiles_across(self) -> int:
        return (self.width + self.tile_w - 1) // self.tile_w

    @property
    def tiles_down(self) -> int:
        return (self.height + self.tile_h - 1) // self.tile_h


def _read_ifds(path: str) -> list[TiffIFD]:
    with open(path, "rb") as f:
        data = f.read()
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError(f"not a TIFF: {path}")
    magic, = struct.unpack_from(bo + "H", data, 2)
    if magic == 43:
        raise ValueError("BigTIFF is not supported (classic TIFF only)")
    if magic != 42:
        raise ValueError(f"not a TIFF: {path}")
    (next_ifd,) = struct.unpack_from(bo + "I", data, 4)

    ifds = []
    while next_ifd:
        n, = struct.unpack_from(bo + "H", data, next_ifd)
        tags: dict[int, list] = {}
        for i in range(n):
            off = next_ifd + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(bo + "HHI", data, off)
            size = _TYPE_SIZES.get(typ, 1) * cnt
            voff = off + 8 if size <= 4 else \
                struct.unpack_from(bo + "I", data, off + 8)[0]
            if typ == 2:  # ascii
                tags[tag] = [data[voff:voff + cnt].split(b"\0")[0]
                             .decode("ascii", "replace")]
            elif typ in (5, 10):  # rationals
                vals = struct.unpack_from(bo + f"{2 * cnt}"
                                          + ("I" if typ == 5 else "i"),
                                          data, voff)
                tags[tag] = [vals[2 * j] / (vals[2 * j + 1] or 1)
                             for j in range(cnt)]
            else:
                fmt = _TYPE_FMT.get(typ)
                if fmt:
                    tags[tag] = list(struct.unpack_from(
                        bo + f"{cnt}{fmt}", data, voff))
        (next_ifd,) = struct.unpack_from(
            bo + "I", data, next_ifd + 2 + 12 * n)
        ifds.append(_ifd_from_tags(tags, bo))
    if not ifds:
        raise ValueError(f"no IFDs in {path}")
    return ifds


def _ifd_from_tags(tags: dict, bo: str) -> TiffIFD:
    width = tags[_T_WIDTH][0]
    height = tags[_T_HEIGHT][0]
    n_bands = tags.get(_T_SAMPLES, [1])[0]
    bits = tags.get(_T_BITS, [8])[0]
    sfmt = tags.get(_T_SAMPLE_FORMAT, [1])[0]
    kind = {1: "u", 2: "i", 3: "f"}.get(sfmt)
    if kind is None:
        raise ValueError(f"unsupported TIFF sample format {sfmt}")
    dtype = np.dtype(f"{bo}{kind}{bits // 8}")
    comp = tags.get(_T_COMPRESSION, [1])[0]
    if comp not in (1, 8, 32946):
        raise ValueError(f"unsupported TIFF compression {comp} "
                         "(supported: none, DEFLATE)")
    if tags.get(_T_PLANAR, [1])[0] != 1:
        raise ValueError("unsupported planar configuration (chunky only)")
    predictor = tags.get(_T_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")

    if _T_TILE_OFFSETS in tags:
        tiled = True
        tile_w, tile_h = tags[_T_TILE_W][0], tags[_T_TILE_H][0]
        offsets, counts = tags[_T_TILE_OFFSETS], tags[_T_TILE_COUNTS]
    else:
        tiled = False
        tile_w = width
        tile_h = tags.get(_T_ROWS_PER_STRIP, [height])[0]
        offsets, counts = tags[_T_STRIP_OFFSETS], tags[_T_STRIP_COUNTS]

    nodata = None
    if _T_GDAL_NODATA in tags:
        try:
            nodata = float(tags[_T_GDAL_NODATA][0])
        except ValueError:
            pass
    scale = tags.get(_T_PIXEL_SCALE)
    tp = tags.get(_T_TIEPOINT)
    crs = "EPSG:4326"
    gk = tags.get(_T_GEO_KEYS)
    if gk:  # GeoKeyDirectory: header + 4-short entries
        for j in range(4, len(gk) - 3, 4):
            key, loc, _cnt, val = gk[j:j + 4]
            if loc == 0 and key in (_GK_GEOGRAPHIC_TYPE, _GK_PROJECTED_CS) \
                    and val not in (0, 32767):
                crs = f"EPSG:{val}"
    return TiffIFD(
        width=width, height=height, n_bands=n_bands, dtype=dtype,
        compression=comp, predictor=predictor, tile_w=tile_w,
        tile_h=tile_h, offsets=list(offsets), byte_counts=list(counts),
        tiled=tiled, nodata=nodata,
        pixel_scale=(scale[0], scale[1]) if scale else None,
        tiepoint=(tp[0], tp[1], tp[3], tp[4]) if tp and len(tp) >= 6
        else None,
        crs=crs, tags=tags,
    )


def _decode_block(raw: bytes, ifd: TiffIFD, rows: int, cols: int
                  ) -> np.ndarray:
    if ifd.compression in (8, 32946):
        raw = zlib.decompress(raw)
    arr = np.frombuffer(raw, dtype=ifd.dtype,
                        count=rows * cols * ifd.n_bands)
    arr = arr.reshape(rows, cols, ifd.n_bands)
    if ifd.predictor == 2:  # horizontal differencing
        arr = np.cumsum(arr.astype(ifd.dtype), axis=1, dtype=ifd.dtype)
    return arr


def open_geotiff_cube(
    spark: SparkSession,
    path: str,
    level: int = 0,
    band_names: list[str] | None = None,
    cell_bounds: Mapping[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """GeoTIFF/COG IFD ``level`` -> cells DataFrame
    ``(t_i, y_i, x_i, y, x, band_1..band_n)``; single time step
    (``t_i`` 0), ``y``/``x`` from the TIFF affine (else the indices).

    Plan shape: ``range(n_blocks) -> mapInArrow(read + inflate +
    unpredict) -> project`` (sources/cells.py) — each task reads only
    its own tile/strip byte range.  ``cell_bounds={"y_i": (lo, hi),
    ...}`` (inclusive) reads only the blocks that meet the bounds and
    keeps only the cells inside them, as ``open_zarr_cube`` does."""
    ifds = _read_ifds(path)
    if not 0 <= level < len(ifds):
        raise IndexError(f"level {level} not in [0, {len(ifds)})")
    ifd = ifds[level]
    names = band_names or [f"band_{b + 1}" for b in range(ifd.n_bands)]
    if len(names) != ifd.n_bands:
        raise ValueError(f"file has {ifd.n_bands} bands, "
                         f"got {len(names)} names")
    ta = ifd.tiles_across

    def read(row):
        b = int(row.id)
        with open(path, "rb") as f:
            f.seek(ifd.offsets[b])
            raw = f.read(ifd.byte_counts[b])
        if ifd.tiled:
            ty, tx = b // ta, b % ta
            y0, x0 = ty * ifd.tile_h, tx * ifd.tile_w
            rows, cols = ifd.tile_h, ifd.tile_w
        else:
            y0, x0 = b * ifd.tile_h, 0
            rows = min(ifd.tile_h, ifd.height - y0)
            cols = ifd.width
        # trim tile padding at the right/bottom image edge
        arr = _decode_block(raw, ifd, rows, cols)[
            : ifd.height - y0, : ifd.width - x0, :].astype("float64")
        if ifd.nodata is not None:
            arr[arr == ifd.nodata] = np.nan
        yield (y0, x0), {n: arr[:, :, bi] for bi, n in enumerate(names)}

    if ifd.tiled:
        extents = {
            "y_i": ((F.col("id") / ta).cast("int") * ifd.tile_h, ifd.tile_h),
            "x_i": ((F.col("id") % ta).cast("int") * ifd.tile_w, ifd.tile_w)}
    else:
        extents = {"y_i": (F.col("id") * ifd.tile_h, ifd.tile_h)}
    tasks = prune_tasks(task_range(spark, len(ifd.offsets)), extents,
                        cell_bounds)
    cells = emit_cells(tasks, read, names, (ifd.height, ifd.width))

    if ifd.pixel_scale and ifd.tiepoint:
        sx, sy = ifd.pixel_scale
        px, py, gx, gy = ifd.tiepoint
        # raster-space tiepoint (px,py) pins model-space (gx,gy);
        # TIFF rows grow downward -> y decreases with y_i (north-up)
        x = F.lit(gx) + (F.col("x_i") - F.lit(px) + F.lit(0.5)) * F.lit(sx)
        y = F.lit(gy) - (F.col("y_i") - F.lit(py) + F.lit(0.5)) * F.lit(sy)
    else:
        x = F.col("x_i").cast("double")
        y = F.col("y_i").cast("double")
    return clip_cells(cells.select(
        F.lit(0).alias("t_i"), "y_i", "x_i",
        y.alias("y"), x.alias("x"), *names), cell_bounds)


def open_geotiff_levels(spark: SparkSession, path: str,
                        band_names: list[str] | None = None):
    """COG overview pyramid as a MultiLevelDataset (the reference's
    GeoTIFFMultiLevelDataset): IFD 0 = full resolution, each further
    IFD a reduced-resolution overview; levels open lazily."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.operators.mldataset import ComputedMultiLevelDataset

    ifds = _read_ifds(path)
    base = ifds[0]
    sx, sy = base.pixel_scale or (1.0, 1.0)
    tp = base.tiepoint or (0.0, 0.0, 0.0, 0.0)
    grid = CubeGrid(
        width=base.width, height=base.height, time_periods=1,
        x_start=tp[2] - tp[0] * sx,
        y_start=tp[3] - (base.height - tp[1]) * sy,
        x_res=sx, y_res=sy, inverse_y=True, crs=base.crs,
    )

    def level_fn(_inputs, index):
        return open_geotiff_cube(spark, path, level=index,
                                 band_names=band_names)

    return ComputedMultiLevelDataset(level_fn, [], len(ifds), grid)


# ---- writer (round-trip tests + export) --------------------------------


def write_geotiff(
    cube: DataFrame,
    path: str,
    var_names: list[str],
    width: int,
    height: int,
    tile: int = 256,
    x_start: float = 0.0,
    y_end: float = 0.0,
    res: float = 1.0,
    nodata: float = -9999.0,
    epsg: int = 4326,
    compress: bool = True,
    overviews: int = 0,
) -> None:
    """Minimal tiled float64 GeoTIFF writer (DEFLATE, GeoKeys,
    GDAL_NODATA; ``overviews`` extra IFDs of 2x-decimated data makes
    the output a Cloud-Optimized-style pyramid) — collects the raster
    driver-side, so intended for level tiles / test fixtures, not
    cube-scale export (that path is parquet/zarr)."""
    _guard_driver_collect(width * height * len(var_names), "write_geotiff")
    rows = cube.select("y_i", "x_i", *var_names).collect()
    n_bands = len(var_names)
    img = np.full((height, width, n_bands), nodata, "<f8")
    for r in rows:
        for bi, v in enumerate(var_names):
            if r[v] is not None:
                img[r["y_i"], r["x_i"], bi] = r[v]

    planes = [img]
    for _ in range(overviews):
        planes.append(planes[-1][::2, ::2, :])

    def plane_blocks(p: np.ndarray) -> list[bytes]:
        h, w = p.shape[:2]
        out = []
        for ty in range((h + tile - 1) // tile):
            for tx in range((w + tile - 1) // tile):
                block = np.full((tile, tile, n_bands), nodata, "<f8")
                part = p[ty * tile:(ty + 1) * tile,
                         tx * tile:(tx + 1) * tile, :]
                block[:part.shape[0], :part.shape[1], :] = part
                raw = block.tobytes()
                out.append(zlib.compress(raw, 6) if compress else raw)
        return out

    geo_keys = [1, 1, 0, 3,
                1024, 0, 1, 2 if epsg < 32600 else 1,  # model type
                (2048 if epsg < 32600 else 3072), 0, 1, epsg,
                1025, 0, 1, 1]  # RasterPixelIsArea
    nodata_s = f"{nodata}".encode() + b"\0"

    def plane_tags(p: np.ndarray, level: int, blocks: list[bytes]):
        h, w = p.shape[:2]
        tags = [
            (_T_WIDTH, 3, [w]), (_T_HEIGHT, 3, [h]),
            (_T_BITS, 3, [64] * n_bands),
            (_T_COMPRESSION, 3, [8 if compress else 1]),
            (_T_PHOTO, 3, [1]),
            (_T_SAMPLES, 3, [n_bands]),
            (_T_PLANAR, 3, [1]),
            (_T_TILE_W, 3, [tile]), (_T_TILE_H, 3, [tile]),
            (_T_TILE_OFFSETS, 4, [0] * len(blocks)),  # patched at layout
            (_T_TILE_COUNTS, 4, [len(b) for b in blocks]),
            (_T_SAMPLE_FORMAT, 3, [3] * n_bands),
            (_T_PIXEL_SCALE, 12, [res * (2 ** level), res * (2 ** level),
                                  0.0]),
            (_T_TIEPOINT, 12, [0.0, 0.0, 0.0, x_start, y_end, 0.0]),
            (_T_GEO_KEYS, 3, geo_keys),
            (_T_GDAL_NODATA, 2, nodata_s),
        ]
        tags.sort(key=lambda t: t[0])
        return tags

    def pack_vals(typ: int, vals) -> bytes:
        if typ == 2:
            return bytes(vals)
        fmt = {3: "H", 4: "I", 12: "d"}[typ]
        return struct.pack(f"<{len(vals)}{fmt}", *vals)

    # ---- layout: header, then per plane [IFD, out-of-line data,
    # blocks], each IFD's next-pointer chaining to the following one
    all_blocks = [plane_blocks(p) for p in planes]
    cursor = 8
    ifd_offsets = []
    layouts = []  # (tags, data_off, blocks_off) per plane
    for level, (p, blocks) in enumerate(zip(planes, all_blocks)):
        tags = plane_tags(p, level, blocks)
        ifd_offsets.append(cursor)
        data_off = cursor + 2 + 12 * len(tags) + 4
        oo_size = sum(len(pack_vals(t, v)) for _, t, v in tags
                      if len(pack_vals(t, v)) > 4)
        blocks_off = data_off + oo_size
        layouts.append((tags, data_off, blocks_off))
        cursor = blocks_off + sum(len(b) for b in blocks)

    buf = bytearray(b"II*\0" + struct.pack("<I", ifd_offsets[0]))
    for level, ((tags, data_off, blocks_off), blocks) in enumerate(
            zip(layouts, all_blocks)):
        # patch tile offsets now that the block base is known
        offs, cur = [], blocks_off
        for b in blocks:
            offs.append(cur)
            cur += len(b)
        assert len(buf) == ifd_offsets[level]
        buf += struct.pack("<H", len(tags))
        oo_cursor = data_off
        oo_payload = bytearray()
        for tag, typ, vals in tags:
            if tag == _T_TILE_OFFSETS:
                vals = offs
            pack = pack_vals(typ, vals)
            buf += struct.pack("<HHI", tag, typ, len(vals))
            if len(pack) <= 4:
                buf += pack.ljust(4, b"\0")
            else:
                buf += struct.pack("<I", oo_cursor)
                oo_cursor += len(pack)
                oo_payload += pack
        next_ifd = ifd_offsets[level + 1] if level + 1 < len(ifd_offsets) \
            else 0
        buf += struct.pack("<I", next_ifd)
        buf += oo_payload
        for b in blocks:
            buf += b
    with open(path, "wb") as f:
        f.write(bytes(buf))
