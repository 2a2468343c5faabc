"""Tiling — xcube/core/tilingscheme.py:35-446 + core/tile.py:39-538.

``TilingScheme``: geographic / web-mercator tile pyramid math — pure
driver-side arithmetic (tile counts, per-level resolution, tile bbox),
like the reference's class.  ``compute_tiles``: the 11-step pipeline of
tile.py:39-74 reduced to its Spark shape (SURVEY §2.11):

1. pick the pyramid level whose resolution just covers the requested
   zoom (the LOD-selection rule, mldataset/abc.py:136);
2. bbox-filter the level's cells (partition/file pruning does the
   skipping on a laid-out table);
3. map cube cell indices to tile-local pixel rows with pure Column
   arithmetic.

``compute_rgba_tile`` (tile.py:355-538): value -> RGBA via a linear
4-stop colormap + vmin/vmax normalization, all Column expressions.
``render_tile_png`` collects the RGBA rows as one Arrow table, gathers
them into the 256x256 image through two per-axis index maps (pixel
column -> ``px`` key, pixel row -> ``py`` key; the identity by
default) and encodes the PNG on the driver with numpy + zlib (the
reference's ``encode_image``).  The server's tile route keys the rows
by cell index (``CubeGrid.x_index_np``/``y_index_np`` over
``TilingScheme.pixel_centers``), so it colormaps and collects each
needed cell once instead of once per pixel.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid


@dataclass(frozen=True)
class TilingScheme:
    """Tile pyramid over a geographic extent (tilingscheme.py:35-446).

    Level L has ``num_tiles_x0 * 2^L`` x ``num_tiles_y0 * 2^L`` tiles of
    ``tile_size`` px; GEOGRAPHIC = 2x1 tiles at level 0 over
    [-180, 180] x [-90, 90] (the reference's CRS84 scheme); WEB_MERCATOR
    = 1x1 over the square mercator extent.
    """

    num_tiles_x0: int = 2
    num_tiles_y0: int = 1
    x_min: float = -180.0
    y_min: float = -90.0
    x_max: float = 180.0
    y_max: float = 90.0
    tile_size: int = 256
    crs: str = "EPSG:4326"

    @classmethod
    def geographic(cls) -> "TilingScheme":
        return cls()

    @classmethod
    def web_mercator(cls) -> "TilingScheme":
        half = 20037508.342789244
        return cls(num_tiles_x0=1, num_tiles_y0=1, x_min=-half, y_min=-half,
                   x_max=half, y_max=half, crs="EPSG:3857")

    def num_tiles(self, level: int) -> tuple[int, int]:
        return (self.num_tiles_x0 << level, self.num_tiles_y0 << level)

    def resolution(self, level: int) -> float:
        """Map units per pixel at ``level`` (tilingscheme.py res ladder)."""
        nx, _ = self.num_tiles(level)
        return (self.x_max - self.x_min) / (nx * self.tile_size)

    def level_for_resolution(self, res: float) -> int:
        """Smallest level whose pixels are at least as fine as ``res``."""
        level = 0
        while self.resolution(level) > res * (1 + 1e-9):
            level += 1
        return level

    def tile_bbox(self, level: int, tx: int, ty: int) -> tuple[float, float, float, float]:
        """(x1, y1, x2, y2) of tile (tx, ty); ty counts from the TOP row
        like slippy-map/TMS-flipped schemes (tilingscheme.py j axis)."""
        nx, ny = self.num_tiles(level)
        w = (self.x_max - self.x_min) / nx
        h = (self.y_max - self.y_min) / ny
        x1 = self.x_min + tx * w
        y2 = self.y_max - ty * h
        return (x1, y2 - h, x1 + w, y2)

    def pixel_centers(self, level: int, tx: int, ty: int):
        """Map coordinates of the pixel centres of tile (level, tx, ty):
        one x per pixel column, one y per pixel row (from the top).
        Same operation order as the Column form
        ``x1 + (px + 0.5) * res`` / ``y2 - (py + 0.5) * res``."""
        import numpy as np

        x1, _, _, y2 = self.tile_bbox(level, tx, ty)
        res = self.resolution(level)
        p = np.arange(self.tile_size) + 0.5
        return x1 + p * res, y2 - p * res


def select_tile_level(
    levels: list[tuple[CubeGrid, DataFrame]],
    scheme: TilingScheme,
    zoom: int,
) -> tuple[CubeGrid, DataFrame]:
    """LOD selection (abc.py:136): the coarsest stored level whose
    resolution is still <= the tile pyramid's resolution at ``zoom``."""
    want = scheme.resolution(zoom)
    best = levels[0]
    for grid, df in levels:
        if grid.x_res <= want * (1 + 1e-9):
            best = (grid, df)  # levels ordered fine -> coarse
    return best


def compute_tiles(
    cube: DataFrame,
    grid: CubeGrid,
    scheme: TilingScheme,
    level: int,
    tx: int,
    ty: int,
    var_names: list[str] | None = None,
    t_i: int | None = None,
) -> DataFrame:
    """Cells of tile (level, tx, ty) with tile-local pixel coordinates
    ``(px, py)`` (py from the top, image convention).  The bbox filter
    is a pure predicate on x/y -> partition-prunable; the pixel mapping
    is Column arithmetic at the *cube's* resolution (one cell may cover
    several tile pixels at coarse zoom — the server's tile route
    gathers pixels from cells through index maps; this operator returns
    the minimal cell set)."""
    from xcube_spark.cube.grid import var_names as cube_vars

    x1, y1, x2, y2 = scheme.tile_bbox(level, tx, ty)
    res = scheme.resolution(level)
    vars_ = var_names or cube_vars(cube)
    out = cube.where(
        (F.col("x") >= x1) & (F.col("x") < x2)
        & (F.col("y") >= y1) & (F.col("y") < y2)
    )
    if t_i is not None:
        out = out.where(F.col("t_i") == t_i)
    px = F.floor((F.col("x") - F.lit(x1)) / F.lit(res)).cast("int")
    py = F.floor((F.lit(y2) - F.col("y")) / F.lit(res)).cast("int")
    return out.select(
        "t_i", px.alias("px"), py.alias("py"), "x", "y", *vars_
    )


#: default 4-stop colormap (dark blue -> cyan -> yellow -> red)
DEFAULT_STOPS = [
    (0.0, (13, 8, 135)),
    (1 / 3, (126, 3, 168)),
    (2 / 3, (204, 71, 120)),
    (1.0, (248, 149, 64)),
]


def compute_rgba_tile(
    tile_cells: DataFrame,
    var: str,
    vmin: float,
    vmax: float,
    cmap_name: str = "default",
    cmap_norm: str = "lin",
) -> DataFrame:
    """value -> RGBA columns (tile.py:355-538): clamp-normalize to
    [vmin, vmax] (the stretch range from compute_statistics /
    stretch_range), interpolate the named colormap (lin or log norm),
    NULL -> transparent."""
    return _rgba_select(tile_cells, var, F.lit(vmin), F.lit(vmax),
                        cmap_name=cmap_name, cmap_norm=cmap_norm)


def compute_rgba_tile_auto(
    tile_cells: DataFrame,
    var: str,
    how: str = "2sigma",
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Like compute_rgba_tile but the stretch range is computed inside
    the plan (broadcast one-row crossJoin), so stretch + normalize +
    colormap is a single Spark action — no driver round-trip per tile
    request.  ``stats_df`` computes the range over a wider domain (e.g.
    the whole variable, not just this tile), matching the reference's
    dataset-level color ranges (tile.py:540-608)."""
    from xcube_spark.operators.statistics import with_stretch_range

    ranged = with_stretch_range(tile_cells, var, how, stats_df=stats_df)
    return _rgba_select(ranged, var, F.col("lo"), F.col("hi"))


def _rgba_select(
    cells: DataFrame,
    var: str,
    vmin: Column,
    vmax: Column,
    cmap_name: str = "default",
    cmap_norm: str = "lin",
) -> DataFrame:
    v = F.col(var)
    if cmap_norm == "log":
        # log normalization (reference cmap_norm='log', tile.py:365):
        # values <= 0 clamp to vmin before the log
        norm = (F.log(F.greatest(v, vmin)) - F.log(vmin)) / (
            F.log(vmax) - F.log(vmin))
    elif cmap_norm == "lin":
        norm = (v - vmin) / (vmax - vmin)
    else:
        raise ValueError(f"cmap_norm must be 'lin' or 'log': {cmap_norm!r}")
    norm = F.least(F.greatest(norm, F.lit(0.0)), F.lit(1.0))
    stops = get_colormap(cmap_name)
    if is_qualitative(cmap_name):
        # categorical maps pick the NEAREST listed color (matplotlib
        # ListedColormap: index = floor(norm * n) clamped) — blends
        # between palette entries must never appear
        channel = _listed_channel_expr
    else:
        channel = _stop_channel_expr
    return cells.select(
        "px", "py",
        channel(norm, stops, 0).alias("r"),
        channel(norm, stops, 1).alias("g"),
        channel(norm, stops, 2).alias("b"),
        F.when(v.isNull(), 0).otherwise(255).alias("a"),
    )


# ---- named colormap registry ------------------------------------------
#
# The reference resolves cmap_name through matplotlib's registry
# (util/cmaps.py:321-476, DEFAULT_CMAP_NAME='viridis').  matplotlib is
# not in this container, so the registry here carries the WELL-KNOWN
# anchor colors of the common maps (public values) as piecewise-linear
# stop lists — same registry surface (named lookup, '_r' reversal,
# custom registration), approximate ramps.  Rendering stays pure
# Column arithmetic whatever the map.

#: name -> [(position 0..1, (r, g, b)), ...] sorted by position
COLORMAPS: dict[str, list[tuple[float, tuple[int, int, int]]]] = {
    "default": DEFAULT_STOPS,
    "viridis": [
        (0.0, (68, 1, 84)), (0.25, (59, 82, 139)), (0.5, (33, 145, 140)),
        (0.75, (94, 201, 98)), (1.0, (253, 231, 37)),
    ],
    "plasma": [
        (0.0, (13, 8, 135)), (0.25, (126, 3, 168)), (0.5, (204, 71, 120)),
        (0.75, (248, 149, 64)), (1.0, (240, 249, 33)),
    ],
    "magma": [
        (0.0, (0, 0, 4)), (0.25, (81, 18, 124)), (0.5, (183, 55, 121)),
        (0.75, (252, 137, 97)), (1.0, (252, 253, 191)),
    ],
    "inferno": [
        (0.0, (0, 0, 4)), (0.25, (87, 16, 110)), (0.5, (188, 55, 84)),
        (0.75, (249, 142, 9)), (1.0, (252, 255, 164)),
    ],
    "cividis": [
        (0.0, (0, 32, 76)), (0.25, (74, 74, 108)), (0.5, (124, 123, 120)),
        (0.75, (187, 173, 108)), (1.0, (255, 234, 70)),
    ],
    "gray": [(0.0, (0, 0, 0)), (1.0, (255, 255, 255))],
    "jet": [
        (0.0, (0, 0, 131)), (0.125, (0, 60, 170)), (0.375, (5, 255, 255)),
        (0.625, (255, 255, 0)), (0.875, (250, 0, 0)), (1.0, (128, 0, 0)),
    ],
    "coolwarm": [
        (0.0, (59, 76, 192)), (0.5, (221, 221, 221)), (1.0, (180, 4, 38)),
    ],
    "RdBu": [
        (0.0, (103, 0, 31)), (0.5, (247, 247, 247)), (1.0, (5, 48, 97)),
    ],
    # matplotlib-registry breadth (util/cmaps.py: the reference exposes
    # the full mpl registry grouped by category; these are the commonly
    # requested sequential / diverging / cyclic names with their anchor
    # colors — piecewise-linear between stops, like everything above)
    "Blues": [(0.0, (247, 251, 255)), (0.5, (106, 174, 214)),
              (1.0, (8, 48, 107))],
    "Greens": [(0.0, (247, 252, 245)), (0.5, (116, 196, 118)),
               (1.0, (0, 68, 27))],
    "Reds": [(0.0, (255, 245, 240)), (0.5, (251, 106, 74)),
             (1.0, (103, 0, 13))],
    "Oranges": [(0.0, (255, 245, 235)), (0.5, (253, 141, 60)),
                (1.0, (127, 39, 4))],
    "Purples": [(0.0, (252, 251, 253)), (0.5, (158, 154, 200)),
                (1.0, (63, 0, 125))],
    "YlOrRd": [(0.0, (255, 255, 204)), (0.5, (254, 141, 60)),
               (1.0, (128, 0, 38))],
    "YlGnBu": [(0.0, (255, 255, 217)), (0.5, (65, 182, 196)),
               (1.0, (8, 29, 88))],
    "PuBuGn": [(0.0, (255, 247, 251)), (0.5, (103, 169, 207)),
               (1.0, (1, 70, 54))],
    "BrBG": [(0.0, (84, 48, 5)), (0.5, (245, 245, 245)),
             (1.0, (0, 60, 48))],
    "PiYG": [(0.0, (142, 1, 82)), (0.5, (247, 247, 247)),
             (1.0, (39, 100, 25))],
    "RdYlBu": [(0.0, (165, 0, 38)), (0.5, (255, 255, 191)),
               (1.0, (49, 54, 149))],
    "RdYlGn": [(0.0, (165, 0, 38)), (0.5, (255, 255, 191)),
               (1.0, (0, 104, 55))],
    "Spectral": [(0.0, (158, 1, 66)), (0.25, (244, 109, 67)),
                 (0.5, (255, 255, 191)), (0.75, (102, 194, 165)),
                 (1.0, (94, 79, 162))],
    "seismic": [(0.0, (0, 0, 76)), (0.25, (0, 0, 255)),
                (0.5, (255, 255, 255)), (0.75, (255, 0, 0)),
                (1.0, (128, 0, 0))],
    "bwr": [(0.0, (0, 0, 255)), (0.5, (255, 255, 255)),
            (1.0, (255, 0, 0))],
    "turbo": [(0.0, (48, 18, 59)), (0.25, (62, 156, 254)),
              (0.5, (70, 247, 131)), (0.75, (249, 186, 56)),
              (1.0, (122, 4, 3))],
    "hot": [(0.0, (10, 0, 0)), (0.365, (255, 0, 0)),
            (0.745, (255, 255, 0)), (1.0, (255, 255, 255))],
    "cool": [(0.0, (0, 255, 255)), (1.0, (255, 0, 255))],
    "spring": [(0.0, (255, 0, 255)), (1.0, (255, 255, 0))],
    "summer": [(0.0, (0, 128, 102)), (1.0, (255, 255, 102))],
    "autumn": [(0.0, (255, 0, 0)), (1.0, (255, 255, 0))],
    "winter": [(0.0, (0, 0, 255)), (1.0, (0, 255, 128))],
    "bone": [(0.0, (0, 0, 1)), (0.375, (81, 81, 113)),
             (0.75, (166, 198, 198)), (1.0, (255, 255, 255))],
    "copper": [(0.0, (0, 0, 0)), (1.0, (255, 199, 127))],
    "terrain": [(0.0, (51, 51, 153)), (0.15, (0, 102, 255)),
                (0.25, (0, 204, 102)), (0.5, (255, 255, 102)),
                (0.75, (128, 92, 84)), (1.0, (255, 255, 255))],
    "ocean": [(0.0, (0, 128, 0)), (0.33, (0, 0, 85)),
              (0.66, (0, 128, 170)), (1.0, (255, 255, 255))],
    "rainbow": [(0.0, (128, 0, 255)), (0.25, (0, 180, 235)),
                (0.5, (128, 255, 165)), (0.75, (255, 180, 0)),
                (1.0, (255, 0, 0))],
}


def _qualitative(colors: list[tuple[int, int, int]]) \
        -> list[tuple[float, tuple[int, int, int]]]:
    """Discrete color cycle -> stop list at even positions (the
    qualitative mpl/ColorBrewer families; rendering interpolates
    between neighbors, the documented approximate-ramp contract)."""
    n = len(colors)
    return [(i / (n - 1), c) for i, c in enumerate(colors)]


# the matplotlib qualitative registry (public Tableau/ColorBrewer
# anchor values; reference serves them via util/cmaps.py 'Qualitative')
COLORMAPS.update({
    "tab10": _qualitative([
        (31, 119, 180), (255, 127, 14), (44, 160, 44), (214, 39, 40),
        (148, 103, 189), (140, 86, 75), (227, 119, 194),
        (127, 127, 127), (188, 189, 34), (23, 190, 207)]),
    "Set1": _qualitative([
        (228, 26, 28), (55, 126, 184), (77, 175, 74), (152, 78, 163),
        (255, 127, 0), (255, 255, 51), (166, 86, 40), (247, 129, 191),
        (153, 153, 153)]),
    "Set2": _qualitative([
        (102, 194, 165), (252, 141, 98), (141, 160, 203),
        (231, 138, 195), (166, 216, 84), (255, 217, 47),
        (229, 196, 148), (179, 179, 179)]),
    "Set3": _qualitative([
        (141, 211, 199), (255, 255, 179), (190, 186, 218),
        (251, 128, 114), (128, 177, 211), (253, 180, 98),
        (179, 222, 105), (252, 205, 229), (217, 217, 217),
        (188, 128, 189), (204, 235, 197), (255, 237, 111)]),
    "Dark2": _qualitative([
        (27, 158, 119), (217, 95, 2), (117, 112, 179), (231, 41, 138),
        (102, 166, 30), (230, 171, 2), (166, 118, 29),
        (102, 102, 102)]),
    "Paired": _qualitative([
        (166, 206, 227), (31, 120, 180), (178, 223, 138),
        (51, 160, 44), (251, 154, 153), (227, 26, 28),
        (253, 191, 111), (255, 127, 0), (202, 178, 214),
        (106, 61, 154), (255, 255, 153), (177, 89, 40)]),
    "Accent": _qualitative([
        (127, 201, 127), (190, 174, 212), (253, 192, 134),
        (255, 255, 153), (56, 108, 176), (240, 2, 127), (191, 91, 23),
        (102, 102, 102)]),
    "Pastel1": _qualitative([
        (251, 180, 174), (179, 205, 227), (204, 235, 197),
        (222, 203, 228), (254, 217, 166), (255, 255, 204),
        (229, 216, 189), (253, 218, 236)]),
    "Pastel2": _qualitative([
        (179, 226, 205), (253, 205, 172), (203, 213, 232),
        (244, 202, 228), (230, 245, 201), (255, 242, 174),
        (241, 226, 204), (204, 204, 204)]),
    # the 20-color Tableau families are NOT tab10 extensions: tab20
    # interleaves strong/pale pairs, tab20b/tab20c are
    # 4-shades-of-5-hues ladders (public matplotlib anchor values)
    "tab20": _qualitative([
        (31, 119, 180), (174, 199, 232), (255, 127, 14),
        (255, 187, 120), (44, 160, 44), (152, 223, 138), (214, 39, 40),
        (255, 152, 150), (148, 103, 189), (197, 176, 213),
        (140, 86, 75), (196, 156, 148), (227, 119, 194),
        (247, 182, 210), (127, 127, 127), (199, 199, 199),
        (188, 189, 34), (219, 219, 141), (23, 190, 207),
        (158, 218, 229)]),
    "tab20b": _qualitative([
        (57, 59, 121), (82, 84, 163), (107, 110, 207), (156, 158, 222),
        (99, 121, 57), (140, 162, 82), (181, 207, 107),
        (206, 219, 156), (140, 109, 49), (189, 158, 57),
        (231, 186, 82), (231, 203, 148), (132, 60, 57), (173, 73, 74),
        (214, 97, 107), (231, 150, 156), (123, 65, 115), (165, 81, 148),
        (206, 109, 189), (222, 158, 214)]),
    "tab20c": _qualitative([
        (49, 130, 189), (107, 174, 214), (158, 202, 225),
        (198, 219, 239), (230, 85, 13), (253, 141, 60), (253, 174, 107),
        (253, 208, 162), (49, 163, 84), (116, 196, 118),
        (161, 217, 155), (199, 233, 192), (117, 107, 177),
        (158, 154, 200), (188, 189, 220), (218, 218, 235), (99, 99, 99),
        (150, 150, 150), (189, 189, 189), (217, 217, 217)]),
})

#: qualitative (categorical) maps render DISCRETE: nearest-stop lookup
#: instead of interpolation, matching the reference's ListedColormap
#: semantics (util/cmaps.py 'Qualitative' — mid-interval values must
#: be palette members, never blends)
QUALITATIVE_CMAPS: set[str] = {
    "tab10", "tab20", "tab20b", "tab20c", "Set1", "Set2", "Set3",
    "Dark2", "Paired", "Accent", "Pastel1", "Pastel2",
}


def is_qualitative(name: str) -> bool:
    """Whether ``name`` resolves (through aliases and ``_r``) to a
    qualitative/categorical map."""
    if name in CMAP_ALIASES:
        name = CMAP_ALIASES[name]
    elif name.endswith("_r") and name[:-2] in CMAP_ALIASES:
        name = CMAP_ALIASES[name[:-2]]
    if name.endswith("_r"):
        name = name[:-2]
    return name in QUALITATIVE_CMAPS


def register_colormap(
    name: str, stops: list[tuple[float, tuple[int, int, int]]]
) -> None:
    """Custom colormap registration (util/cmaps.py:368-381)."""
    COLORMAPS[name] = sorted(stops)


def load_snap_cpd_colormap(path: str, name: str | None = None) -> str:
    """Load a SNAP ``*.cpd`` color-palette file into the registry.

    Format (reference util/cmaps.py:682-755): ``key=value`` lines with
    ``numPoints``, ``sample{i}`` (data value) and ``color{i}``
    (``r,g,b[,a]``; alpha is ignored — tile opacity comes from data
    validity).  Sample values are normalized to 0..1 stops over their
    span, matching the reference's ``matplotlib.colors.Normalize``
    of the palette range.  Returns the registered name (file basename
    without extension unless ``name`` is given).
    """
    import os as _os

    entries: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            if "=" not in line:
                raise ValueError(f"illegal SNAP *.cpd format: {path}")
            k, _, v = line.partition("=")
            entries[k.strip()] = v.strip()
    try:
        num_points = int(entries["numPoints"])
    except (KeyError, ValueError):
        raise ValueError(f"illegal SNAP *.cpd format: {path}")
    points: list[tuple[float, tuple[int, int, int]]] = []
    for i in range(num_points):
        try:
            sample = float(entries[f"sample{i}"])
            rgba = tuple(int(c) for c in entries[f"color{i}"].split(","))
        except (KeyError, ValueError):
            raise ValueError(f"illegal SNAP *.cpd format: {path}")
        if len(rgba) not in (3, 4):
            raise ValueError(f"illegal SNAP *.cpd format: {path}")
        points.append((sample, rgba[:3]))
    points.sort()
    lo, hi = points[0][0], points[-1][0]
    span = (hi - lo) or 1.0
    stops = [((s - lo) / span, c) for s, c in points]
    cm_name = name or _os.path.splitext(_os.path.basename(path))[0]
    register_colormap(cm_name, stops)
    return cm_name


#: matplotlib-registry names mapped onto their closest stop table in
#: COLORMAPS (pure data, no matplotlib dependency) — so requests using
#: any common mpl name resolve to a sensible gradient instead of the
#: default fallback (reference serves the full mpl registry through
#: util/cmaps.py; this covers the rest of its common names).
CMAP_ALIASES: dict[str, str] = {
    "Greys": "gray", "gist_gray": "gray", "gist_yarg": "gray_r",
    "binary": "gray_r",
    "YlOrBr": "YlOrRd", "OrRd": "Oranges", "PuRd": "Reds",
    "RdPu": "Reds", "BuPu": "Purples", "PuBu": "Blues",
    "GnBu": "YlGnBu", "BuGn": "Greens", "YlGn": "Greens",
    "PRGn": "PiYG", "RdGy": "RdBu", "PuOr": "BrBG",
    "hsv": "rainbow", "gist_rainbow": "rainbow",
    "nipy_spectral": "Spectral", "gist_ncar": "rainbow",
    "cubehelix": "viridis", "CMRmap": "inferno",
    "gnuplot": "plasma", "gnuplot2": "plasma",
    "afmhot": "hot", "gist_heat": "hot",
    "Wistia": "autumn", "pink": "copper",
    "gist_earth": "terrain", "gist_stern": "seismic",
    "brg": "jet", "twilight": "coolwarm",
    "twilight_shifted": "coolwarm", "berlin": "coolwarm",
    "managua": "RdYlBu", "vanimo": "PiYG",
    # repeating-cycle maps approximated by their dominant gradient
    "flag": "bwr", "prism": "rainbow",
}


def get_colormap(name: str) -> list[tuple[float, tuple[int, int, int]]]:
    """Resolve a colormap by name; ``<name>_r`` reverses (the
    reference's reversed-map registration, cmaps.py:454-459), and
    matplotlib-registry aliases resolve through CMAP_ALIASES (alias
    first, then the ``_r`` rule, so ``Greys_r`` works too).
    Unknown names fall back to the default map like the reference's
    provider (cmaps.py:399)."""
    if name in CMAP_ALIASES:
        name = CMAP_ALIASES[name]
    elif name.endswith("_r") and name[:-2] in CMAP_ALIASES:
        target = CMAP_ALIASES[name[:-2]]
        name = target[:-2] if target.endswith("_r") else target + "_r"
    if name in COLORMAPS:
        return COLORMAPS[name]
    if name.endswith("_r") and name[:-2] in COLORMAPS:
        base = COLORMAPS[name[:-2]]
        return [(1.0 - p, c) for p, c in reversed(base)]
    return COLORMAPS["default"]


def _stop_channel_expr(
    norm: Column,
    stops: list[tuple[float, tuple[int, int, int]]],
    channel: int,
) -> Column:
    """Piecewise-linear interpolation of one RGB channel over arbitrary
    stops (generalization of ``_channel_expr``)."""
    expr = F.lit(float(stops[0][1][channel]))
    for (p0, c0), (p1, c1) in zip(stops, stops[1:]):
        frac = (norm - F.lit(p0)) / F.lit(p1 - p0)
        seg = F.lit(float(c0[channel])) + frac * F.lit(
            float(c1[channel] - c0[channel]))
        expr = F.when(norm >= p0, seg).otherwise(expr)
    return F.round(expr).cast("int")


def _listed_channel_expr(
    norm: Column,
    stops: list[tuple[float, tuple[int, int, int]]],
    channel: int,
) -> Column:
    """Discrete ListedColormap lookup of one RGB channel: norm in
    [0, 1] indexes ``floor(norm * n)`` clamped to ``n - 1`` into the
    listed colors — array literal + element_at, pure Column math."""
    n = len(stops)
    colors = F.array(*[F.lit(int(c[channel])) for _, c in stops])
    idx = F.least(F.floor(norm * F.lit(float(n))).cast("int"),
                  F.lit(n - 1))
    return F.element_at(colors, idx + F.lit(1))


# ---- PNG encode (driver-side, pure zlib) ------------------------------
#
# The reference encodes the RGBA array via PIL (core/tile.py:758-763).
# PIL is not in this container, so the PNG container is written
# directly — signature + IHDR + IDAT (zlib-compressed scanlines,
# filter 0) + IEND, the same self-written-format approach as the
# repo's NetCDF/GeoTIFF/Zarr codecs.  Driver-side by design: a tile is
# a bounded response payload (tile_size^2 pixels), never corpus-sized.


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_rgba_png(rgba_rows, width: int, height: int) -> bytes:
    """RGBA8 pixel bytes (row-major, ``4 * width * height``; any
    C-contiguous buffer, e.g. a uint8 ndarray) -> PNG."""
    import struct
    import zlib

    import numpy as np

    px = np.frombuffer(rgba_rows, np.uint8)
    if px.size != 4 * width * height:
        raise ValueError(
            f"expected {4 * width * height} RGBA bytes, got {px.size}")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0)
    # filter-0 scanlines: a zero byte ahead of every pixel row
    raw = np.zeros((height, 1 + 4 * width), np.uint8)
    raw[:, 1:] = px.reshape(height, 4 * width)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_rgba_png(data: bytes) -> tuple[int, int, bytes]:
    """Minimal inverse of :func:`encode_rgba_png` (filter-0 RGBA8 only)
    — used by tests and by the kerchunk-style readback path.  Returns
    (width, height, rgba_rows)."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            width, height, bits, ctype = struct.unpack(">IIBB", body[:10])
            if (bits, ctype) != (8, 6):
                raise ValueError("only RGBA8 supported")
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = 1 + 4 * width
    rows = []
    for y in range(height):
        line = raw[y * stride:(y + 1) * stride]
        if line[0] != 0:
            raise ValueError("only filter 0 supported")
        rows.append(line[1:])
    return width, height, b"".join(rows)


def _slots(values, keys):
    """Position of each of ``values`` in the sorted unique ``keys``;
    -1 where a value is not a key."""
    import numpy as np

    if len(keys) == 0:
        return np.full(len(values), -1, np.int64)
    i = np.minimum(np.searchsorted(keys, values), len(keys) - 1)
    return np.where(keys[i] == values, i, -1)


def pixel_weighted_values(
    cells: DataFrame, var: str, x_index, y_index,
) -> DataFrame:
    """The ``var`` value of each of ``cells`` (``px``/``py`` holding
    cell indices, as :func:`render_tile_png` gathers them) repeated
    once per tile pixel that shows the cell: ``count_x[px] *
    count_y[py]`` times.  This is the value multiset of a per-pixel
    join, so a stretch range computed over it (``stats_df`` of
    :func:`compute_rgba_tile_auto`) stays pixel-weighted."""
    import numpy as np

    def coverage(index) -> Column:
        index = np.asarray(index, np.int64)
        keys, n = np.unique(index[index >= 0], return_counts=True)
        # typed, so a map with no entries still resolves
        return F.create_map(*[F.lit(int(v)) for kv in zip(keys, n)
                              for v in kv]).cast("map<int,int>")

    w = coverage(x_index)[F.col("px")] * coverage(y_index)[F.col("py")]
    return cells.select(F.explode(F.array_repeat(F.col(var), w)).alias(var))


def render_tile_png(
    rgba_df: DataFrame,
    tile_size: int = 256,
    background: tuple[int, int, int, int] = (0, 0, 0, 0),
    x_index=None,
    y_index=None,
) -> bytes:
    """Collect an RGBA DataFrame (``px, py, r, g, b, a`` — the output
    of :func:`compute_rgba_tile`) into PNG bytes by a gather: pixel
    column ``i``, row ``j`` (from the top) shows the row whose
    ``(px, py) == (x_index[i], y_index[j])``.  The index maps default
    to the identity, where ``px``/``py`` are pixel coordinates; the
    server passes cell indices instead, so one row per cell covers
    every pixel it maps to.

    Pixels with a negative index, or whose key no row carries, keep
    ``background`` (transparent), matching the reference's NaN ->
    alpha-0 tiles.  Rows whose ``px``/``py`` is not in the index maps
    (or NULL) are dropped; each channel is taken modulo 256, a NULL
    channel as 0; where rows repeat a key the last one wins.

    DRIVER-SIDE by construction: the rows arrive as one Arrow table,
    and the caller bounds them by the index maps (at most
    ``tile_size`` distinct keys per axis, so at most ``tile_size**2``
    rows, whatever the cube size or zoom).  Numpy does the gather — no
    per-row Python objects; with no valid index on an axis nothing is
    collected.
    """
    import numpy as np
    import pyarrow.compute as pc

    ident = np.arange(tile_size)
    x_index = ident if x_index is None else np.asarray(x_index, np.int64)
    y_index = ident if y_index is None else np.asarray(y_index, np.int64)
    keys_x = np.unique(x_index[x_index >= 0])
    keys_y = np.unique(y_index[y_index >= 0])
    # one colour slot per (py, px) key, plus a background slot last
    lut = np.empty((len(keys_y) * len(keys_x) + 1, 4), np.uint8)
    lut[:] = background
    if len(lut) > 1:
        tbl = rgba_df.select("px", "py", "r", "g", "b", "a").toArrow()

        def col(name: str, null: int) -> np.ndarray:
            return pc.fill_null(tbl.column(name), null).to_numpy().astype(
                np.int64)

        sx, sy = _slots(col("px", -1), keys_x), _slots(col("py", -1), keys_y)
        ok = (sx >= 0) & (sy >= 0)
        slot = (sy * len(keys_x) + sx)[ok]
        rgba = np.stack([col(c, 0)[ok] for c in "rgba"], axis=1) & 255
        # numpy leaves the winner of a repeated index unspecified: keep
        # the last row per key explicitly
        _, last = np.unique(slot[::-1], return_index=True)
        keep = len(slot) - 1 - last
        lut[slot[keep]] = rgba[keep]
    sx, sy = _slots(x_index, keys_x), _slots(y_index, keys_y)
    pix = np.where((sy >= 0)[:, None] & (sx >= 0)[None, :],
                   sy[:, None] * len(keys_x) + sx[None, :], -1)
    return encode_rgba_png(lut[pix.ravel()], tile_size, tile_size)
