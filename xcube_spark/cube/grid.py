"""Cube grid schema — the reified (time, y, x) index space.

Re-expresses the reference's ``CubeSchema`` (xcube/core/schema.py:14-199)
and the *regular* ``GridMapping`` family (xcube/core/gridmapping/base.py:42,
gridmapping/regular.py:24) for the cells-table model: instead of lazily
chunked nd-arrays, a cube is a long DataFrame with one row per
``(t_i, y_i, x_i)`` cell; the grid object holds the affine index<->coord
math as *pure Column expressions* so Catalyst can fold/push them.

Conventions mirrored from the reference:
- x/y axes are equidistant (verify.py:78-104); time monotonic increasing
  (verify.py:227-238).
- cell centers:  x = x_start + (x_i + 0.5) * x_res  (new.py:119-120)
- bounds are contiguous half-open intervals (new.py:163-205).
- an ``inverse_y`` flag models decreasing-latitude grids (new.py:124-125).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def sql_double(v: float) -> str:
    """A finite float as an SQL literal with an exponent (``0.5E0``),
    which Spark and DuckDB both read as DOUBLE (a bare ``0.5`` is
    DECIMAL in both)."""
    r = repr(float(v)).upper()
    return r if "E" in r else r + "E0"


#: canonical cells-table dimension columns, in reference dim order
#: (time, ..., y, x) — verify.py:131-141
DIM_COLS = ("t_i", "y_i", "x_i")
COORD_COLS = ("time", "y", "x")


@dataclass(frozen=True)
class CubeGrid:
    """Regular (time, y, x) grid: sizes + affine coordinate mapping.

    Equivalent of xcube's CubeSchema + regular GridMapping.  All
    coordinate math is exposed as Column expressions — no driver-side
    iteration, no UDFs — so index computation stays inside
    whole-stage codegen and folds into parquet pushdown predicates.
    """

    width: int = 360
    height: int = 180
    time_periods: int = 5
    x_start: float = -180.0
    y_start: float = -90.0
    x_res: float = field(default=1.0)
    y_res: float = field(default=1.0)
    t_start: datetime = field(default_factory=lambda: datetime(2010, 1, 1))
    t_freq_days: float = 1.0
    inverse_y: bool = False
    crs: str = "EPSG:4326"
    # chunking: unit of parallelism/IO, mirrors Zarr chunks (cubespec.md:175)
    chunks: tuple[int, int, int] = (1, 90, 90)  # (time, y, x)

    # ---- derived scalars ------------------------------------------------

    @property
    def x_end(self) -> float:
        return self.x_start + self.width * self.x_res

    @property
    def y_end(self) -> float:
        return self.y_start + self.height * self.y_res

    @property
    def size(self) -> int:
        return self.width * self.height * self.time_periods

    def t_center(self, t_i: int) -> datetime:
        """Python-side period center: start + (i + 0.5) * freq (new.py:150-156)."""
        return self.t_start + timedelta(days=self.t_freq_days * (t_i + 0.5))

    # ---- index -> coordinate Column expressions -------------------------

    def x_center_expr(self, x_i: Column) -> Column:
        return F.lit(self.x_start) + (x_i + F.lit(0.5)) * F.lit(self.x_res)

    def y_center_expr(self, y_i: Column) -> Column:
        """Cell-center y; honors inverse (decreasing) y axes (new.py:124-125)."""
        if self.inverse_y:
            return F.lit(self.y_end) - (y_i + F.lit(0.5)) * F.lit(self.y_res)
        return F.lit(self.y_start) + (y_i + F.lit(0.5)) * F.lit(self.y_res)

    def x_center_sql(self, x_i: str = "x_i") -> str:
        """``x_center_expr`` as SQL text that Spark and DuckDB both
        read as the same DOUBLE arithmetic (same literals, same
        association)."""
        return (f"({sql_double(self.x_start)} + (({x_i}) + 0.5E0) "
                f"* {sql_double(self.x_res)})")

    def y_center_sql(self, y_i: str = "y_i") -> str:
        if self.inverse_y:
            return (f"({sql_double(self.y_end)} - (({y_i}) + 0.5E0) "
                    f"* {sql_double(self.y_res)})")
        return (f"({sql_double(self.y_start)} + (({y_i}) + 0.5E0) "
                f"* {sql_double(self.y_res)})")

    def x_index_sql(self, x: str) -> str:
        """``x_index_expr`` as a Spark-SQL fragment (same literals,
        same FLOOR/CASE shape — for string-built plans, r12)."""
        i = (f"CAST(FLOOR((({x}) - {self.x_start!r}D) "
             f"/ {self.x_res!r}D) AS INT)")
        return (f"CASE WHEN ({x}) >= {self.x_start!r}D "
                f"AND ({x}) < {self.x_end!r}D THEN {i} END")

    def y_index_sql(self, y: str) -> str:
        if self.inverse_y:
            i = (f"CAST(FLOOR(({self.y_end!r}D - ({y})) "
                 f"/ {self.y_res!r}D) AS INT)")
        else:
            i = (f"CAST(FLOOR((({y}) - {self.y_start!r}D) "
                 f"/ {self.y_res!r}D) AS INT)")
        return (f"CASE WHEN ({y}) >= {self.y_start!r}D "
                f"AND ({y}) < {self.y_end!r}D THEN {i} END")

    def time_center_expr(self, t_i: Column) -> Column:
        """Period-center timestamp (new.py:150-156), second precision."""
        secs = (t_i.cast("double") + F.lit(0.5)) * F.lit(self.t_freq_days * 86400.0)
        return F.timestamp_seconds(
            F.lit(self.t_start.timestamp()) + secs
        )

    # ---- coordinate -> index Column expressions (extract.py:321 math) ---

    def x_index_expr(self, x: Column) -> Column:
        """x coord -> cell index; out-of-range -> NULL (extract.py:334-338)."""
        i = F.floor((x - F.lit(self.x_start)) / F.lit(self.x_res)).cast("int")
        return F.when((x >= self.x_start) & (x < self.x_end), i)

    def y_index_expr(self, y: Column) -> Column:
        if self.inverse_y:
            i = F.floor((F.lit(self.y_end) - y) / F.lit(self.y_res)).cast("int")
        else:
            i = F.floor((y - F.lit(self.y_start)) / F.lit(self.y_res)).cast("int")
        return F.when((y >= self.y_start) & (y < self.y_end), i)

    def x_index_np(self, x) -> "np.ndarray":
        """``x_index_expr`` over a numpy array, for driver-side index
        maps: the same literals in the same operation order, so the
        IEEE doubles and the indices are identical; out-of-range -> -1."""
        import numpy as np

        x = np.asarray(x, np.float64)
        i = np.floor((x - self.x_start) / self.x_res)
        inside = (x >= self.x_start) & (x < self.x_end)
        return np.where(inside, i, -1).astype(np.int64)

    def y_index_np(self, y) -> "np.ndarray":
        import numpy as np

        y = np.asarray(y, np.float64)
        if self.inverse_y:
            i = np.floor((self.y_end - y) / self.y_res)
        else:
            i = np.floor((y - self.y_start) / self.y_res)
        inside = (y >= self.y_start) & (y < self.y_end)
        return np.where(inside, i, -1).astype(np.int64)

    def t_index_expr(self, t: Column) -> Column:
        days = (t.cast("double") - F.lit(self.t_start.timestamp())) / F.lit(86400.0)
        i = F.floor(days / F.lit(self.t_freq_days)).cast("int")
        return F.when((i >= 0) & (i < self.time_periods), i)

    def chunk_id_expr(self, t_i: Column, y_i: Column, x_i: Column) -> Column:
        """Packed chunk key — partition/pruning unit (SURVEY §1.8)."""
        ct, cy, cx = self.chunks
        ny = (self.height + cy - 1) // cy
        nx = (self.width + cx - 1) // cx
        return (
            F.floor(t_i / ct) * F.lit(ny * nx)
            + F.floor(y_i / cy) * F.lit(nx)
            + F.floor(x_i / cx)
        ).cast("long")

    # ---- axis tables (SURVEY §1.8: broadcast-joined label logic) --------

    def time_axis(self, spark: SparkSession) -> DataFrame:
        """``time_axis(t_i, time, time_lo, time_hi)`` — bounds per new.py:163-205."""
        t_i = F.col("id").cast("int")
        lo = F.timestamp_seconds(
            F.lit(self.t_start.timestamp()) + t_i * F.lit(self.t_freq_days * 86400.0)
        )
        hi = F.timestamp_seconds(
            F.lit(self.t_start.timestamp())
            + (t_i + 1) * F.lit(self.t_freq_days * 86400.0)
        )
        return spark.range(self.time_periods).select(
            t_i.alias("t_i"),
            self.time_center_expr(F.col("id")).alias("time"),
            lo.alias("time_lo"),
            hi.alias("time_hi"),
        )

    def y_axis(self, spark: SparkSession) -> DataFrame:
        y_i = F.col("id").cast("int")
        c = self.y_center_expr(y_i)
        half = F.lit(self.y_res / 2.0)
        return spark.range(self.height).select(
            y_i.alias("y_i"),
            c.alias("y"),
            (c - half).alias("y_lo"),
            (c + half).alias("y_hi"),
        )

    def x_axis(self, spark: SparkSession) -> DataFrame:
        x_i = F.col("id").cast("int")
        c = self.x_center_expr(x_i)
        half = F.lit(self.x_res / 2.0)
        return spark.range(self.width).select(
            x_i.alias("x_i"),
            c.alias("x"),
            (c - half).alias("x_lo"),
            (c + half).alias("x_hi"),
        )

    # ---- derived grids --------------------------------------------------

    def downsampled(self, factor: int) -> "CubeGrid":
        """Grid of a k x k spatially subsampled cube (subsampling.py:17)."""
        return replace(
            self,
            width=(self.width + factor - 1) // factor,
            height=(self.height + factor - 1) // factor,
            x_res=self.x_res * factor,
            y_res=self.y_res * factor,
        )

    def level(self, lvl: int) -> "CubeGrid":
        """Pyramid level grid: each level halves x/y (mldataset/abc.py:19-31)."""
        g = self
        for _ in range(lvl):
            g = g.downsampled(2)
        return g


#: Spark types of the canonical cells-table dimension/coordinate columns
CELLS_DIM_SCHEMA = T.StructType(
    [
        T.StructField("t_i", T.IntegerType(), False),
        T.StructField("y_i", T.IntegerType(), False),
        T.StructField("x_i", T.IntegerType(), False),
        T.StructField("time", T.TimestampType(), False),
        T.StructField("y", T.DoubleType(), False),
        T.StructField("x", T.DoubleType(), False),
    ]
)


def var_names(df: DataFrame) -> list[str]:
    """Data-variable columns of a cells DataFrame (everything that is not
    a dimension/coordinate column) — analog of ``dataset.data_vars``."""
    reserved = set(DIM_COLS) | set(COORD_COLS) | {"chunk_id"}
    return [c for c in df.columns if c not in reserved]
