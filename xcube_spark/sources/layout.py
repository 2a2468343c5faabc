"""Physical cube layout — SURVEY §4 custom work item 1.

``write_cube_layout`` materializes a cells table the way a 100 TB cube
must be stored for pruning to match Zarr-chunk selectivity:

- **partition by coarse time** (``t_part = t_i div k``): time-range
  predicates prune whole directories before listing;
- **range-repartition + sort by (y_i, x_i)** within each time
  partition: every parquet file covers a narrow y-band (and is sorted
  by x within it), so bbox predicates skip files and row groups via
  footer min/max stats — the parquet analog of spatial z-ordering (a
  true Morton key adds little for band-shaped scans and costs a bit
  shuffle; the y-band layout is what the reference's chunking gives).

At read time ``open_cube_layout`` restores the plain cells frame; the
pruning is Catalyst's job (tests/test_plans.py pins PartitionFilters +
PushedFilters; tests/test_sources.py checks the footer stats really
are narrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid


def z_order_key(x: "F.Column", y: "F.Column") -> "F.Column":
    """Morton (Z-order) interleave of two 16-bit cell indices into one
    32-bit sort key — pure integer Column arithmetic (codegen'd), the
    standard magic-number bit spread.

    Sorting by this key clusters spatially-near cells in the SAME
    parquet files/row groups in BOTH axes, so square-ish bbox
    predicates prune via footer min/max stats in x AND y.  The y-band
    layout (default) is better for full-width scans; Z-order wins for
    compact windows — ``write_cube_layout(layout="zorder")`` picks it.
    """

    def spread(v):
        v = v.cast("long")
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def write_cube_layout(
    cube: DataFrame,
    path: str,
    grid: CubeGrid,
    time_partition_size: int | None = None,
    files_per_partition: int = 8,
    mode: str = "error",
    layout: str = "bands",
) -> None:
    """Write ``cube`` with a pruning-friendly layout.

    ``time_partition_size`` defaults to the grid's time chunk;
    ``files_per_partition`` controls the file count per time
    partition — size it so a file is ~100-500 MB at the target scale.
    ``layout``: "bands" (default — narrow y-bands sorted by x; best
    for full-width scans) or "zorder" (Morton-interleaved sort; best
    for square-ish bbox windows, see :func:`z_order_key`)."""
    if layout not in ("bands", "zorder"):
        raise ValueError(f"layout must be bands|zorder, got {layout!r}")
    k = time_partition_size or grid.chunks[0]
    # repartitionByRange takes the TOTAL file count: one range split
    # per time partition x files_per_partition
    n_files = max(1, files_per_partition) * -(-grid.time_periods // k)
    keyed = cube.withColumn(
        "t_part", (F.col("t_i") / F.lit(k)).cast("int")
    )
    if layout == "zorder":
        zkey = z_order_key(F.col("x_i"), F.col("y_i"))
        arranged = (
            keyed.withColumn("__z", zkey)
            .repartitionByRange(n_files, "t_part", F.col("__z"))
            .sortWithinPartitions("t_part", "__z")
            .drop("__z")
        )
    else:
        arranged = (
            keyed.repartitionByRange(n_files, "t_part", F.col("y_i"))
            .sortWithinPartitions("t_part", "y_i", "x_i")
        )
    arranged.write.mode(mode).partitionBy("t_part").parquet(path)


def open_cube_layout(spark: SparkSession, path: str) -> DataFrame:
    """Open a laid-out cube; drops the physical partition column."""
    return spark.read.parquet(path).drop("t_part")


def write_bucketed_table(
    df,
    table: str,
    bucket_col: str = "doc_id",
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a BUCKETED managed table — the layout
    that elides the shuffle on every subsequent equi-join or
    aggregation keyed by ``bucket_col``.

    This is the storage contract behind the incremental-pipeline
    claims (dedup state merges, doc_id joins in the curation chain):
    two tables bucketed the same way join with ZERO exchanges — at
    100 TB that's the difference between re-shuffling the corpus per
    batch and a bucket-local merge.  Spark's bucketing is hash(col) %
    n_buckets recorded in the catalog; pick n_buckets ~ cluster cores
    x small constant and keep it STABLE across writes (a mismatch
    forces a shuffle back in).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)
