"""TPC-H-shaped relational queries (queries/relational.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_q18_filters_raw_sum_not_rounded(spark, tmp_path):
    """A per-order quantity sum of 150.004 (> 150 raw, == 150.00
    rounded) must pass the filter, mirroring the oracle's
    HAVING SUM(l_quantity) > 150."""
    from xcube_spark.queries.relational import q18_large_orders

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, 150.004), (2, 149.0)],
        "l_orderkey long, l_quantity double",
    ).write.parquet(sf + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, 10, "1997-01-01", 1000.0), (2, 20, "1997-01-02", 2000.0)],
        "o_orderkey long, o_custkey long, o_orderdate string, "
        "o_totalprice double",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")) \
        .write.parquet(sf + "/orders.parquet")
    spark.createDataFrame(
        [(10, "alice"), (20, "bob")], "c_custkey long, c_name string"
    ).write.parquet(sf + "/customer.parquet")

    rows = q18_large_orders(spark, sf).collect()
    assert [(r.o_orderkey, r.total_qty) for r in rows] == [(1, 150.0)]
