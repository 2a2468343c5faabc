"""Round-12 advisor fixes:

1. cdc_chunk_spans filters empty elements from F.split(text, "") — the
   pre-SPARK-40194 trailing "" would create a phantom position len+1
   (guard now matches char_entropy's convention).
2. hampel_filter rejects even / non-positive windows (the exact-element
   median contract only holds for odd windows); rolling_zscore and
   holt_smooth reject window < 1.
"""
import pytest
from pyspark.sql import Row


def test_cdc_chunk_spans_covers_full_doc(spark):
    from xcube_spark.pipeline.dedup import cdc_chunk_spans

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abcdefghij" * 20),
         Row(doc_id=2, text="x")])
    spans = cdc_chunk_spans(docs, hash_window=4, divisor=8).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_no"])
        # chunks tile the document exactly: start at 1, contiguous,
        # end at len — a phantom len+1 position would break this
        assert rows[0]["chunk_start"] == 1
        for prev, cur in zip(rows, rows[1:]):
            assert cur["chunk_start"] == prev["chunk_end"] + 1
    assert by_doc[2][-1]["chunk_end"] == 1
    assert by_doc[1][-1]["chunk_end"] == 200


def test_hampel_filter_rejects_even_window(spark):
    from xcube_spark.operators.temporal import hampel_filter

    df = spark.createDataFrame([Row(k=1, ts=1, v=1.0)])
    with pytest.raises(ValueError, match="ODD"):
        hampel_filter(df, "v", "k", ["ts"], window=4)
    with pytest.raises(ValueError, match="ODD"):
        hampel_filter(df, "v", "k", ["ts"], window=0)


def test_rolling_window_validation(spark):
    from xcube_spark.operators.temporal import holt_smooth, rolling_zscore

    df = spark.createDataFrame([Row(k=1, ts=1, v=1.0)])
    with pytest.raises(ValueError, match=">= 1"):
        rolling_zscore(df, "v", "k", ["ts"], window=0)
    with pytest.raises(ValueError, match=">= 1"):
        holt_smooth(df, "v", "k", ["ts"], window=0)
