"""Round-12 optimization (session 3) pins: the SQL-string expression
builders must be value-identical to the Column-API forms they replaced.

The rewrites (ema/holt folds, bloom build/probe, quality features,
shingle/band chains) only change HOW the expression tree is
constructed (one server-side parse instead of hundreds of py4j
round trips) — never WHAT it computes.  These tests pin the equality
on data with the sharp edges (regex metacharacters, multi-space runs,
NULL-producing short docs, negative coordinates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_ema_smooth_string_path_equals_column_path(spark):
    from xcube_spark.operators.temporal import ema_smooth

    rows = [(i, i % 3, float((i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "i long, k long, v double")
    # string path: every order key a SQL fragment
    s = df.select("i", ema_smooth(
        df, "v", "k", ["i"], alpha=0.25, window=16).alias("e"))
    # column path: at least one Column order key
    c = df.select("i", ema_smooth(
        df, "v", "k", [F.col("i")], alpha=0.25, window=16).alias("e"))
    got_s = {r["i"]: r["e"] for r in s.collect()}
    got_c = {r["i"]: r["e"] for r in c.collect()}
    assert got_s == got_c  # bit-identical doubles, not approx


def test_holt_smooth_string_path_equals_column_path(spark):
    from xcube_spark.operators.temporal import holt_smooth

    rows = [(i, i % 2, float(i) + (i % 7) * 0.5) for i in range(200)]
    df = spark.createDataFrame(rows, "i long, k long, v double")
    cols = ("i", "holt_level", "holt_trend", "holt_forecast")
    s = holt_smooth(df, "v", "k", ["i"], window=12).select(*cols)
    c = holt_smooth(df, "v", "k", [F.col("i")], window=12).select(*cols)
    assert sorted(map(tuple, s.collect())) == sorted(map(tuple, c.collect()))


def test_quality_score_sql_escapes(spark):
    """The '\\\\s+' and punctuation-class escapes must reach the regex
    engine unchanged: multi-whitespace runs count as one separator and
    every ASCII punctuation char counts in punct_ratio."""
    from xcube_spark.pipeline.text import quality_score

    docs = spark.createDataFrame(
        [(1, "the  cat\t sat\n on   the mat"),   # multi-space/tab/newline
         (2, "a [b] {c} `d` \\ e ~ f !"),          # punct-class members
         (3, "x")],                                  # sub-5-token short doc
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in quality_score(docs).collect()}
    # 6 whitespace-delimited tokens despite the runs
    assert got[1]["n_tokens"] == 6
    # [, ], {, }, `, `, \, ~, ! = 9 punctuation chars
    assert got[2]["punct_ratio"] * len("a [b] {c} `d` \\ e ~ f !") == \
        pytest.approx(9.0)
    # short-doc gate
    assert got[3]["quality"] == 0.0
    # stopword 'the' hit twice over 6 tokens
    assert got[1]["stopword_ratio_en"] == pytest.approx(2.0 / 6.0)


def test_shingles_positional_fields_join_correctly(spark):
    """SQL-parsed arrays_zip names struct fields by position; the
    concat must still join token k-tuples in window order."""
    from xcube_spark.pipeline.dedup import shingles

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, "p p p")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["shingle"]) for r in shingles(docs, k=3).collect()}
    assert got == {(1, "a b c"), (1, "b c d"), (3, "p p p")}
