"""``functions.pairs.ordered_pairs`` on a tiny frame: each unordered pair
of an array's elements once, in array order; short and null arrays emit
nothing."""

from __future__ import annotations

from pyspark.sql import functions as F

from mock_map_reduce_spark.functions.pairs import ordered_pairs


def test_ordered_pairs_edge_arrays(spark):
    df = spark.createDataFrame(
        [(1, []), (2, ["x"]), (3, None), (4, ["a", "b", "c"])],
        "k int, arr array<string>",
    )
    out = ordered_pairs(df, "arr", "a", "b")
    assert out.columns == ["a", "b"]
    assert sorted(tuple(r) for r in out.collect()) == [("a", "b"), ("a", "c"), ("b", "c")]


def test_ordered_pairs_struct_elements(spark):
    df = spark.createDataFrame(
        [([(1, 0.5), (2, 1.5), (3, 2.5)],), ([(9, 0.0)],)],
        "members array<struct<id:int, v:double>>",
    )
    out = ordered_pairs(df, "members", "a", "b").select(
        F.col("a").getField("id").alias("id_a"),
        F.col("b").getField("id").alias("id_b"),
        (F.col("a").getField("v") + F.col("b").getField("v")).alias("v"),
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2, 2.0), (1, 3, 3.0), (2, 3, 4.0)]
