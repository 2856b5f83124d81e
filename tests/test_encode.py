"""Encoding operators: one-hot contract behavior (unknown/null -> zeros),
deterministic mode ties."""

from __future__ import annotations

from retailfeaturestore_spark.operators.encode import group_mode, onehot_encode


def test_onehot_unknown_and_null_encode_as_zeros(spark):
    df = spark.createDataFrame(
        [(1, "UK"), (2, "Mars"), (3, None)], "id int, country string"
    )
    out = {r.id: (r.country__UK, r.country__FR) for r in
           onehot_encode(df, "country", ["UK", "FR"]).collect()}
    assert out == {1: (1, 0), 2: (0, 0), 3: (0, 0)}


def test_group_mode_tie_lexicographic(spark):
    df = spark.createDataFrame(
        [(1, "B"), (1, "B"), (1, "A"), (1, "A"), (2, "Z")], "k int, v string"
    )
    out = {r.k: r.v_mode for r in group_mode(df, "k", "v").collect()}
    assert out == {1: "A", 2: "Z"}  # tie at 2-2 -> lexicographically smallest
