"""Keyed table diff: added/removed/changed classification with null-safe
keys and column comparison."""

from __future__ import annotations


def test_table_diff_added_removed_changed(spark):
    from retailfeaturestore_spark.operators.incremental import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "id long, name string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c2", None), (4, "d", 41.0), (5, "e", 50.0)],
        "id long, name string, v double",
    )
    got = {r["id"]: (r["change"], list(r["changed_cols"]))
           for r in table_diff(old, new, ["id"]).collect()}
    assert got == {
        1: ("removed", []),
        3: ("changed", ["name"]),       # null v on both sides: null-safe equal
        4: ("changed", ["v"]),
        5: ("added", []),
    }
    # unchanged key 2 emits nothing (asserted by the exact dict above)


def test_table_diff_multi_key_and_null_transitions(spark):
    from retailfeaturestore_spark.operators.incremental import table_diff

    old = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", None)], "a long, b string, v double"
    )
    new = spark.createDataFrame(
        [(1, "x", None), (1, "y", None)], "a long, b string, v double"
    )
    got = {(r["a"], r["b"]): (r["change"], list(r["changed_cols"]))
           for r in table_diff(old, new, ["a", "b"]).collect()}
    assert got == {(1, "x"): ("changed", ["v"])}  # value -> null IS a change


def test_table_diff_matches_bruteforce_on_random_tables(spark):
    """Differential vs a dict-based diff over randomized (seeded) tables:
    every key classified identically, changed column sets identical."""
    import random

    rng = random.Random(20260814)
    for _ in range(3):
        def mk(n):
            return [
                (
                    rng.randrange(12),
                    rng.choice(["a", "b", None]),
                    rng.choice([None, 1.0, 2.5]),
                )
                for _ in range(n)
            ]

        # unique keys per table (diff semantics are keyed)
        old_rows = {r[0]: r for r in mk(10)}
        new_rows = {r[0]: r for r in mk(10)}
        from retailfeaturestore_spark.operators.incremental import table_diff

        old = spark.createDataFrame(list(old_rows.values()), "id long, s string, v double")
        new = spark.createDataFrame(list(new_rows.values()), "id long, s string, v double")
        got = {r["id"]: (r["change"], list(r["changed_cols"]))
               for r in table_diff(old, new, ["id"]).collect()}

        want = {}
        for k in set(old_rows) | set(new_rows):
            if k not in old_rows:
                want[k] = ("added", [])
            elif k not in new_rows:
                want[k] = ("removed", [])
            else:
                cols = [c for c, i in (("s", 1), ("v", 2))
                        if old_rows[k][i] != new_rows[k][i]]
                if cols:
                    want[k] = ("changed", cols)
        assert got == want


def test_table_diff_null_keys_and_empty_compare(spark):
    """NULL key components match null-safely (no phantom removed+added),
    and compare_cols=[] classifies added/removed only."""
    from retailfeaturestore_spark.operators.incremental import table_diff

    old = spark.createDataFrame([(None, "a"), (1, "b")], "id long, s string")
    new = spark.createDataFrame([(None, "a2"), (2, "c")], "id long, s string")
    got = {r["id"]: r["change"] for r in table_diff(old, new, ["id"]).collect()}
    assert got == {None: "changed", 1: "removed", 2: "added"}
    only_keys = {r["id"]: r["change"]
                 for r in table_diff(old, new, ["id"], compare_cols=[]).collect()}
    assert only_keys == {1: "removed", 2: "added"}
