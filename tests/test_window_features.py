"""Edge-case semantics of the window feature engine (SURVEY.md §5.2.3):
equal-timestamp ties, window-boundary inclusion (closed="both"), cancels-only
customers, guarded denominators, tenure floor semantics."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from retailfeaturestore_spark.operators.window_features import build_customer_features

BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("invoice_date", T.TimestampType()),
        T.StructField("stock_code", T.StringType()),
        T.StructField("is_cancel", T.BooleanType()),
        T.StructField("line_amount", T.DoubleType()),
    ]
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def build(spark, rows):
    df = spark.createDataFrame(rows, BRONZE_SCHEMA)
    return build_customer_features(df, windows={"1d": 1}, carry_cols=("stock_code",))


def snap(df, cols):
    return [
        tuple(r[c] for c in cols)
        for r in df.orderBy("invoice_date", "stock_code").collect()
    ]


def test_equal_timestamp_ties_share_window(spark):
    """SQL range-frame semantics: all rows at the same event time see the
    same window (deliberate divergence from pandas positional rolling —
    SURVEY.md §2.4 tie caveat)."""
    rows = [
        (1, ts("2024-01-01 10:00:00"), "A", False, 10.0),
        (1, ts("2024-01-01 10:00:00"), "B", False, 20.0),
    ]
    out = snap(build(spark, rows), ["txn_count_1d", "spend_1d", "unique_skus_1d"])
    assert out == [(2.0, 30.0, 2.0), (2.0, 30.0, 2.0)]


def test_window_boundary_both_closed(spark):
    """A row exactly `w` before the current row is INSIDE the frame
    (pandas rolling closed="both", jobs/build_feature_views.py:35)."""
    rows = [
        (1, ts("2024-01-01 10:00:00"), "A", False, 1.0),
        (1, ts("2024-01-02 10:00:00"), "B", False, 2.0),  # exactly 1d later
        (1, ts("2024-01-03 10:00:00.000001"), "C", False, 4.0),  # 1d+1us after B
    ]
    out = snap(build(spark, rows), ["txn_count_1d", "spend_1d"])
    assert out[1] == (2.0, 3.0)  # includes the boundary row
    assert out[2] == (1.0, 4.0)  # boundary+1us excluded


def test_cancels_only_customer_guarded_ratios(spark):
    """txn_count 0 -> avg_basket guarded to spend/1; cancel_rate = 1."""
    rows = [(1, ts("2024-01-01 00:00:00"), "A", True, 50.0)]
    out = snap(
        build(spark, rows),
        ["txn_count_1d", "spend_1d", "avg_basket_value_1d", "cancel_rate_1d"],
    )
    assert out == [(0.0, 0.0, 0.0, 1.0)]


def test_tenure_floors_whole_24h_periods(spark):
    """23h59m -> 0 days; 24h exactly -> 1 day (pandas .days floor, NOT
    calendar datediff — SURVEY.md §7.4.6)."""
    rows = [
        (1, ts("2024-01-01 12:00:00"), "A", False, 1.0),
        (1, ts("2024-01-02 11:59:00"), "B", False, 1.0),
        (1, ts("2024-01-02 12:00:00"), "C", False, 1.0),
    ]
    out = snap(build(spark, rows), ["tenure_days"])
    assert [r[0] for r in out] == [0, 0, 1]


def test_one_row_per_input_line_and_contract_cols(spark):
    rows = [
        (1, ts("2024-01-01 00:00:00"), "A", False, 5.0),
        (2, ts("2024-01-05 00:00:00"), "B", False, 7.0),
    ]
    df = build_customer_features(
        spark.createDataFrame(rows, BRONZE_SCHEMA), carry_cols=()
    )
    assert df.count() == 2
    for base in ("txn_count", "spend", "unique_skus", "avg_basket_value", "cancel_rate"):
        for w in ("1d", "7d", "30d"):
            assert f"{base}_{w}" in df.columns
    assert "tenure_days" in df.columns and "t_ref" in df.columns


LABEL_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)


def build_labeled(spark, rows, label_rows, horizon=30):
    df = spark.createDataFrame(rows, BRONZE_SCHEMA)
    lab = spark.createDataFrame(label_rows, LABEL_SCHEMA)
    return build_customer_features(
        df, windows={"1d": 1}, carry_cols=(), label_events=lab,
        label_ts_col="event_ts", label_horizon_days=horizon, label_col="churn",
    )


def test_label_fold_interval_strictly_after_inclusive_upper(spark):
    """churn = 1 iff NO marker event in (t, t + horizon]: a marker at the
    row's exact timestamp does NOT count (strictly after), a marker exactly
    at t + horizon DOES (inclusive upper), one microsecond past does not."""
    rows = [
        (1, ts("2024-01-01 00:00:00"), "A", False, 1.0),  # marker at same ts only -> churn
        (2, ts("2024-01-01 00:00:00"), "A", False, 1.0),  # marker at exactly +30d -> retained
        (3, ts("2024-01-01 00:00:00"), "A", False, 1.0),  # marker 1us past +30d -> churn
    ]
    labels = [
        (1, ts("2024-01-01 00:00:00")),
        (2, ts("2024-01-31 00:00:00")),
        (3, ts("2024-01-31 00:00:00.000001")),
    ]
    out = {r.customer_id: r.churn for r in build_labeled(spark, rows, labels).collect()}
    assert out == {1: 1, 2: 0, 3: 1}


def test_label_fold_markers_invisible_to_features_and_tenure(spark):
    """Marker rows must not leak into W1-W5 or tenure: a customer whose
    orders table has an EARLIER lineitem-less order keeps tenure anchored
    at its first bronze line, counts/sums unchanged, and marker rows
    produce no output rows."""
    rows = [
        (1, ts("2024-02-01 00:00:00"), "A", False, 10.0),
        (1, ts("2024-02-01 06:00:00"), "B", False, 5.0),
    ]
    labels = [
        (1, ts("2024-01-01 00:00:00")),   # lineitem-less order BEFORE first line
        (1, ts("2024-02-01 03:00:00")),   # marker between the two lines
    ]
    out = build_labeled(spark, rows, labels).orderBy("t_ref").collect()
    assert len(out) == 2  # markers emit no rows
    assert [r.tenure_days for r in out] == [0, 0]  # not anchored at Jan 1
    assert [r.txn_count_1d for r in out] == [1.0, 2.0]  # markers add no counts
    assert [r.spend_1d for r in out] == [10.0, 15.0]
    # second line has a marker strictly-after within horizon?  The Feb 1
    # 03:00 marker is after line 1 (00:00) -> line 1 retained; nothing
    # after 06:00 -> line 2 churns.
    assert [r.churn for r in out] == [0, 1]


def test_label_fold_matches_join_formulation(spark):
    """Differential: the folded label equals the general interval label
    over the orders table as both spine and events (interval_existence_labels,
    the form churn_labels_orders certifies against DuckDB) ⊕ J1 join on
    shared (key, ts) grids — the exact plan the fold replaced."""
    import random

    from retailfeaturestore_spark.ml.training import build_training_set
    from retailfeaturestore_spark.operators.pit import interval_existence_labels

    rnd = random.Random(11)
    rows, labels = [], []
    for cid in range(1, 15):
        for _ in range(rnd.randint(1, 6)):
            day = rnd.randint(1, 27)
            t = ts(f"2024-01-{day:02d} 00:00:00")
            rows.append((cid, t, f"S{rnd.randint(1, 4)}", False, 1.0))
            labels.append((cid, t))  # every bronze line's order is an event
        if rnd.random() < 0.5:  # some lineitem-less orders too
            labels.append((cid, ts(f"2024-01-{rnd.randint(1, 27):02d} 12:00:00")))

    folded = build_labeled(spark, rows, labels, horizon=7)
    events = spark.createDataFrame(labels, LABEL_SCHEMA)
    lab = interval_existence_labels(
        events, events, key="customer_id", spine_ts="event_ts", event_ts="event_ts",
        horizon_days=7, label_col="churn",
    )
    feats = build_customer_features(
        spark.createDataFrame(rows, BRONZE_SCHEMA), windows={"1d": 1}, carry_cols=()
    )
    joined = build_training_set(feats, lab.withColumnRenamed("churn", "churn_30d"), [])
    cols = ["customer_id", "t_ref", "txn_count_1d", "tenure_days", "churn"]
    a = sorted(map(tuple, folded.select(cols).collect()))
    b = sorted(map(tuple, joined.withColumnRenamed("churn_30d", "churn").select(cols).collect()))
    assert a == b and len(a) == len(rows)


def test_column_names_with_a_space_and_a_dot(spark):
    """Every caller-supplied column name is quoted in the rendered plan: a
    carried column and the label events' timestamp renamed to names that
    hold a space and a dot give the same rows, with and without the folded
    label."""
    rows = [
        (1, ts("2024-01-01 10:00:00"), "A", False, 10.0),
        (1, ts("2024-01-01 10:00:00"), "B", True, 5.0),
        (1, ts("2024-01-03 09:00:00"), "A", False, 2.5),
        (2, ts("2024-01-02 12:00:00"), "C", False, 7.0),
    ]
    df = spark.createDataFrame(rows, BRONZE_SCHEMA).withColumn(
        "note", F.concat(F.lit("n"), F.col("stock_code"))
    )
    labels = spark.createDataFrame([(1, ts("2024-01-02 00:00:00"))], "customer_id int, ts timestamp")
    names = {"note": "note id.no", "ts": "label ts.at"}
    for kw in ({}, {"label_events": labels, "label_ts_col": "ts"}):
        want = build_customer_features(
            df, windows={"1d": 1, "7d": 7}, carry_cols=("note",), **kw
        )
        if "label_events" in kw:
            kw = {"label_events": labels.withColumnsRenamed(names),
                  "label_ts_col": names["ts"]}
        got = build_customer_features(
            df.withColumnsRenamed(names), windows={"1d": 1, "7d": 7},
            carry_cols=(names["note"],), **kw
        )
        assert got.columns == [names.get(c, c) for c in want.columns]
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        )
