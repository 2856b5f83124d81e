"""Point-in-time operator edge cases: label horizon boundaries (inclusive
end / exclusive start — jobs/make_training_and_train.py:41-42), as-of equal-ts
semantics, deterministic latest-per-group ties."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import types as T

from retailfeaturestore_spark.operators.pit import (
    asof_join,
    interval_existence_labels,
    latest_per_key,
)

EV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def ts(s):
    return datetime.fromisoformat(s)


def test_latest_per_key_tie_broken_by_id(spark):
    df = spark.createDataFrame(
        [(1, 7, ts("2024-01-01 10:00:00"), 1.0), (2, 7, ts("2024-01-01 10:00:00"), 2.0)],
        EV_SCHEMA,
    )
    out = latest_per_key(df, "user_id", "ts", "event_id").collect()
    assert len(out) == 1 and out[0].event_id == 2  # larger id wins the tie


def test_label_horizon_boundaries(spark):
    """event at exactly t_ref -> excluded (strict >); event at exactly
    t_ref + horizon -> included (<=)."""
    spine = spark.createDataFrame(
        [
            (10, 1, ts("2024-01-01 00:00:00"), 0.0),  # has event AT t_ref only
            (11, 2, ts("2024-01-01 00:00:00"), 0.0),  # event at exactly +7d
            (12, 3, ts("2024-01-01 00:00:00"), 0.0),  # event at +7d +1us
        ],
        EV_SCHEMA,
    )
    events = spark.createDataFrame(
        [
            (20, 1, ts("2024-01-01 00:00:00"), 0.0),
            (21, 2, ts("2024-01-08 00:00:00"), 0.0),
            (22, 3, ts("2024-01-08 00:00:00.000001"), 0.0),
        ],
        EV_SCHEMA,
    )
    out = {
        r.user_id: r.label
        for r in interval_existence_labels(
            spine, events, "user_id", "ts", "ts", 7, "label"
        ).collect()
    }
    assert out == {1: 1, 2: 0, 3: 1}


def test_labels_over_one_table_as_spine_and_events(spark):
    """One table as both the spine and the events (churn labels over the
    orders table): a duplicate (key, ts) spine row is deduped and is not an
    event for its twin, an event at exactly t+30d counts (inclusive), a
    singleton churns, and an event past the horizon does not count."""
    rows = [
        (1, 7, ts("2024-01-01 00:00:00"), 0.0),
        (2, 7, ts("2024-01-01 00:00:00"), 0.0),   # duplicate ts: deduped, not an event
        (3, 7, ts("2024-01-31 00:00:00"), 0.0),   # exactly t+30d: inclusive
        (4, 8, ts("2024-01-01 00:00:00"), 0.0),   # singleton: churn=1
        (5, 9, ts("2024-01-01 00:00:00"), 0.0),
        (6, 9, ts("2024-02-15 00:00:00"), 0.0),   # past horizon: churn=1 for row 5
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = interval_existence_labels(
        df, df, key="user_id", spine_ts="ts", event_ts="ts",
        horizon_days=30, label_col="churn",
    ).collect()
    assert len(out) == 5  # the duplicate (7, 2024-01-01) spine row is deduped
    assert {(r.user_id, r.t_ref): r.churn for r in out} == {
        (7, ts("2024-01-01 00:00:00")): 0,  # event at t+30d counts
        (7, ts("2024-01-31 00:00:00")): 1,
        (8, ts("2024-01-01 00:00:00")): 1,
        (9, ts("2024-01-01 00:00:00")): 1,  # next event 45 days later
        (9, ts("2024-02-15 00:00:00")): 1,
    }


def test_asof_join_equal_ts_included_and_tiebreak(spark):
    spine = spark.createDataFrame([(30, 1, ts("2024-01-02 00:00:00"), 0.0)], EV_SCHEMA)
    lookup = spark.createDataFrame(
        [
            (40, 1, ts("2024-01-02 00:00:00"), 5.0),  # same ts as spine: counts
            (41, 1, ts("2024-01-02 00:00:00"), 9.0),  # same ts, larger id: wins
            (39, 1, ts("2024-01-01 00:00:00"), 1.0),
        ],
        EV_SCHEMA,
    )
    out = asof_join(
        spine, lookup, "user_id", "ts", "ts", ["value"], "event_id"
    ).collect()[0]
    assert out.asof_value == 9.0


def test_asof_join_no_prior_lookup_is_null(spark):
    spine = spark.createDataFrame([(30, 1, ts("2024-01-01 00:00:00"), 0.0)], EV_SCHEMA)
    lookup = spark.createDataFrame([(40, 1, ts("2024-06-01 00:00:00"), 5.0)], EV_SCHEMA)
    out = asof_join(
        spine, lookup, "user_id", "ts", "ts", ["value"], "event_id"
    ).collect()[0]
    assert out.asof_value is None


def test_bucketed_range_join_boundaries_and_match_once(spark):
    """Each (point, interval) match appears exactly once regardless of how
    many buckets the interval spans; every `closed` convention puts the
    boundary points on the documented side."""
    from datetime import datetime

    from retailfeaturestore_spark.operators.rangejoin import bucketed_range_join

    ts = datetime.fromisoformat
    points = spark.createDataFrame(
        [
            (1, "p_start", ts("2024-01-10 00:00:00")),
            (1, "p_mid", ts("2024-01-20 00:00:00")),
            (1, "p_end", ts("2024-02-09 00:00:00")),
            (1, "p_out", ts("2024-02-09 00:00:01")),
            (2, "p_other_key", ts("2024-01-20 00:00:00")),
        ],
        "k int, name string, pt timestamp",
    )
    # one 30-day interval -> spans 5+ weekly buckets
    intervals = spark.createDataFrame(
        [(1, ts("2024-01-10 00:00:00"), ts("2024-02-09 00:00:00"))],
        "k int, lo timestamp, hi timestamp",
    )

    def names(closed):
        out = bucketed_range_join(
            points, intervals, key="k", point_ts="pt",
            start_ts="lo", end_ts="hi", closed=closed,
        )
        return sorted(r.name for r in out.collect())

    assert names("right") == ["p_end", "p_mid"]
    assert names("both") == ["p_end", "p_mid", "p_start"]
    assert names("left") == ["p_mid", "p_start"]
    assert names("neither") == ["p_mid"]
    # match-once: the mid point lies inside a multi-bucket interval yet
    # appears exactly once (its own bucket), so no dedup pass is needed
    out = bucketed_range_join(
        points, intervals, key="k", point_ts="pt",
        start_ts="lo", end_ts="hi", closed="both",
    )
    assert out.where("name = 'p_mid'").count() == 1
