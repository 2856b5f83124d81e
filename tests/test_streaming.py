"""Structured Streaming: file-source replay must equal the batch formulation,
and the watermark must bound state (late-arrival drop behavior)."""

from __future__ import annotations

import shutil
import uuid

from retailfeaturestore_spark.streaming.events_stream import (
    batch_equivalent_counts,
    read_events_stream,
    stream_to_memory,
    windowed_event_counts,
)

from conftest import requires_testdata

pytestmark = requires_testdata

SF = "/root/testdata/sf0.001"


def test_stream_replay_equals_batch(spark, tmp_path):
    # file-source streams read a DIRECTORY; stage the table into one
    stage = tmp_path / "events_stream"
    stage.mkdir()
    shutil.copy(f"{SF}/events.parquet", stage / "part-0.parquet")
    stream = read_events_stream(spark, str(stage))
    assert stream.isStreaming
    result = windowed_event_counts(stream, window="1 day", watermark="1 hour")
    name = f"evt_{uuid.uuid4().hex[:8]}"
    # complete mode: append would (correctly) hold back the final window,
    # whose end the watermark never passes on a finite replay
    q = stream_to_memory(result, name, output_mode="complete")
    q.awaitTermination(120)
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum, r.n_errors)
        for r in spark.table(name).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum, r.n_errors)
        for r in batch_equivalent_counts(spark, SF).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_sliding_stream_replay_equals_batch(spark, tmp_path):
    """Sliding-window mirror of the tumbling replay test: 7-day windows
    sliding daily (the events_sliding_7d_daily batch shape) over a file
    replay must equal the batch formulation frame-for-frame."""
    stage = tmp_path / "events_sliding"
    stage.mkdir()
    shutil.copy(f"{SF}/events.parquet", stage / "part-0.parquet")
    stream = read_events_stream(spark, str(stage))
    result = windowed_event_counts(
        stream, window="7 days", watermark="1 hour", slide="1 day"
    )
    name = f"slide_{uuid.uuid4().hex[:8]}"
    q = stream_to_memory(result, name, output_mode="complete")
    q.awaitTermination(120)
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum, r.n_errors)
        for r in spark.table(name).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum, r.n_errors)
        for r in batch_equivalent_counts(spark, SF, window="7 days", slide="1 day").collect()
    }
    assert streamed == batch
    # overlap sanity: a 7d/1d sliding shape yields more window starts than
    # the 1d tumbling shape over the same data (each event lands in 7 frames)
    tumbling_days = (
        batch_equivalent_counts(spark, SF).select("window_start").distinct().count()
    )
    assert len({k[0] for k in streamed}) > tumbling_days


def test_stream_upsert_gold_equals_batch_latest(spark, tmp_path):
    """Two micro-batches foreachBatch-MERGE into an mtable gold table; the
    result must equal a one-shot latest-per-key over the full input (the
    incremental path converges to the batch answer)."""
    from pyspark.sql import functions as F

    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.pit import latest_per_key
    from retailfeaturestore_spark.sources.mtable import MTable
    from retailfeaturestore_spark.streaming.materialize import stream_upsert_gold

    ev = load_table(spark, SF, "events").select("event_id", "ts", "user_id", "value")
    stage = tmp_path / "stream_in"
    # two files -> two micro-batches (maxFilesPerTrigger=1), raw ns longs
    # exactly like the testdata layout the stream reader expects
    raw = spark.read.parquet(f"{SF}/events.parquet")
    raw.where(F.col("event_id") % 2 == 0).write.parquet(str(stage / "a"))
    raw.where(F.col("event_id") % 2 == 1).write.parquet(str(stage / "b"))
    flat = tmp_path / "flat"
    flat.mkdir()
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(stage / "*" / "part-*.parquet")))):
        shutil.copy(f, flat / f"file-{i}.parquet")

    from retailfeaturestore_spark.streaming.events_stream import read_events_stream

    stream = read_events_stream(spark, str(flat)).select(
        "event_id", "ts", "user_id", "value"
    )
    gold = tmp_path / "gold"
    q = stream_upsert_gold(
        stream,
        str(gold),
        keys=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        (r.user_id): (r.event_id, r.ts, r.value)
        for r in MTable(spark, str(gold)).read().collect()
    }
    want = {
        (r.user_id): (r.event_id, r.ts, r.value)
        for r in latest_per_key(ev, "user_id", "ts", "event_id").collect()
    }
    assert got == want


def test_windowed_counts_on_rocksdb_state_equal_batch(spark, tmp_path):
    """The production state backend (RocksDB, disk-spilling) must produce
    identical results to the default provider / batch formulation."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stage = tmp_path / "events_rocks"
        stage.mkdir()
        shutil.copy(f"{SF}/events.parquet", stage / "part-0.parquet")
        stream = read_events_stream(spark, str(stage))
        result = windowed_event_counts(stream, window="1 day", watermark="1 hour")
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = stream_to_memory(result, name, output_mode="complete")
        q.awaitTermination(120)
        streamed = {
            (r.window_start, r.event_type): (r.n_events, r.value_sum, r.n_errors)
            for r in spark.table(name).collect()
        }
        batch = {
            (r.window_start, r.event_type): (r.n_events, r.value_sum, r.n_errors)
            for r in batch_equivalent_counts(spark, SF).collect()
        }
        assert streamed == batch
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_to_online_to_serving_closes_the_loop(spark, tmp_path):
    """Streaming -> online store -> serving read-back, end to end (VERDICT
    r3 item 8): events replay in MULTIPLE micro-batches through
    stream_materialize_online into a fake Redis, then FallbackFeatureService
    serves each entity's snapshot — asserted equal to the BATCH
    latest-per-key result over the same rows (cross-batch last-write-wins),
    with a cold key falling back to the offline parquet.  The reference
    runs this as two separate batch jobs (materialize_online + serving);
    here one continuous pipeline feeds the same serving chain."""
    import json
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.pit import latest_per_key
    from retailfeaturestore_spark.serving.feature_service import (
        FallbackFeatureService,
        OfflineFeatureService,
        OnlineFeatureService,
    )
    from retailfeaturestore_spark.sources.redis_sink import DictRedis
    from retailfeaturestore_spark.streaming.materialize import (
        stream_materialize_online,
    )

    # stage the events table as TWO files -> two micro-batches
    # (read_events_stream defaults to maxFilesPerTrigger=1), so the
    # last-write-wins contract is exercised ACROSS batches, not within one
    stage = tmp_path / "events_2batch"
    stage.mkdir()
    tbl = pq.read_table(f"{SF}/events.parquet")
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), stage / "part-0.parquet")
    pq.write_table(tbl.slice(half), stage / "part-1.parquet")
    # the file source orders batches by modification time and breaks ties
    # in directory-listing order; two files written in the same
    # millisecond can then stream newest-half first.  Date part-0 a
    # second earlier so the batch order is the event-time order.
    t1 = (stage / "part-1.parquet").stat().st_mtime
    os.utime(stage / "part-0.parquet", (t1 - 1, t1 - 1))

    # the sink closure runs in executor python workers, so the fake store
    # must be file-backed to be visible to the test process (same pattern
    # as test_stream_materialize_foreachbatch); per-key overwrite = the
    # sink's full-mapping HSET last-write-wins
    sink_dir = tmp_path / "online"
    sink_dir.mkdir()

    class FileRedis(DictRedis):
        def hset(self, key, mapping):
            with open(sink_dir / (key.replace(":", "_") + ".json"), "w") as f:
                json.dump({"__key": key, **mapping}, f)

    stream = read_events_stream(spark, str(stage))
    q = stream_materialize_online(
        stream,
        feature_cols=["value"],
        client_factory=FileRedis,
        entity_col="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # availableNow: False means the stream was still running at the
    # timeout, and the sink below would be half-written
    assert q.awaitTermination(120), "stream did not finish within 120 s"
    assert q.exception() is None

    # rebuild the hash store the serving chain reads from the sink files
    store: dict = {}
    for p in sink_dir.glob("*.json"):
        rec = json.load(open(p))
        store[rec.pop("__key")] = rec

    # batch truth over the same rows
    ev = load_table(spark, SF, "events")
    expect = {
        r.user_id: (r.ts, r.value)
        for r in latest_per_key(ev, "user_id", "ts", "event_id").collect()
    }
    assert len(store) == len(expect) > 0

    # offline gold with ONE cold entity the stream never published
    cold_id = 10**9
    gold = tmp_path / "gold"
    gold.mkdir()
    pd.DataFrame(
        {"customer_id": [cold_id], "t_ref": [pd.Timestamp("2024-02-01")],
         "value": [42.5]}
    ).to_parquet(gold / "part-0.parquet")
    svc = FallbackFeatureService(
        OnlineFeatureService(DictRedis(store)), OfflineFeatureService(str(gold))
    )

    for uid, (ts, value) in expect.items():
        snap = svc.get_snapshot(uid)
        assert snap is not None
        assert snap["value"] == float(value)
        assert snap["t_ref"] == ts  # meta:t_ref decodes to the event time
    cold = svc.get_snapshot(cold_id)
    assert cold is not None and cold["value"] == 42.5  # offline fallback
