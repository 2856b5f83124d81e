"""mtable change data feed (read_changes): file-granularity CDC.

The contract under test is the O(delta) consumption path: per commit the
feed plans exactly the manifests' file-list difference (never the table),
and the netted feed equals the logical row-multiset delta between the two
snapshots — copy-on-write rewrite noise (delete+insert pairs for untouched
rows in rewritten files) must cancel under per-row netting.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable, NoSuchVersion


def _snap(spark, rows):
    return spark.createDataFrame(
        rows, "customer_id long, t_ref string, score double"
    ).withColumn("t_ref", F.col("t_ref").cast("timestamp"))


def _with_date(df):
    return df.withColumn("date", F.date_format("t_ref", "yyyy-MM-dd"))


BASE = [
    (1, "2024-01-01 10:00:00", 1.0),
    (2, "2024-01-01 11:00:00", 2.0),
    (3, "2024-01-02 10:00:00", 3.0),
]

APPEND = [
    (4, "2024-01-03 10:00:00", 4.0),
    (5, "2024-01-03 11:00:00", 5.0),
]

_KEYCOLS = ("customer_id", "score", "date")


def _mk4(spark, tmp_path):
    """v1 full write, v2 append, v3 delete(customer 2), v4 update(3 -> 30)."""
    t = MTable(spark, str(tmp_path / "cdc"))
    assert t.write(_with_date(_snap(spark, BASE)), partition_by="date") == 1
    assert t.write(_with_date(_snap(spark, APPEND)), mode="append") == 2
    assert t.delete(F.col("customer_id") == 2) == 3
    assert t.update(F.col("customer_id") == 3, {"score": F.lit(30.0)}) == 4
    return t


def _netted(feed):
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    return {
        (r.customer_id, r.score, r.date): r.net
        for r in feed.groupBy(*_KEYCOLS)
        .agg(F.sum(sign).alias("net"))
        .where(F.col("net") != 0)
        .collect()
    }


def _multiset(df):
    return {
        (r.customer_id, r.score, r.date): r.n
        for r in df.groupBy(*_KEYCOLS).agg(F.count("*").alias("n")).collect()
    }


def test_netted_feed_equals_snapshot_delta(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    final = _multiset(t.read())
    v1 = _multiset(t.read(version=1))
    want = {}
    for k in set(final) | set(v1):
        d = final.get(k, 0) - v1.get(k, 0)
        if d:
            want[k] = d
    assert _netted(t.read_changes(1)) == want
    # whole feed from zero nets to the final state itself
    assert _netted(t.read_changes(0)) == final


def test_per_commit_fidelity_and_tags(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    feed = t.read_changes(0)
    ev = {
        (r.customer_id, r._change_type, r._commit_version, r._commit_operation)
        for r in feed.collect()
    }
    # customer 2: inserted at v1, delete rewrite at v3
    assert (2, "insert", 1, "overwrite") in ev
    assert (2, "delete", 3, "delete") in ev
    # customer 3: inserted at v1; the v4 update rewrites its file -> the old
    # row leaves as a delete and the new value arrives as an insert, both @4
    assert (3, "insert", 1, "overwrite") in ev
    assert (3, "delete", 4, "update") in ev
    rows = [
        r
        for r in feed.collect()
        if r.customer_id == 3 and r._change_type == "insert"
        and r._commit_version == 4
    ]
    assert len(rows) == 1 and rows[0].score == 30.0
    # appended rows tagged with their commit
    assert (4, "insert", 2, "append") in ev


def test_feed_plans_only_changed_files(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    v1_files = set(t.read(version=1).inputFiles())
    v2_files = set(t.read(version=2).inputFiles())
    feed12 = t.read_changes(1, 2)
    got = set(feed12.inputFiles())
    # the append commit's feed reads exactly the files it added — none of
    # v1's carried files are planned
    assert got == v2_files - v1_files
    assert not (got & v1_files)


def test_empty_and_bad_ranges(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    assert t.read_changes(4, 4) is None
    with pytest.raises(ValueError):
        t.read_changes(3, 2)
    with pytest.raises(NoSuchVersion):
        t.read_changes(0, 99)


def test_vacuum_past_range_raises_but_retained_range_works(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    t.vacuum(keep_versions=2, min_age_ms=0)
    with pytest.raises(NoSuchVersion):
        t.read_changes(0)  # v1/v2 manifests are gone
    # the retained window still serves the feed, including the removed-file
    # side (files live at v3 are protected by the retained v3 manifest)
    net = _netted(t.read_changes(3, 4))
    assert net == {(3, 3.0, "2024-01-02"): -1, (3, 30.0, "2024-01-02"): 1}


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_every_version_pair_nets_to_the_snapshot_delta(spark, tmp_path):
    """The feed's algebraic contract, exhaustively: over a mixed op
    sequence (write, append, delete, update, compact, restore), EVERY
    ``(v_from, v_to)`` pair's netted feed equals the snapshot multiset
    delta — including ranges that span compaction churn and a restore."""
    t = MTable(spark, str(tmp_path / "alg"), checkpoint_interval=3)
    t.write(_with_date(_snap(spark, BASE)), partition_by="date")         # v1
    t.write(_with_date(_snap(spark, APPEND)), mode="append")             # v2
    t.delete(F.col("customer_id") == 2)                                  # v3
    t.update(F.col("customer_id") == 3, {"score": F.lit(30.0)})          # v4
    t.compact()                                                          # v5
    t.restore(2)                                                         # v6
    last = t.write(
        _with_date(_snap(spark, [(8, "2024-01-04 10:00:00", 8.0)])),
        mode="append",
    )
    # compact() may legitimately no-op (every partition already one file),
    # so derive the chain length instead of assuming it
    assert last >= 6
    snaps = {0: {}}
    for v in range(1, last + 1):
        snaps[v] = _multiset(t.read(version=v))
    for v_from in range(0, last):
        for v_to in range(v_from + 1, last + 1):
            feed = t.read_changes(v_from, v_to)
            got = {} if feed is None else _netted(feed)
            want = {}
            for k in set(snaps[v_to]) | set(snaps[v_from]):
                d = snaps[v_to].get(k, 0) - snaps[v_from].get(k, 0)
                if d:
                    want[k] = d
            assert got == want, (v_from, v_to)


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_long_commit_chain_across_checkpoint_boundaries(spark, tmp_path):
    """12 commits with checkpoint_interval=3: the walk crosses multiple
    FULL-manifest boundaries (whole-map diffs) interleaved with delta
    manifests (touched-entry diffs) — per-commit tags and netting must be
    oblivious to the manifest FORM, and vacuum's checkpoint materialization
    must not disturb the retained-range feed."""
    t = MTable(spark, str(tmp_path / "chain"), checkpoint_interval=3)
    rows = [(i, f"2024-01-{(i % 3) + 1:02d} 10:00:00", float(i)) for i in range(12)]
    t.write(_with_date(_snap(spark, rows[:1])), partition_by="date")
    for i in range(1, 12):
        t.write(_with_date(_snap(spark, [rows[i]])), mode="append")
    feed = t.read_changes(0)
    ev = {
        (r.customer_id, r._change_type, r._commit_version)
        for r in feed.collect()
    }
    assert ev == {(i, "insert", i + 1) for i in range(12)}
    assert _netted(feed) == _multiset(t.read())
    # a mid-chain slice also resolves exactly
    mid = t.read_changes(4, 9)
    assert {r.customer_id for r in mid.collect()} == set(range(4, 9))
    # vacuum to the newest 5: the retained slice still feeds, below raises
    t.vacuum(keep_versions=5, min_age_ms=0)
    assert {
        r.customer_id for r in t.read_changes(8, 12).collect()
    } == set(range(8, 12))
    with pytest.raises(NoSuchVersion):
        t.read_changes(4, 9)


def test_skip_compactions_drops_churn_but_keeps_netting_exact(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "cmp"))
    t.write(_with_date(_snap(spark, BASE)), partition_by="date")
    t.write(_with_date(_snap(spark, APPEND)), mode="append")
    assert t.compact() == 3  # multi-file partitions collapse; rows unchanged
    # the DML-after-compaction case from the docstring: a delete rewrites a
    # COMPACTED file whose insert events were skipped — netting must still
    # equal the logical delta because the compacted file's values equal the
    # values the feed did emit
    t.delete(F.col("customer_id") == 1)

    full = t.read_changes(0)
    lean = t.read_changes(0, skip_compactions=True)
    # the compaction commit contributes events only to the full feed
    assert [r for r in full.collect() if r._commit_version == 3]
    assert not [r for r in lean.collect() if r._commit_version == 3]
    final = _multiset(t.read())
    assert _netted(full) == final
    assert _netted(lean) == final
    # the omitted churn (compaction's delete+insert pairs) never ships
    assert full.count() > lean.count()


def test_retype_via_overwrite_casts_old_events_to_endpoint_type(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "rt"))
    t.write(
        spark.createDataFrame([(1, 10), (2, 20)], "customer_id long, score int")
    )
    # full overwrite is the sanctioned retype path: score int -> double
    t.write(
        spark.createDataFrame(
            [(1, 10.5), (3, 30.0)], "customer_id long, score double"
        )
    )
    feed = t.read_changes(0)
    assert dict(feed.dtypes)["score"] == "double"
    # v1's int events surface as doubles; netting is still exact
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    net = {
        (r.customer_id, r.score): r.net
        for r in feed.groupBy("customer_id", "score")
        .agg(F.sum(sign).alias("net"))
        .where(F.col("net") != 0)
        .collect()
    }
    # v1's (1,10)/(2,20) surface as 10.0/20.0 on BOTH the insert@1 and
    # delete@2 sides, so they cancel exactly; the overwrite's new rows are
    # the whole net — the cast is what makes that cancellation well-typed
    assert net == {(1, 10.5): 1, (3, 30.0): 1}


def test_describe_is_manifest_only(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "desc"))
    t.write(
        _with_date(_snap(spark, BASE)),
        partition_by="date",
        stats_cols=["score"],
    )
    t.write(_with_date(_snap(spark, APPEND)), mode="append")
    d = t.describe()
    assert d["version"] == 2 and d["operation"] == "append"
    assert d["partition_by"] == "date" and d["n_partitions"] == 3
    assert d["stats_cols"] == ["score"]
    assert d["schema"]["score"] == "double"
    # exact row count from the stats scan's per-file rowcounts — no data read
    assert d["n_rows"] == 5
    assert t.describe(version=1)["n_rows"] == 3
    # a stats-less table degrades to None, never a wrong number
    t2 = MTable(spark, str(tmp_path / "nostats"))
    t2.write(_with_date(_snap(spark, BASE)), partition_by="date")
    assert t2.describe()["n_rows"] is None


def test_schema_evolution_null_fills_old_events(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "evo"))
    t.write(_with_date(_snap(spark, BASE)), partition_by="date")
    evolved = _with_date(_snap(spark, APPEND)).withColumn(
        "src", F.lit("late")
    )
    t.write(evolved, mode="append", allow_evolution=True)
    feed = t.read_changes(0)
    by_cust = {r.customer_id: r.src for r in feed.collect()}
    assert by_cust[1] is None and by_cust[4] == "late"
    assert "src" in feed.columns
