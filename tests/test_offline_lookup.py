"""Serving lookups against independent oracles: the indexed offline as-of
lookup against a pandas mask over the gold files, a refresh after each kind
of gold change against a cold load, a reload racing the lookups, and the
online ``meta:t_ref`` decode against ``pd.to_datetime``."""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import threading
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from retailfeaturestore_spark.serving import feature_service
from retailfeaturestore_spark.serving.feature_service import (
    FallbackFeatureService,
    OfflineFeatureService,
    OnlineFeatureService,
)
from retailfeaturestore_spark.sources.redis_sink import DictRedis

DAY0 = pd.Timestamp("2011-01-01")


def oracle(files: list[Path], entity_id, as_of) -> dict | None:
    """Latest row with ``t_ref <= as_of``; among rows tied on the latest
    ``t_ref``, the last one in file order."""
    df = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
    g = df[df["customer_id"] == entity_id]
    if as_of is not None:
        g = g[g["t_ref"] <= pd.Timestamp(as_of)]
    if g.empty:
        return None
    return g[g["t_ref"] == g["t_ref"].max()].iloc[-1].to_dict()


def same(got: dict | None, want: dict | None) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if list(got) != list(want):
        return False
    for k, w in want.items():
        g = got[k]
        if type(g) is not type(w):
            return False
        if isinstance(w, float) and math.isnan(w):
            if not math.isnan(g):
                return False
        elif g != w:
            return False
    return True


def write_gold(root: Path, df: pd.DataFrame, n_files: int) -> list[Path]:
    files = []
    for i, rows in enumerate(np.array_split(np.arange(len(df)), n_files)):
        d = root / f"date=2011-01-{i + 1:02d}"
        d.mkdir(parents=True)
        files.append(d / "part-0.parquet")
        df.iloc[rows].to_parquet(files[-1], index=False)
    return files


rows = st.lists(
    st.tuples(
        st.integers(1, 4),                              # few ids: many rows each
        st.integers(0, 5),                              # few days: duplicate keys
        st.one_of(st.just(float("nan")), st.floats(-10, 10, allow_nan=False)),
        st.sampled_from(["UK", "FR", None]),
    ),
    min_size=1,
    max_size=30,
)
as_ofs = st.one_of(
    st.none(),
    st.integers(-2, 7).map(lambda d: DAY0 + pd.Timedelta(days=d)),        # before/at/after
    st.integers(-1, 8 * 24).map(lambda h: DAY0 + pd.Timedelta(hours=h)),  # between
)


@settings(max_examples=60, deadline=None)
@given(rows=rows, n_files=st.integers(1, 3),
       queries=st.lists(st.tuples(st.integers(0, 5), as_ofs), min_size=1, max_size=12))
def test_indexed_lookup_equals_the_mask_oracle(rows, n_files, queries):
    df = pd.DataFrame(
        {
            "customer_id": [r[0] for r in rows],
            "t_ref": [DAY0 + pd.Timedelta(days=r[1]) for r in rows],
            "spend_30d": [r[2] for r in rows],
            "country": [r[3] for r in rows],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        files = write_gold(Path(d), df, min(n_files, len(df)))
        svc = OfflineFeatureService(d)
        for entity_id, as_of in queries:  # ids 0 and 5 are never in gold
            got, want = svc.get_snapshot(entity_id, as_of), oracle(files, entity_id, as_of)
            assert same(got, want), (entity_id, as_of, got, want)


def gold_version(root: Path, version: int) -> list[Path]:
    """Two gold snapshots whose row positions differ: version 1 adds rows
    for every customer, so a lookup pairing one version's index with the
    other's frame answers a row that neither oracle gives."""
    rng = np.random.default_rng(version)
    n = 40 + 25 * version
    df = pd.DataFrame(
        {
            "customer_id": rng.integers(1, 9, n),
            "t_ref": DAY0 + pd.to_timedelta(rng.integers(0, 20, n), unit="D"),
            "spend_30d": rng.random(n) + version,
            "country": rng.choice(["UK", "FR"], n),
        }
    )
    return write_gold(root, df, 3)


def test_reload_while_requests_are_running(tmp_path):
    files = [gold_version(tmp_path / f"v{v}", v) for v in (0, 1)]
    queries = [(c, a) for c in range(0, 10)
               for a in (None, DAY0 + pd.Timedelta(days=4), DAY0 + pd.Timedelta(days=12))]
    want = [{q: oracle(files[v], *q) for q in queries} for v in (0, 1)]
    svc = OfflineFeatureService(str(tmp_path / "v0"))
    svc.refresh()
    stop = threading.Event()
    reloads = []

    def reload_loop():
        v = 0
        while not stop.is_set():
            v = 1 - v
            svc.gold_dir = str(tmp_path / f"v{v}")
            reloads.append(svc.refresh())

    th = threading.Thread(target=reload_loop)
    th.start()
    bad, n = [], 0
    try:
        deadline = time.monotonic() + 1.5
        while time.monotonic() < deadline or len(reloads) < 10:
            for q in queries:
                got = svc.get_snapshot(*q)
                n += 1
                if not (same(got, want[0][q]) or same(got, want[1][q])):
                    bad.append((q, got))
    finally:
        stop.set()
        th.join(timeout=60)
    assert not th.is_alive()
    assert bad == [] and n > 0
    assert set(reloads) == {40, 65}


QUERIES = [(c, a) for c in range(0, 10)
           for a in (None, DAY0, DAY0 + pd.Timedelta(days=4), DAY0 + pd.Timedelta(days=12))]


def answers(svc: OfflineFeatureService) -> list[dict | None]:
    return [svc.get_snapshot(*q) for q in QUERIES]


def count_file_reads(monkeypatch) -> list:
    reads = []
    real = feature_service.pq.ParquetFile

    def counted(path, *args, **kwargs):
        reads.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(feature_service.pq, "ParquetFile", counted)
    return reads


def test_refresh_without_a_file_change_reads_no_file(tmp_path, monkeypatch):
    gold_version(tmp_path, 1)
    reads = count_file_reads(monkeypatch)
    svc = OfflineFeatureService(str(tmp_path))
    assert svc.refresh() == 65 and len(reads) == 3
    before = answers(svc)
    assert svc.refresh() == 65 and svc.row_count() == 65
    assert len(reads) == 3
    assert all(same(g, w) for g, w in zip(answers(svc), before))


def add_partition(root: Path) -> None:
    gold_version(root / "new", 2)
    shutil.move(root / "new" / "date=2011-01-01", root / "date=2011-01-09")
    shutil.rmtree(root / "new")


def delete_partition(root: Path) -> None:
    shutil.rmtree(root / "date=2011-01-02")


def replace_under_new_name(root: Path) -> None:
    """As a Spark dynamic overwrite does: the new file has the job's name."""
    part = root / "date=2011-01-02"
    pd.read_parquet(part / "part-0.parquet").assign(spend_30d=-1.0).to_parquet(
        part / "part-00000-3f9c.c000.parquet", index=False)
    os.remove(part / "part-0.parquet")


def rewrite_in_place(root: Path) -> None:
    """Same path and inode, other content; the fingerprint sees the size."""
    f = root / "date=2011-01-02" / "part-0.parquet"
    st = f.stat()
    df = pd.read_parquet(f)
    pd.concat([df, df.assign(spend_30d=-1.0)], ignore_index=True).to_parquet(f, index=False)
    assert f.stat().st_ino == st.st_ino and f.stat().st_size != st.st_size


@pytest.mark.parametrize("change", [add_partition, delete_partition,
                                    replace_under_new_name, rewrite_in_place])
def test_refresh_after_a_change_equals_a_cold_load(tmp_path, change):
    gold_version(tmp_path, 1)
    svc = OfflineFeatureService(str(tmp_path))
    before = answers(svc)
    change(tmp_path)
    cold = OfflineFeatureService(str(tmp_path))
    assert svc.refresh() == cold.row_count()
    got, want = answers(svc), answers(cold)
    assert all(same(g, w) for g, w in zip(got, want)), change.__name__
    assert not all(same(g, b) for g, b in zip(got, before)), "the change moved no answer"


def test_failed_load_keeps_the_snapshot_and_the_next_refresh_retries(tmp_path):
    gold_version(tmp_path, 1)
    svc = OfflineFeatureService(str(tmp_path))
    before = answers(svc)
    bad = tmp_path / "date=2011-01-09" / "part-0.parquet"
    bad.parent.mkdir()
    bad.write_bytes(b"not a parquet file")
    for _ in range(2):  # a failed load is not remembered as loaded
        with pytest.raises(pa.ArrowInvalid):
            svc.refresh()
        assert svc.row_count() == 65
        assert all(same(g, w) for g, w in zip(answers(svc), before))
    gold_version(tmp_path / "new", 2)
    shutil.copy(tmp_path / "new" / "date=2011-01-01" / "part-0.parquet", bad)
    shutil.rmtree(tmp_path / "new")
    cold = OfflineFeatureService(str(tmp_path))
    assert svc.refresh() == cold.row_count() > 65
    assert all(same(g, w) for g, w in zip(answers(svc), answers(cold)))


def old_decode(v):
    ts = pd.to_datetime(v, utc=True, errors="coerce")
    return None if pd.isna(ts) else ts.tz_localize(None)


def test_online_t_ref_decode_matches_pandas():
    client = DictRedis()
    values = ["2011-02-10T10:00:00", "2011-02-10T10:00:00+01:00",
              "2011-02-10T10:00:00.250000+00:00", "", "garbage"]
    for i, v in enumerate(values):
        client.hset(f"fs:customer:{i}", {"spend_30d": "1.0", "meta:t_ref": v,
                                         "meta:country": "UK"})
    svc = FallbackFeatureService(OnlineFeatureService(client), offline=None)
    for i, v in enumerate(values):
        got, want = svc.get_snapshot(i)["t_ref"], old_decode(v)
        if want is None:
            assert got is None, v
        else:
            assert type(got) is pd.Timestamp and got == want and str(got) == str(want), v
    assert svc.get_snapshot(1)["t_ref"] == pd.Timestamp("2011-02-10 09:00:00")
