"""LogStore commit seam (VERDICT r10 next-round #6): the manifest CAS is a
pluggable put-if-absent, the default Hadoop implementation keeps the
existing semantics, and a substituted conditional-PUT store serializes
two racing writers through the same ConcurrentCommit/retry protocol.
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from retailfeaturestore_spark.sources.mtable import (
    ConcurrentCommit,
    HadoopLogStore,
    LogStore,
    MTable,
)


def _kx(spark, rows):
    return spark.createDataFrame(rows, "k string, x long")


class DictConditionalPutStore(LogStore):
    """In-memory conditional-PUT object store: put_if_absent is atomic
    under a lock, exactly the guarantee S3's If-None-Match:* provides.
    Manifest READS still go to the filesystem, so every successful put
    mirrors to disk — the store is the COMMIT arbiter, the FS is the
    storage plane (the Delta DynamoDB-LogStore split)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._keys: set[str] = set()
        self.puts: list[str] = []

    def put_if_absent(self, spark, path: str, data: bytes) -> bool:
        with self._lock:
            self.puts.append(path)
            if path in self._keys or os.path.exists(path):
                return False
            self._keys.add(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        return True


def test_dict_store_two_racers_serialize(spark, tmp_path):
    path = str(tmp_path / "t")
    store = DictConditionalPutStore()
    t1 = MTable(spark, path, log_store=store)
    t1.write(_kx(spark, [("a", 1)]), partition_by="k")
    # two handles race to commit version 2 on the same base
    t2 = MTable(spark, path, log_store=store)
    t1.merge_upsert(_kx(spark, [("a", 2)]), ["k"])  # wins v2
    with pytest.raises(ConcurrentCommit):
        # loser: staged against v1, CAS on v2 must fail through the store
        t2.overwrite_partitions(
            _kx(spark, [("a", 99)]), partition_values=["a"], base_version=1
        )
    # retry on a fresh base succeeds and lands v3
    t2.overwrite_partitions(_kx(spark, [("a", 99)]), partition_values=["a"])
    t3 = MTable(spark, path, log_store=store)
    assert {(r.k, r.x) for r in t3.read().collect()} == {("a", 99)}
    assert t3.versions() == [1, 2, 3]
    # every commit went through the seam
    assert len([p for p in store.puts if "_manifest" in p]) >= 4


def test_hadoop_store_is_the_default_and_wins_once(spark, tmp_path):
    path = str(tmp_path / "h")
    t = MTable(spark, path)
    assert isinstance(t.log_store, HadoopLogStore)
    t.write(_kx(spark, [("a", 1)]), partition_by="k")
    # direct seam probe: second put of the same manifest path loses
    mp = t._manifest_path(1)
    assert t.log_store.put_if_absent(spark, mp, b"{}") is False
    # and the manifest bytes were NOT clobbered by the losing put
    assert json.loads(open(mp).read())["version"] == 1
