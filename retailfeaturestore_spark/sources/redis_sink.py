"""Online-store sink: Redis hash materialization, one pipeline per partition.

Parity with ``jobs/materialize_online.py`` (SURVEY.md §2.1 S5):
- key ``fs:customer:{id}`` (``:52``), one hash per entity;
- all feature values stringified floats (``:35``), one-hot ``country__*``
  re-derived from the frozen category contract (``:27-29``);
- ``meta:t_ref`` / ``meta:country`` / ``meta:updated_at`` ISO strings
  (``:39-41``);
- pipelined writes, optional TTL via env ``REDIS_TTL_SECONDS`` (``:55-56``).

Spark-first shape: the DataFrame (already reduced to latest-per-entity by
``pit.latest_per_key``) is published partition by partition in one job —
each executor opens ONE connection and pipelines its partition; the driver
never sees the rows.  At 1000 executors this is the only sink shape that
works: per-row connections or a driver-side collect() both melt down.

The ``redis`` client library is not installed in this environment, so the
connection factory is import-gated; tests inject ``DictRedis`` (an in-memory
fake with the same pipeline surface) to verify the exact field contract.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame

__all__ = ["DictRedis", "materialize_online", "redis_client_factory"]

KEY_PREFIX = "fs:customer:"


class DictRedis:
    """In-memory stand-in implementing the subset of the redis-py surface the
    sink and the serving reader use (pipeline / hset mapping / expire /
    execute / hgetall / scan_iter)."""

    def __init__(self, store: dict | None = None):
        self.store: dict[str, dict[str, str]] = store if store is not None else {}
        self.ttls: dict[str, int] = {}

    def pipeline(self):
        return self

    def hset(self, key: str, mapping: dict[str, str]):
        self.store.setdefault(key, {}).update(mapping)

    def expire(self, key: str, ttl: int):
        self.ttls[key] = ttl

    def execute(self):
        return None

    def ping(self) -> bool:
        return True

    def hgetall(self, key: str) -> dict[str, str]:
        return dict(self.store.get(key, {}))

    def scan_iter(self, match: str = "*"):
        import fnmatch

        yield from (k for k in self.store if fnmatch.fnmatch(k, match))


def redis_client_factory(url: str | None = None) -> Callable[[], object]:
    """Real client factory (import-gated: redis-py is absent here)."""
    def _connect():
        try:
            import redis  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise RuntimeError(
                "redis-py not installed; pass client_factory=DictRedis for "
                "local testing"
            ) from e
        return redis.Redis.from_url(url or os.environ.get("REDIS_URL", "redis://localhost:6379/0"))

    return _connect


def _row_fields(
    row, feature_cols: list[str], onehot_categories: list[str], ts_col: str, cat_col: str | None
) -> dict[str, str]:
    """The reference's field map: stringified floats + one-hots + meta:*
    (jobs/materialize_online.py:23-42)."""
    fields: dict[str, str] = {}
    for c in feature_cols:
        v = row[c]
        fields[c] = str(float(v)) if v is not None else "0.0"
    cat_val = row[cat_col] if cat_col else None
    for cat in onehot_categories:
        fields[f"{cat_col}__{cat}"] = "1" if cat_val == cat else "0"
    t_ref = row[ts_col]
    fields["meta:t_ref"] = t_ref.isoformat() if t_ref is not None else ""
    if cat_col is not None:
        fields["meta:country"] = str(cat_val) if cat_val is not None else ""
    fields["meta:updated_at"] = datetime.now(timezone.utc).isoformat()
    return fields


def materialize_online(
    snapshots: DataFrame,
    feature_cols: list[str],
    entity_col: str = "customer_id",
    ts_col: str = "t_ref",
    cat_col: str | None = "country",
    onehot_categories: list[str] | None = None,
    client_factory: Callable[[], object] | None = None,
    pipeline_batch: int = 500,
) -> int:
    """Publish latest-per-entity snapshots to the online hash store.

    One connection + pipeline per partition; flush every ``pipeline_batch``
    HSETs (the reference pipelines the whole snapshot at once — fine for 6k
    customers, not for 600M).  Every key gets the TTL ``REDIS_TTL_SECONDS``
    names, when it is set.  Returns the number of hashes written, summed
    over the partitions by the publishing job itself.
    """
    cats = onehot_categories or []
    ttl = int(os.environ["REDIS_TTL_SECONDS"]) if os.environ.get("REDIS_TTL_SECONDS") else None
    factory = client_factory or redis_client_factory()
    cols = [entity_col, ts_col] + ([cat_col] if cat_col else []) + feature_cols

    def sink(rows):
        yield publish_rows(
            rows, factory, feature_cols, cats,
            ts_col=ts_col, cat_col=cat_col, entity_col=entity_col,
            ttl=ttl, pipeline_batch=pipeline_batch,
        )

    return snapshots.select(*cols).rdd.mapPartitions(sink).sum()


def publish_rows(
    rows,
    factory: Callable[[], object],
    feature_cols: list[str],
    onehot_categories: list[str],
    ts_col: str = "t_ref",
    cat_col: str | None = "country",
    entity_col: str = "customer_id",
    ttl: int | None = None,
    pipeline_batch: int = 500,
) -> int:
    """One partition's publish: connect, pipeline, flush per batch.
    Returns the number of hashes written.

    Module-level (not a closure) so the real-deps test leg can drive the
    EXACT production call sequence against a faithful redis client
    (fakeredis) in-process — partition publishes run in Python worker
    subprocesses where an in-memory fake's writes are invisible to the
    asserting test."""
    client = factory()
    pipe = client.pipeline()
    n = 0
    for row in rows:
        key = f"{KEY_PREFIX}{row[entity_col]}"
        pipe.hset(
            key,
            mapping=_row_fields(row, feature_cols, onehot_categories, ts_col, cat_col),
        )
        if ttl:
            pipe.expire(key, ttl)
        n += 1
        if n % pipeline_batch == 0:
            pipe.execute()
    pipe.execute()
    return n
