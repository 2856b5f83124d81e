"""Spark 4 streaming Python DataSource: a deterministic synthetic events
stream (``spark.readStream.format("rfs_synthetic_events")``).

It exercises the streaming half of the Spark 4 Python DataSource API
(``SimpleDataSourceStreamReader``: offset management, batch planning,
offset-range replay).  The stream is a pure function of the row index, so:

- every micro-batch is reproducible (CI fixtures, streaming-operator tests,
  demo pipelines that need a live stream without Kafka);
- recovery replay (``readBetweenOffsets``) regenerates EXACTLY the rows of
  the original batch — the determinism contract Spark's exactly-once
  semantics expect from a replayable source;
- two independent runs of the same configuration produce identical data
  (asserted in tests), so downstream streaming operators can be
  differential-tested against batch equivalents.

Scope note (API-inherent): the *simple* stream reader runs driver-side and
ships rows to executors — right for test/demo volumes.  A production-volume
synthetic load generator would implement ``streamReader`` (partition-based,
executor-side) instead; the row function below is already index-pure so the
upgrade is mechanical.

Offsets are ``{"index": <long>}``: the next row index to emit.  Options:
``rowsPerBatch`` (default 1000), ``nUsers`` (default 100), ``stepSeconds``
(default 1, event-time spacing), ``startEpoch`` (default 1704067200 =
2024-01-01 UTC), ``maxRows`` (default unlimited) — once ``maxRows`` is
reached the reader reports no new data, so ``processAllAvailable()``
terminates and the source can drive bounded tests.
"""

from __future__ import annotations

import datetime
import hashlib
from typing import Iterator, Tuple

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

__all__ = ["SyntheticEventsDataSource"]

_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def _row(i: int, n_users: int, step_s: int, start_epoch: int):
    ts = datetime.datetime.fromtimestamp(
        start_epoch + i * step_s, tz=datetime.timezone.utc
    ).replace(tzinfo=None)
    return (
        i,
        ts,
        _h(f"u#{i}") % n_users,
        _EVENT_TYPES[_h(f"t#{i}") % len(_EVENT_TYPES)],
        float(_h(f"v#{i}") % 100000) / 100.0,
    )


class _SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.rows_per_batch = int(options.get("rowsPerBatch", 1000))
        self.n_users = int(options.get("nUsers", 100))
        self.step_s = int(options.get("stepSeconds", 1))
        self.start_epoch = int(options.get("startEpoch", 1704067200))
        self.max_rows = int(options.get("maxRows", -1))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _gen(self, lo: int, hi: int) -> Iterator[Tuple]:
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the batch iterator on planPartitions, and generators
        # are not copyable (list iterators are); batches are bounded by
        # rowsPerBatch and driver-side by Simple-reader design anyway
        return iter(
            [_row(i, self.n_users, self.step_s, self.start_epoch) for i in range(lo, hi)]
        )

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        lo = int(start["index"])
        hi = lo + self.rows_per_batch
        if self.max_rows >= 0:
            hi = min(hi, self.max_rows)
        if hi <= lo:
            # exhausted: same offset back -> "no new data", so bounded
            # tests can processAllAvailable() to completion
            return iter(()), {"index": lo}
        return self._gen(lo, hi), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # recovery replay: regenerate the EXACT rows of the original batch
        return self._gen(int(start["index"]), int(end["index"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the stream is a pure function


class SyntheticEventsDataSource(DataSource):
    """``format("rfs_synthetic_events")`` — deterministic events stream
    with the engine's standard events schema."""

    @classmethod
    def name(cls) -> str:
        return "rfs_synthetic_events"

    def schema(self) -> str:
        return (
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double"
        )

    def simpleStreamReader(self, schema: T.StructType):
        return _SyntheticEventsStreamReader(self.options)
