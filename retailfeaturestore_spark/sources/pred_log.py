"""Prediction audit log: append-only, date-partitioned parquet.

Parity with ``serving/pred_logger.py:33-61`` (SURVEY.md §2.1 S4): one row per
prediction with ISO UTC timestamps, latency, threshold/probability/decision,
model artifact name, and the flattened ``feat__*`` vector; files land under
``date=YYYY-MM-DD/`` with collision-free ``part-HHMMSS-<uuid8>.parquet``
names like the reference (``serving/pred_logger.py:53``).

The writer, ``log_prediction``, is the serving-path append (pyarrow, no
Spark session — a point write must not pay job-launch latency).  Rows are
buffered per log directory and written one parquet file per batch, because
even an uncompressed one-row ``write_table`` costs more than the rest of a
request.  A batch holds one UTC day and one column set; it is written at
``FLUSH_ROWS`` rows, at the first append after it has been open
``FLUSH_SECONDS``, when a row of another day or column set arrives, on
``flush_predictions()`` and at interpreter exit.  The returned path names
the file the row will land in; it exists once that batch is flushed.  A
crash loses at most ``FLUSH_ROWS - 1`` rows (one open batch per log
directory).
"""

from __future__ import annotations

import atexit
import functools
import sys
import threading
import time
import uuid
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["FLUSH_ROWS", "FLUSH_SECONDS", "flush_predictions", "log_prediction"]

FLUSH_ROWS = 256
FLUSH_SECONDS = 1.0


class _Appender:
    """The open batch of one log directory, guarded by a lock (sync
    handlers run on a thread pool).  The batch is open while it has rows."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self.lock = threading.Lock()
        self.rows: list[dict] = []
        self.key: tuple | None = None  # (day, feature names) of the open batch
        self.path = ""
        self.opened = 0.0

    def append(self, row: dict, key: tuple, now: datetime) -> str:
        with self.lock:
            if self.rows and (key != self.key
                              or time.monotonic() - self.opened >= FLUSH_SECONDS):
                self._flush()
            if not self.rows:
                day_dir = Path(self.base_dir) / f"date={key[0]}"
                day_dir.mkdir(parents=True, exist_ok=True)
                fname = f"part-{now.strftime('%H%M%S')}-{uuid.uuid4().hex[:8]}.parquet"
                self.path, self.key, self.opened = str(day_dir / fname), key, time.monotonic()
            self.rows.append(row)
            path = self.path
            if len(self.rows) >= FLUSH_ROWS:
                self._flush()
            return path

    def flush(self) -> None:
        with self.lock:
            self._flush()

    def _flush(self) -> None:
        """Write and close the open batch; a failed write drops the batch
        (its rows are counted in the message) and raises."""
        rows, self.rows = self.rows, []
        if not rows:
            return
        try:
            pq.write_table(pa.Table.from_pylist(rows), self.path)
        except Exception as e:
            raise OSError(f"dropped {len(rows)} prediction rows for {self.path}: {e}") from e


_APPENDERS: dict[str, _Appender] = {}
_APPENDERS_LOCK = threading.Lock()


def _appender(base_dir: str) -> _Appender:
    a = _APPENDERS.get(base_dir)
    if a is None:
        with _APPENDERS_LOCK:
            a = _APPENDERS.setdefault(base_dir, _Appender(base_dir))
    return a


@functools.lru_cache(maxsize=64)
def _feature_columns(names: tuple[str, ...]) -> tuple[str, ...]:
    """The ``feat__*`` column names of one feature contract, built once."""
    return tuple(f"feat__{name}" for name in names)


def log_prediction(
    base_dir: str,
    customer_id: int,
    probability: float,
    threshold: float,
    latency_ms: float,
    model_artifact: str,
    t_ref: datetime | None = None,
    features: dict[str, float] | None = None,
) -> str:
    """Buffered serving append; returns the path of the file the row lands
    in when its batch is flushed.  Raises if the batch's directory cannot be
    made or a flush this append triggers fails."""
    now = datetime.now(timezone.utc)
    row = {
        "ts_served": now.isoformat(),
        "latency_ms": float(latency_ms),
        "customer_id": int(customer_id),
        "t_ref": t_ref.isoformat() if t_ref is not None else None,
        "threshold": float(threshold),
        "probability": float(probability),
        "prediction": int(probability >= threshold),
        "model_artifact": model_artifact,
    }
    features = features or {}
    names = tuple(features)
    row.update(zip(_feature_columns(names), map(float, features.values())))
    return _appender(base_dir).append(row, (now.date().isoformat(), names), now)


def flush_predictions() -> None:
    """Write every open batch now.  Every log directory is tried; the first
    failure is raised after the others are flushed."""
    error = None
    for a in list(_APPENDERS.values()):
        try:
            a.flush()
        except OSError as e:
            error = error or e
    if error is not None:
        raise error


def _flush_at_exit() -> None:
    """Exit hook: flush what is buffered, never raise, never recreate a
    removed log tree (a batch whose directory is gone is dropped with one
    line on stderr)."""
    for a in list(_APPENDERS.values()):
        try:
            a.flush()
        except OSError as e:
            print(f"pred_log: {e}", file=sys.stderr)


atexit.register(_flush_at_exit)
