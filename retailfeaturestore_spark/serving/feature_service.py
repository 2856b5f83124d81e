"""Serving-time feature lookup: offline (parquet snapshot) + online (hash store).

Parity with ``serving/feature_service.py`` (SURVEY.md §3.3): Spark is the
wrong tool for per-request point lookups, so serving reads the PUBLISHED
snapshot the Spark jobs materialize — exactly the reference's architecture:

- offline: lazily-cached gold parquet -> per-entity as-of lookup
  (``serving/feature_service.py:19-46``: full-frame cache ``:26-30``,
  ``refresh()`` ``:32-34``, time-travel filter+last ``:36-46``), here
  entity-sorted column arrays searched by binary search.  ``refresh()``
  reloads only when gold's file set changed, by a fingerprint of each
  file's path, inode, size and mtime; the one change it cannot see is a
  same-size in-place rewrite within one ``mtime_ns`` tick on the same
  inode, which Spark's writes (new file names per job) never make;
- online: hash-store point get with typed decode — float-parse with string
  fallback, ``meta:*`` extraction (``serving/feature_service.py:69-89``);
- vector alignment ``row_to_X``: the model-input rule of
  ``ml.artifacts.resolve_feature`` — one-hot re-derivation from the frozen
  contract, leakage-column drop, missing->0, strict column order
  (``serving/feature_service.py:48-59``).

The cache here is pandas-on-parquet (pyarrow), no Spark session in the
serving process; the offline snapshot directory is the gold table
``jobs._gold_writer`` writes (date-partitioned parquet).
"""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..ml.artifacts import resolve_feature

__all__ = [
    "OfflineFeatureService",
    "OnlineFeatureService",
    "FallbackFeatureService",
    "row_to_vector",
]


class _Snapshot(NamedTuple):
    key: tuple          # gold's file set when it was listed, see _list_gold
    ids: np.ndarray     # entity ids, sorted
    ts: np.ndarray      # timestamps as int64 ns, sorted within an entity
    columns: list       # (name, array, is_ts) per column, in gold's order


class OfflineFeatureService:
    """Point-in-time feature lookup over the published gold parquet.

    The snapshot holds gold sorted by ``(customer_id, t_ref)`` as one numpy
    array per column, with the ids and the timestamps (int64 ns) as the
    search keys, so a lookup is two binary searches and one read per column.
    It also holds the fingerprint of the file set it was loaded from, and
    ``refresh()`` reads no file while that fingerprint is unchanged.  All of
    it is swapped in as one tuple: a lookup running during ``refresh()``
    sees the old snapshot or the new one, never a mix."""

    def __init__(self, gold_dir: str):
        self.gold_dir = gold_dir
        self._snapshot: _Snapshot | None = None

    def _list_gold(self) -> tuple[list[Path], tuple]:
        """Gold's parquet files and their fingerprint, the sorted
        ``(path, st_ino, st_size, st_mtime_ns)`` of each.  A Spark write
        names its files after its job, so a rewritten partition shows as
        new paths, and a file rewritten in place shows a new size or mtime.
        The one change it cannot see is a same-size in-place rewrite within
        one ``mtime_ns`` tick on the same inode.  The files are stat'ed
        before they are read, so a snapshot is never older than its
        fingerprint."""
        files = sorted(Path(self.gold_dir).rglob("*.parquet"))
        key = []
        for f in files:
            st = f.stat()
            key.append((str(f), st.st_ino, st.st_size, st.st_mtime_ns))
        return files, tuple(key)

    def _load(self, files: list[Path], key: tuple) -> _Snapshot:
        if not files:
            raise FileNotFoundError(f"no parquet under {self.gold_dir}")
        tables = [pq.ParquetFile(f).read() for f in files]
        df = pa.concat_tables(tables, promote_options="default").to_pandas()
        df = df.sort_values(["customer_id", "t_ref"], kind="stable", ignore_index=True)
        columns = []
        for name, s in df.items():
            # datetimes are kept as int64 ns and boxed per lookup, as
            # ``Series.to_dict`` boxes them; every other column's ``item()``
            # is already the Python value it gives
            is_ts = isinstance(s.dtype, np.dtype) and s.dtype.kind == "M"
            a = s.to_numpy("datetime64[ns]").view("int64") if is_ts else s.to_numpy()
            columns.append((name, a, is_ts))
        ts = df["t_ref"].to_numpy("datetime64[ns]").view("int64")
        return _Snapshot(key, df["customer_id"].to_numpy(), ts, columns)

    def _current(self) -> _Snapshot:
        if self._snapshot is None:
            self._snapshot = self._load(*self._list_gold())
        return self._snapshot

    def refresh(self) -> int:
        """Reload the snapshot cache if gold's files changed; returns the
        row count (``serving/feature_service.py:32-34`` / ``/refresh``
        endpoint parity).  An unchanged fingerprint (see ``_list_gold``)
        returns the current count without reading a file.  A changed one
        builds the new snapshot before it replaces the old one, so a load
        that raises leaves the previous snapshot and its fingerprint
        serving, and the next call tries again."""
        files, key = self._list_gold()
        snap = self._snapshot
        if snap is None or snap.key != key:
            snap = self._snapshot = self._load(files, key)
        return len(snap.ids)

    def row_count(self) -> int:
        return len(self._current().ids)

    def get_snapshot(self, entity_id, as_of=None) -> dict | None:
        """Latest row for the entity with ``ts <= as_of`` (None -> latest),
        as ``Series.to_dict()`` of that gold row would give it: gold's
        column order and Python ``int``/``float``/``str``/``None`` and
        ``pd.Timestamp`` values.  Gold's ``(entity, t_ref)`` keys are not
        unique (one row per bronze line, ROADMAP Direction 5): a tie goes to
        the last of the tied rows in file order, which the stable sort
        keeps."""
        _, ids, ts, columns = self._current()
        lo, hi = ids.searchsorted(entity_id, "left"), ids.searchsorted(entity_id, "right")
        if as_of is not None:
            hi = lo + ts[lo:hi].searchsorted(pd.Timestamp(as_of).value, "right")
        if hi == lo:
            return None
        i = hi - 1
        return {name: pd.Timestamp(a.item(i)) if is_ts else a.item(i)
                for name, a, is_ts in columns}


class OnlineFeatureService:
    """Hash-store point get with the reference's typed decode."""

    def __init__(self, client, key_prefix: str = "fs:customer:"):
        self.client = client
        self.key_prefix = key_prefix

    def get_snapshot(self, entity_id) -> dict | None:
        raw = self.client.hgetall(f"{self.key_prefix}{entity_id}")
        if not raw:
            return None
        out: dict = {}
        for k, v in raw.items():
            k = k.decode() if isinstance(k, bytes) else k
            v = v.decode() if isinstance(v, bytes) else v
            if k.startswith("meta:"):
                out[k] = v
            else:
                try:
                    out[k] = float(v)
                except (TypeError, ValueError):
                    out[k] = v  # string fallback (serving/feature_service.py:83-86)
        return out


class FallbackFeatureService:
    """Online-first lookup with offline fallback — the reference's composed
    ``get_snapshot`` chain (``serving/feature_service.py:69-89``): the hash
    store holds only the LATEST snapshot per entity, so a latest-request
    tries it first; a miss OR a historical ``as_of`` falls through to the
    offline parquet snapshot.  A cold key therefore serves from offline
    instead of surfacing "customer not found"."""

    def __init__(self, online: OnlineFeatureService, offline: OfflineFeatureService):
        self.online = online
        self.offline = offline

    def get_snapshot(self, entity_id, as_of=None) -> dict | None:
        if as_of is None:
            raw = self.online.get_snapshot(entity_id)
            if raw is not None:
                # Decode the sink's meta:* contract to row shape (reference
                # :74-86): meta:t_ref -> timestamp, meta:country -> country.
                out = {"customer_id": entity_id}
                for k, v in raw.items():
                    if k == "meta:t_ref":
                        out["t_ref"] = _decode_ts(v)
                    elif k == "meta:country":
                        out["country"] = v or None
                    elif not k.startswith("meta:"):
                        out[k] = v
                return out
        return self.offline.get_snapshot(entity_id, as_of=as_of)

    def refresh(self) -> int:
        return self.offline.refresh()

    def row_count(self) -> int:
        return self.offline.row_count()


def _decode_ts(v: str) -> pd.Timestamp | None:
    """``meta:t_ref`` ISO string -> naive UTC timestamp; empty or
    unparsable -> None."""
    try:
        ts = datetime.fromisoformat(v)
    except (TypeError, ValueError):
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return pd.Timestamp(ts)


def row_to_vector(row: dict, feature_names: list[str]) -> list[float]:
    """Align a snapshot row to the model's ordered feature contract by the
    model-input rule (``ml.artifacts.resolve_feature``): leakage names and
    unresolvable names -> 0.0, a present column -> its value (null, NaN or
    non-numeric -> 0.0), ``{col}__{value}`` -> the one-hot of ``row[col]``;
    strict contract order (``serving/feature_service.py:48-59``)."""
    vec: list[float] = []
    for name in feature_names:
        col, value = resolve_feature(name, row)
        if col is None:
            vec.append(0.0)
        elif value is not None:
            vec.append(1.0 if row[col] == value else 0.0)
        else:
            try:
                f = float(row[col])
            except (TypeError, ValueError):
                f = 0.0
            vec.append(0.0 if f != f else f)  # NaN -> 0.0
    return vec
