"""Incremental consumption of an mtable CHANGE FEED — streaming a table.

The Delta-streaming-source shape, built Spark-first: a micro-batch is one
``MTable.read_changes(v0, v1)`` call (a JVM-side parquet scan of exactly
the commits' changed files — data never moves through Python), and the
consumer's offset is simply the table VERSION processed through.  This is
the ``Trigger.AvailableNow`` pattern: :meth:`ChangeFeedConsumer.run_available`
drains every committed-but-unprocessed version, ``MAX_VERSIONS_PER_BATCH``
commits per batch, and stops; a scheduler (cron, Airflow, a driver loop)
re-invokes it to tail the table.  At 100 TB cadence each invocation plans the day's
changed files, never the table — the consumption loop that replaces the
reference's full gold rebuild (jobs/build_feature_views.py).

Delivery semantics: the version checkpoint is AT-LEAST-ONCE.  A crash
between ``process()`` returning and the checkpoint write replays that one
version batch on restart, which suits idempotent or semilattice consumers
(overwrite-by-key sinks, the near-dup admission keyed by batch id).  The
checkpoint file is swapped atomically (temp + ``os.replace``).  Single
consumer per checkpoint dir, like every state-dir protocol in this package.
"""

from __future__ import annotations

import os
import uuid

from ..sources.mtable import NoSuchVersion

__all__ = ["ChangeFeedConsumer"]

# commits one process() call sees: one commit per batch keeps each sink
# commit, and the replay after a crash, to a single source commit
MAX_VERSIONS_PER_BATCH = 1


class ChangeFeedConsumer:
    """Versioned cursor over an :class:`~..sources.mtable.MTable`'s change
    feed, ``MAX_VERSIONS_PER_BATCH`` commits per ``process()`` call."""

    def __init__(self, tbl, checkpoint_dir: str):
        self.tbl = tbl
        self.checkpoint_dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)

    @property
    def _ckpt(self) -> str:
        return os.path.join(self.checkpoint_dir, "processed_through")

    def processed_through(self) -> int:
        """Highest version durably processed (0 before the first batch)."""
        try:
            with open(self._ckpt, encoding="utf-8") as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _write_ckpt(self, v: int) -> None:
        tmp = f"{self._ckpt}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(v))
        os.replace(tmp, self._ckpt)

    def run_available(self, process) -> list[tuple[int, int]]:
        """Drain every unprocessed commit: repeatedly feed ``process(df,
        v_from, v_to)`` the next version batch until the cursor reaches
        the latest version AT ENTRY of each iteration (a writer racing
        ahead extends the drain — run_available returns only when it
        observes no remaining work).  Returns the ``(v_from, v_to]``
        ranges processed.  A batch whose commits changed no files still
        advances the cursor (process is not called with an empty feed)."""
        done: list[tuple[int, int]] = []
        v0 = self.processed_through()
        while True:
            cur = self.tbl._latest()
            if cur is None or cur[0] <= v0:
                return done
            v1 = min(cur[0], v0 + MAX_VERSIONS_PER_BATCH)
            try:
                feed = self.tbl.read_changes(v0, v1)
            except NoSuchVersion as e:
                # vacuum outran this consumer: the cursor's base manifest is
                # gone, so the delta between "what the sink has" and "what
                # the table holds" is no longer computable.  Deciding what
                # to do is the OPERATOR's call (a silent full-snapshot
                # re-feed would double every row in a non-idempotent sink),
                # so fail with the remedy spelled out.
                raise NoSuchVersion(
                    f"consumer cursor {v0} predates {self.tbl.path}'s "
                    "retained history (vacuum outran this consumer). "
                    "Either raise vacuum keep_versions above the consumer "
                    "lag, or re-bootstrap: reset the cursor to 0 against a "
                    "FRESH sink (the v0 feed replays the full snapshot as "
                    "inserts)."
                ) from e
            if feed is not None:
                process(feed, v0, v1)
            self._write_ckpt(v1)
            done.append((v0, v1))
            v0 = v1
