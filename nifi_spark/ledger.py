"""Offset ledger — checkpointed watermark state for resumable ingest.

NiFi analogs: StateManager CLUSTER-scope state with compare-and-swap
(nifi-api/src/main/java/org/apache/nifi/components/state/StateManager.java:
67-101), TailFile's persisted {filename, position, checksum} recovery state
(standard/TailFile.java:1219-1247, recovery validation :459-527), and
AbstractListProcessor's listing.timestamp watermark (:159-161).

One JSON document per stream, written by `durable.atomic_write` *after*
the table snapshot commit. A crash between the two replays the last batch;
the store's `_last_lsn` LWW merge makes that replay a no-op — end-to-end
exactly-once, strictly stronger than the reference's at-least-once
commit-then-state edge (QueryDatabaseTable.java:313-321).

The checksum is an order-independent aggregate over the applied slice
(sum of xxhash64(repo,path,lsn) mod 2^61) — computed distributed, no
driver-side collect; it plays the role of TailFile's CRC32 position check.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

from .durable import atomic_write

_MOD = (1 << 61) - 1


class OffsetLedger:
    def __init__(self, checkpoint_dir: str):
        self.dir = checkpoint_dir
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, stream: str) -> str:
        return os.path.join(self.dir, f"{stream}.json")

    def get(self, stream: str) -> dict:
        try:
            with open(self._path(stream)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"stream": stream, "last_applied_lsn": -1, "batch_id": -1,
                    "committed_at": None, "checksum": None, "table_version": -1}

    def commit(self, stream: str, last_applied_lsn: int, batch_id: int,
               checksum: str | None, table_version: int) -> dict:
        state = {"stream": stream, "last_applied_lsn": int(last_applied_lsn),
                 "batch_id": int(batch_id), "committed_at": time.time(),
                 "checksum": checksum, "table_version": int(table_version)}
        atomic_write(self._path(stream), json.dumps(state))
        return state

    def clear(self, stream: str) -> None:
        try:
            os.remove(self._path(stream))
        except FileNotFoundError:
            pass


class KVState:
    """Generic atomic JSON key→dict state (the StateManager analog for
    operators whose state isn't an LSN watermark: @Stateful
    UpdateAttribute counters, GetHTTP ETag/Last-Modified, listing
    timestamps). Same `durable.atomic_write` commit as OffsetLedger."""

    def __init__(self, checkpoint_dir: str):
        self.dir = checkpoint_dir
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.dir, f"{key}.json")

    def get(self, key: str, default: dict | None = None) -> dict:
        try:
            with open(self._path(key)) as f:
                return json.load(f)
        except FileNotFoundError:
            return dict(default or {})

    def put(self, key: str, value: dict) -> dict:
        atomic_write(self._path(key), json.dumps(value))
        return value


def slice_checksum(events: DataFrame) -> str:
    """Order-independent checksum of the slice's (repo, path, lsn) set."""
    row = events.agg(
        F.pmod(F.sum(F.pmod(F.xxhash64("repo", "path", "lsn"), F.lit(_MOD))
                     .cast("decimal(38,0)")),
               F.lit(_MOD).cast("decimal(38,0)")).alias("c")).collect()[0]
    return format(int(row["c"] or 0), "016x")
