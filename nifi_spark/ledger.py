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
(sum of xxhash64(repo,path,lsn) mod 2^61-1): partial sums are computed
distributed and folded in Python, so `CdcPipeline` gets them from its
one aggregate over the slice. It plays the role of TailFile's CRC32
position check.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, functions as F

from .durable import atomic_write

_MOD = (1 << 61) - 1


class KVState:
    """Generic atomic JSON key→dict state, one `{key}.json` file per key
    (the StateManager analog: @Stateful UpdateAttribute counters,
    GetHTTP ETag/Last-Modified, listing timestamps, stream watermarks),
    committed by `durable.atomic_write`."""

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

    def clear(self, key: str) -> None:
        try:
            os.remove(self._path(key))
        except FileNotFoundError:
            pass


class OffsetLedger(KVState):
    """Per-stream LSN watermarks; a stream never committed reads as
    nothing applied (`last_applied_lsn` -1)."""

    def get(self, stream: str) -> dict:
        return super().get(stream, {
            "stream": stream, "last_applied_lsn": -1, "batch_id": -1,
            "committed_at": None, "checksum": None, "table_version": -1})

    def commit(self, stream: str, last_applied_lsn: int, batch_id: int,
               checksum: str | None, table_version: int) -> dict:
        return self.put(stream, {
            "stream": stream, "last_applied_lsn": int(last_applied_lsn),
            "batch_id": int(batch_id), "committed_at": time.time(),
            "checksum": checksum, "table_version": int(table_version)})


def checksum_term() -> Column:
    """One row's term of the slice checksum: xxhash64(repo, path, lsn)
    mod 2^61-1, as a decimal so that sums of it never overflow."""
    return (F.pmod(F.xxhash64("repo", "path", "lsn"), F.lit(_MOD))
            .cast("decimal(38,0)"))


def fold_checksum(partials) -> str:
    """The slice checksum from partial sums of `checksum_term` over
    disjoint parts of the slice (None for a part with no rows)."""
    return format(sum(int(p or 0) for p in partials) % _MOD, "016x")


def slice_checksum(events: DataFrame) -> str:
    """Order-independent checksum of the slice's (repo, path, lsn) set."""
    return fold_checksum([events.agg(F.sum(checksum_term())).collect()[0][0]])
