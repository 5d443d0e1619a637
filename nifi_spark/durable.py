"""Durable writes — the one commit discipline every persisted file uses.

NiFi makes a write visible one way: PutHDFS writes a hidden dot-prefixed
temp file and renames it into place, and the FlowFile repository's WAL
update is the session-commit point (StandardProcessSession.java:361-370).
Here every table manifest, ledger entry, source state file and spool
batch goes through `atomic_write` or `Spool.land`: the bytes land in a
hidden temp file of this writer's own, are fsynced, renamed over the
target, and the directory is fsynced. A crash leaves the old file or the
new one, never a torn one. An `exclusive` write hard-links the temp to
the target instead, which fails if the target exists: a put-if-absent
(the Delta Lake log-entry commit), so of two writers of one table
version the second raises `CommitConflict`.

Temp names are `_`-prefixed. Spark's file index (batch and streaming)
skips `_` and `.` names, so a temp file stranded in a spool directory
by a crash is invisible to `spark.read.parquet(spool_dir)`.

`swap_dir` publishes a whole directory the same way: the old one is
moved aside under a hidden name, the new one renamed in, the old one
deleted last; `recover_dir_swap` finishes a swap a crash cut short.

`read_exact` is the framed-read counterpart for the socket sources: it
turns a short read into the caller's protocol error instead of a torn
frame.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from contextlib import contextmanager

_BATCH = re.compile(r"batch_(\d{8})\.parquet$")
# also sweeps the temp names older spools used (no token, or no `_`)
_STALE = re.compile(r"_?batch_\d{8}\.parquet(\.[0-9a-f]+)?\.tmp$")


class CommitConflict(FileExistsError):
    """An exclusive write found its target there: another writer won."""


def _fsync_dir(d: str) -> None:
    fd = os.open(d or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


@contextmanager
def _staged(path: str, exclusive: bool = False):
    """Yield a binary file for a hidden temp next to `path`, named for
    this writer alone; on clean exit fsync it, rename it over `path`
    (`exclusive`: link it to `path`, raising CommitConflict if `path`
    exists, and remove it) and fsync the directory."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f"_{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        yield f
        f.flush()
        os.fsync(f.fileno())
    if exclusive:
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(f"{path} exists") from None
        finally:
            os.remove(tmp)
    else:
        os.replace(tmp, path)
    _fsync_dir(d)


def atomic_write(path: str, text: str, exclusive: bool = False) -> None:
    """Replace `path` with `text` atomically and durably; `exclusive`
    creates it instead, raising CommitConflict if it exists."""
    with _staged(path, exclusive) as f:
        f.write(text.encode())


def _aside(target: str) -> str:
    d, name = os.path.split(target)
    return os.path.join(d, f"_{name}.old")


def swap_dir(staged: str, target: str) -> None:
    """Replace directory `target` (if any) by the complete directory
    `staged`, in the same parent. At every crash point one of the two
    copies survives under a known name, and `recover_dir_swap` puts the
    right one at `target`."""
    parent, old = os.path.dirname(target), _aside(target)
    if os.path.isdir(target):
        os.rename(target, old)
        _fsync_dir(parent)
    os.rename(staged, target)
    _fsync_dir(parent)
    shutil.rmtree(old, ignore_errors=True)


def recover_dir_swap(staged: str, target: str) -> None:
    """Finish or roll back a `swap_dir(staged, target)` a crash cut
    short; a no-op when none is in flight. Call before rewriting
    `staged`: once the old copy is aside, `staged` was complete, so it
    rolls forward into `target`."""
    old = _aside(target)
    if not os.path.isdir(old):
        return              # any `staged` left is an unfinished write
    if not os.path.isdir(target):
        os.rename(staged if os.path.isdir(staged) else old, target)
        _fsync_dir(os.path.dirname(target))
    shutil.rmtree(old, ignore_errors=True)


class Spool:
    """Append-only directory of immutable `batch_{id:08d}.parquet` files.

    Opening recovers the next batch id from the listing (restarts never
    reuse a name) and removes temp files a crash left behind."""

    def __init__(self, spool_dir: str):
        self.dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        ids = [-1]
        for name in os.listdir(spool_dir):
            if _STALE.match(name):
                os.remove(os.path.join(spool_dir, name))
            elif m := _BATCH.match(name):
                ids.append(int(m.group(1)))
        self.next_id = max(ids) + 1

    def land(self, table) -> int:
        """Write a pyarrow table as the next batch file; returns its id."""
        import pyarrow.parquet as pq
        bid = self.next_id
        with _staged(os.path.join(self.dir, f"batch_{bid:08d}.parquet")) as f:
            pq.write_table(table, f)
        self.next_id = bid + 1
        return bid


def read_exact(read, n: int, err: type[Exception] = EOFError,
               eof_ok: bool = False) -> "bytes | None":
    """Exactly `n` bytes from `read` (a socket or file `read` callable).
    A stream that ends early raises `err`; with `eof_ok`, one that ends
    before the first byte returns None (a clean close between frames)."""
    buf = b""
    while len(buf) < n:
        chunk = read(n - len(buf))
        if not chunk:
            if eof_ok and not buf:
                return None
            raise err(f"stream ended ({len(buf)}/{n} bytes)")
        buf += chunk
    return buf
