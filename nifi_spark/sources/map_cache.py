"""DistributedMapCacheServer / DistributedSetCacheServer wire protocol
— client AND server, over injectable duplex streams or sockets.

NiFi ancestors (nifi-standard-services/nifi-distributed-cache-services-
bundle):
- ProtocolHandshake.java:31-63 — magic ``NiFi`` + int version; server
  answers RESOURCE_OK (20) / DIFFERENT_RESOURCE_VERSION (21) + its
  preferred int / ABORT (255) + UTF message. Both sides speak
  StandardVersionNegotiator(1).
- MapCacheServer.java:52-130 — per-request dispatch: Java
  ``writeUTF(action)`` (2-byte length + modified-UTF-8 bytes) then
  4-byte-length-prefixed key/value operands. Actions: ``put`` /
  ``putIfAbsent`` (→ boolean), ``containsKey`` / ``remove`` (→
  boolean), ``get`` / ``getAndPutIfAbsent`` (→ int length + bytes,
  0 = absent), ``close``.
- SetCacheServer.java:32-76 — one operand; ``addIfAbsent`` /
  ``contains`` / ``remove`` → boolean.
- SimpleMapCache.java / SimpleSetCache.java + EvictionPolicy.java —
  bounded cache with LFU/LRU/FIFO eviction chosen by a comparator
  over (hitCount, entryDate, lastHitDate, id). Wall-clock dates are
  replaced here by one logical tick per touch, which preserves every
  comparator ordering deterministically.
- PersistentMapCache.java:48-55 / PersistentSetCache — a write-ahead
  record per successful CREATE and per eviction/remove DELETE;
  ``restore()`` replays CREATEs through putIfAbsent. The WAL here is
  a length-prefixed append-only file with the same record vocabulary
  (the reference's MinimalLockingWriteAheadLog is framework plumbing).

Spark integration: the cache is control-plane state (one server, many
clients) sized to fit a broadcast — exactly how the reference's
Fetch/PutDistributedMapCache flows use it. ``fetch_into_column`` pulls
the distinct keys of a bounded column through the wire client and
broadcast-joins the values back; ``put_from_rows`` pushes a bounded
key/value projection into the cache. Both collect only the distinct
key set (documented cache-sized contract, same as operators/routing.py
fetch_map_cache)."""

from __future__ import annotations

import os
import struct
import threading

from ..durable import read_exact

MAGIC = b"NiFi"
RESOURCE_OK = 20
DIFFERENT_RESOURCE_VERSION = 21
ABORT = 255
PROTOCOL_VERSION = 1


# ---------------------------------------------------------------- io

def _write_utf(out, s: str) -> None:
    """Java DataOutputStream.writeUTF: 2-byte length + modified UTF-8
    (the action vocabulary is ASCII, where modified == standard)."""
    b = s.encode("utf-8")
    out.write(struct.pack(">H", len(b)) + b)


def _read_utf(inp) -> str:
    (n,) = struct.unpack(">H", read_exact(inp.read, 2))
    return read_exact(inp.read, n).decode("utf-8")


def _write_value(out, value: bytes) -> None:
    out.write(struct.pack(">i", len(value)) + value)


def _read_value(inp) -> bytes:
    (n,) = struct.unpack(">i", read_exact(inp.read, 4))
    return read_exact(inp.read, n)


# ------------------------------------------------------- handshake

def initiate_handshake(inp, out, versions=(PROTOCOL_VERSION,)) -> int:
    """Client side (ProtocolHandshake.initiateHandshake): magic +
    proposed version, recursing down the server's preference."""
    out.write(MAGIC)
    proposal = versions[0]
    while True:
        out.write(struct.pack(">i", proposal))
        out.flush()
        status = read_exact(inp.read, 1)[0]
        if status == RESOURCE_OK:
            return proposal
        if status == DIFFERENT_RESOURCE_VERSION:
            (server_pref,) = struct.unpack(">i", read_exact(inp.read, 4))
            lower = [v for v in versions if v <= server_pref]
            if not lower:
                raise IOError("could not agree on protocol version")
            proposal = max(lower)
            continue
        if status == ABORT:
            raise IOError("server aborted: " + _read_utf(inp))
        raise IOError(f"unexpected handshake status {status}")


def receive_handshake(inp, out, versions=(PROTOCOL_VERSION,)) -> int:
    """Server side (ProtocolHandshake.receiveHandshake)."""
    if read_exact(inp.read, 4) != MAGIC:
        raise IOError("bad magic header")
    while True:
        (version,) = struct.unpack(">i", read_exact(inp.read, 4))
        if version in versions:
            out.write(bytes([RESOURCE_OK]))
            out.flush()
            return version
        lower = [v for v in versions if v <= version]
        if not lower:
            out.write(bytes([ABORT]))
            _write_utf(out, "Unable to negotiate an acceptable version"
                            " of the Distributed Cache Protocol")
            out.flush()
            raise IOError("handshake abort sent")
        out.write(bytes([DIFFERENT_RESOURCE_VERSION])
                  + struct.pack(">i", max(lower)))
        out.flush()


# ------------------------------------------------------ server caches

class _Record:
    __slots__ = ("key", "value", "hit_count", "entry_tick", "hit_tick",
                 "rid")

    def __init__(self, key, value, tick, rid):
        self.key = key
        self.value = value
        self.hit_count = 0
        self.entry_tick = tick
        self.hit_tick = tick
        self.rid = rid


# EvictionPolicy.java comparators: evict() removes the SMALLEST record
# under the policy's ordering (inverseCacheMap.firstKey()).
EVICTION_POLICIES = {
    "LFU": lambda r: (r.hit_count, r.entry_tick, r.rid),
    "LRU": lambda r: (r.hit_tick, r.rid),
    "FIFO": lambda r: (r.entry_tick, r.rid),
}


class SimpleMapCache:
    """SimpleMapCache.java with a deterministic logical clock."""

    def __init__(self, max_size: int = 10_000, eviction: str = "LFU"):
        assert eviction in EVICTION_POLICIES, eviction
        self.max_size = max_size
        self._key = EVICTION_POLICIES[eviction]
        self._map: dict[bytes, _Record] = {}
        self._tick = 0
        self._next_id = 0
        self._lock = threading.Lock()
        self.evicted: list[bytes] = []   # observability for tests

    def _touch(self, rec: _Record) -> None:
        self._tick += 1
        rec.hit_count += 1
        rec.hit_tick = self._tick

    def _evict_if_full(self) -> _Record | None:
        if len(self._map) < self.max_size:
            return None
        victim = min(self._map.values(), key=self._key)
        del self._map[victim.key]
        self.evicted.append(victim.key)
        return victim

    def _new_record(self, key: bytes, value: bytes) -> _Record:
        self._tick += 1
        self._next_id += 1
        return _Record(key, value, self._tick, self._next_id)

    def put_if_absent(self, key: bytes, value: bytes):
        """→ (added, existing_value, evicted_record)."""
        with self._lock:
            rec = self._map.get(key)
            if rec is None:
                evicted = self._evict_if_full()
                self._map[key] = self._new_record(key, value)
                return True, None, evicted
            self._touch(rec)
            return False, rec.value, None

    def put(self, key: bytes, value: bytes):
        with self._lock:
            evicted = None
            if key not in self._map:
                evicted = self._evict_if_full()
            old = self._map.get(key)
            self._map[key] = self._new_record(key, value)
            return old.value if old else None, evicted

    def get(self, key: bytes):
        with self._lock:
            rec = self._map.get(key)
            if rec is None:
                return None
            self._touch(rec)
            return rec.value

    def contains_key(self, key: bytes) -> bool:
        with self._lock:
            rec = self._map.get(key)
            if rec is None:
                return False
            self._touch(rec)
            return True

    def remove(self, key: bytes):
        with self._lock:
            rec = self._map.pop(key, None)
            return rec.value if rec else None

    def __len__(self):
        return len(self._map)


class SimpleSetCache:
    """SimpleSetCache.java via the map cache (value = b'')."""

    def __init__(self, max_size: int = 10_000, eviction: str = "LFU"):
        self._m = SimpleMapCache(max_size, eviction)

    def add_if_absent(self, value: bytes) -> bool:
        added, _old, _ev = self._m.put_if_absent(value, b"")
        return added

    def contains(self, value: bytes) -> bool:
        return self._m.contains_key(value)

    def remove(self, value: bytes) -> bool:
        return self._m.remove(value) is not None

    def __len__(self):
        return len(self._m)


class PersistentMapCache:
    """PersistentMapCache.java over a length-prefixed append log:
    record = op byte (C=create, D=delete) + key + value. restore()
    replays CREATEs through put_if_absent and drops keys whose last
    record is a DELETE (the reference recovers the same way via WALI
    record update types)."""

    def __init__(self, path: str, wrapped: SimpleMapCache):
        self.path = path
        self.wrapped = wrapped
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        self._log = None

    def restore(self) -> int:
        n = 0
        dead: set[bytes] = set()
        records: list[tuple[bytes, bytes, bytes]] = []
        if os.path.exists(self.path):
            with open(self.path, "rb") as f:
                while True:
                    head = f.read(9)
                    if len(head) < 9:
                        break
                    op = head[:1]
                    klen, vlen = struct.unpack(">ii", head[1:])
                    k = f.read(klen)
                    v = f.read(vlen)
                    records.append((op, k, v))
        for op, k, _v in records:
            if op == b"D":
                dead.add(k)
            else:
                dead.discard(k)
        for op, k, v in records:
            if op == b"C" and k not in dead:
                added, _old, _ev = self.wrapped.put_if_absent(k, v)
                n += added
        self._log = open(self.path, "ab")
        return n

    def _append(self, op: bytes, key: bytes, value: bytes) -> None:
        if self._log is None:
            self._log = open(self.path, "ab")
        self._log.write(op + struct.pack(">ii", len(key), len(value))
                        + key + value)
        self._log.flush()

    def put_if_absent(self, key: bytes, value: bytes):
        added, old, evicted = self.wrapped.put_if_absent(key, value)
        if added:
            self._append(b"C", key, value)
            if evicted is not None:
                self._append(b"D", evicted.key, evicted.value)
        return added, old, evicted

    def put(self, key: bytes, value: bytes):
        old, evicted = self.wrapped.put(key, value)
        self._append(b"C", key, value)
        if evicted is not None:
            self._append(b"D", evicted.key, evicted.value)
        return old, evicted

    def remove(self, key: bytes):
        old = self.wrapped.remove(key)
        if old is not None:
            self._append(b"D", key, old)
        return old

    def get(self, key: bytes):
        return self.wrapped.get(key)

    def contains_key(self, key: bytes) -> bool:
        return self.wrapped.contains_key(key)

    def close(self):
        if self._log:
            self._log.close()
            self._log = None


# --------------------------------------------------------- servers

def serve_map_connection(inp, out, cache) -> None:
    """MapCacheServer.listen loop over one connection."""
    receive_handshake(inp, out)
    while True:
        try:
            action = _read_utf(inp)
        except EOFError:
            return
        if action == "close":
            return
        if action == "putIfAbsent":
            key, value = _read_value(inp), _read_value(inp)
            added, _old, _ev = cache.put_if_absent(key, value)
            out.write(b"\x01" if added else b"\x00")
        elif action == "put":
            key, value = _read_value(inp), _read_value(inp)
            cache.put(key, value)
            out.write(b"\x01")
        elif action == "containsKey":
            out.write(b"\x01" if cache.contains_key(_read_value(inp))
                      else b"\x00")
        elif action == "getAndPutIfAbsent":
            key, value = _read_value(inp), _read_value(inp)
            added, old, _ev = cache.put_if_absent(key, value)
            _write_value(out, b"" if added else old)
        elif action == "get":
            existing = cache.get(_read_value(inp))
            _write_value(out, existing if existing is not None else b"")
        elif action == "remove":
            out.write(b"\x01" if cache.remove(_read_value(inp))
                      is not None else b"\x00")
        else:
            raise IOError("Illegal Request")
        out.flush()


def serve_set_connection(inp, out, cache: SimpleSetCache) -> None:
    """SetCacheServer.listen loop over one connection."""
    receive_handshake(inp, out)
    while True:
        try:
            action = _read_utf(inp)
        except EOFError:
            return
        if action == "close":
            return
        value = _read_value(inp)
        if action == "addIfAbsent":
            res = cache.add_if_absent(value)
        elif action == "contains":
            res = cache.contains(value)
        elif action == "remove":
            res = cache.remove(value)
        else:
            raise IOError("IllegalRequest")
        out.write(b"\x01" if res else b"\x00")
        out.flush()


# ---------------------------------------------------------- clients

class MapCacheClient:
    """DistributedMapCacheClientService.java over injectable streams;
    handshakes on construction."""

    def __init__(self, inp, out, versions=(PROTOCOL_VERSION,)):
        self._in, self._out = inp, out
        self.version = initiate_handshake(inp, out, versions)

    def _bool(self) -> bool:
        return read_exact(self._in.read, 1) == b"\x01"

    def put_if_absent(self, key: bytes, value: bytes) -> bool:
        _write_utf(self._out, "putIfAbsent")
        _write_value(self._out, key)
        _write_value(self._out, value)
        self._out.flush()
        return self._bool()

    def put(self, key: bytes, value: bytes) -> None:
        _write_utf(self._out, "put")
        _write_value(self._out, key)
        _write_value(self._out, value)
        self._out.flush()
        if not self._bool():
            raise IOError("expected confirmation of 'put'")

    def contains_key(self, key: bytes) -> bool:
        _write_utf(self._out, "containsKey")
        _write_value(self._out, key)
        self._out.flush()
        return self._bool()

    def get(self, key: bytes) -> bytes | None:
        _write_utf(self._out, "get")
        _write_value(self._out, key)
        self._out.flush()
        v = _read_value(self._in)
        return v if v else None

    def get_and_put_if_absent(self, key: bytes,
                              value: bytes) -> bytes | None:
        _write_utf(self._out, "getAndPutIfAbsent")
        _write_value(self._out, key)
        _write_value(self._out, value)
        self._out.flush()
        v = _read_value(self._in)
        return v if v else None

    def remove(self, key: bytes) -> bool:
        _write_utf(self._out, "remove")
        _write_value(self._out, key)
        self._out.flush()
        return self._bool()

    def close(self) -> None:
        _write_utf(self._out, "close")
        self._out.flush()


class SetCacheClient:
    """DistributedSetCacheClientService.java analog."""

    def __init__(self, inp, out, versions=(PROTOCOL_VERSION,)):
        self._in, self._out = inp, out
        self.version = initiate_handshake(inp, out, versions)

    def _op(self, action: str, value: bytes) -> bool:
        _write_utf(self._out, action)
        _write_value(self._out, value)
        self._out.flush()
        return read_exact(self._in.read, 1) == b"\x01"

    def add_if_absent(self, value: bytes) -> bool:
        return self._op("addIfAbsent", value)

    def contains(self, value: bytes) -> bool:
        return self._op("contains", value)

    def remove(self, value: bytes) -> bool:
        return self._op("remove", value)

    def close(self) -> None:
        _write_utf(self._out, "close")
        self._out.flush()


def cache_loopback(cache, kind: str = "map"):
    """socketpair + daemon server thread; returns (inp, out, join).
    Identical code path over a real TCP socket in production."""
    import socket

    a, b = socket.socketpair()

    class _S:
        def __init__(self, sock):
            self.sock = sock

        def read(self, n):
            return self.sock.recv(n)

        def write(self, data):
            self.sock.sendall(data)

        def flush(self):
            pass

    errs: list[BaseException] = []
    serve = serve_map_connection if kind == "map" else serve_set_connection

    def run():
        try:
            s = _S(b)
            serve(s, s, cache)
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def join(timeout: float = 30.0):
        t.join(timeout)
        a.close()
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("cache server did not finish")

    s = _S(a)
    return s, s, join


# --------------------------------------------- Spark integration

def fetch_into_column(spark, df, client: MapCacheClient, key_col: str,
                      out_col: str = "cached"):
    """FetchDistributedMapCache over the wire: pull the DISTINCT keys
    of `key_col` through the client (bounded, cache-sized contract —
    the reference's cache is a whole-map service), broadcast-join the
    decoded values back. Misses land NULL (the reference routes
    not-found)."""
    from pyspark.sql import functions as F

    keys = [r[0] for r in df.select(key_col).distinct().collect()]
    rows = []
    for k in sorted(keys, key=lambda x: (x is None, x)):
        if k is None:
            continue
        v = client.get(str(k).encode())
        rows.append((k, v.decode() if v is not None else None))
    dim = spark.createDataFrame(
        rows, f"{key_col} string, {out_col} string") if rows else \
        spark.createDataFrame([], f"{key_col} string, {out_col} string")
    return df.join(F.broadcast(dim), key_col, "left")


def put_from_rows(df, client: MapCacheClient, key_col: str,
                  value_col: str) -> int:
    """PutDistributedMapCache: push a bounded key/value projection
    (deduped on key, last value wins in input order is NOT guaranteed
    by the reference either — it processes FlowFiles independently;
    here the projection is collected sorted by key for determinism)."""
    rows = (df.select(key_col, value_col).distinct().collect())
    n = 0
    for r in sorted(rows, key=lambda r: (str(r[0]), str(r[1]))):
        client.put(str(r[0]).encode(), str(r[1]).encode())
        n += 1
    return n
