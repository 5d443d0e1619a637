"""ListenLumberjack analog — the Lumberjack v1 (logstash-forwarder /
Beats ancestor) frame codec + acking receiver, draining to spool.

NiFi ancestors: nifi-lumberjack-bundle — frame/LumberjackDecoder.java
(frames ``version '1' | type | payload``: 'W' window size u32, 'D'
data = seq u32 + pair-count u32 + (u32 keylen, key, u32 vallen,
value)*, 'C' compressed = u32 length + zlib blob of concatenated
D-frames, 'A' ack = seq u32) and handler/LumberjackFrameHandler.java:
75-108 (the ``line`` key becomes the event body; every other key lands
in the field map). The server acks the highest sequence once a window's
worth of events arrived — the protocol's at-least-once contract: an
unacked window is resent by the forwarder, and the spool file lands
BEFORE the final ack is written.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, seq bigint, "
                 "line string, fields map<string,string>")

VERSION = 0x31          # '1'


class LumberjackError(ValueError):
    pass


@dataclass
class LumberjackEvent:
    seq: int
    line: str
    fields: dict[str, str]


class _Reader:
    def __init__(self, read):
        self._read = read
        self._buf = bytearray()
        self.eof = False

    def exactly(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._read(65536)
            if not chunk:
                self.eof = True
                raise LumberjackError("stream ended mid-frame")
            self._buf.extend(chunk)
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def maybe_byte(self) -> "int | None":
        if not self._buf:
            chunk = self._read(65536)
            if not chunk:
                self.eof = True
                return None
            self._buf.extend(chunk)
        b = self._buf[0]
        del self._buf[:1]
        return b


def _parse_data_payload(buf: bytes, pos: int) -> tuple[LumberjackEvent, int]:
    seq, pairs = struct.unpack_from(">II", buf, pos)
    pos += 8
    line = ""
    fields: dict[str, str] = {}
    for _ in range(pairs):
        (klen,) = struct.unpack_from(">I", buf, pos)
        pos += 4
        key = buf[pos:pos + klen].decode("utf-8", errors="replace")
        pos += klen
        (vlen,) = struct.unpack_from(">I", buf, pos)
        pos += 4
        val = buf[pos:pos + vlen].decode("utf-8", errors="replace")
        pos += vlen
        if key == "line":               # LumberjackFrameHandler.java:96
            line = val
        else:
            fields[key] = val
    return LumberjackEvent(seq, line, fields), pos


def encode_data_frame(seq: int, kv: dict[str, str]) -> bytes:
    out = bytearray(b"1D")
    out += struct.pack(">II", seq, len(kv))
    for k, v in kv.items():
        kb, vb = k.encode(), v.encode()
        out += struct.pack(">I", len(kb)) + kb
        out += struct.pack(">I", len(vb)) + vb
    return bytes(out)


def encode_window_frame(n: int) -> bytes:
    return b"1W" + struct.pack(">I", n)


def encode_compressed_frame(data_frames: bytes) -> bytes:
    blob = zlib.compress(data_frames)
    return b"1C" + struct.pack(">I", len(blob)) + blob


def serve_lumberjack(read, write) -> list[LumberjackEvent]:
    """Serve ONE connection to EOF. Windows set the ack cadence; the
    highest seq is acked ('1A' + seq) each time a full window has
    arrived, and once more at EOF for a partial tail."""
    r = _Reader(read)
    events: list[LumberjackEvent] = []
    window = 0
    unacked = 0
    last_seq = 0

    def ack():
        nonlocal unacked
        if unacked:
            write(b"1A" + struct.pack(">I", last_seq))
            unacked = 0

    while True:
        v = r.maybe_byte()
        if v is None:
            ack()
            return events
        if v != VERSION:
            raise LumberjackError(f"bad protocol version {v:#x}")
        ftype = r.exactly(1)
        if ftype == b"W":
            ack()                        # new window: settle the old one
            (window,) = struct.unpack(">I", r.exactly(4))
        elif ftype == b"D":
            # sizes are discovered by walking the pairs — buffer
            # incrementally through the reader
            head = r.exactly(8)
            seq, pairs = struct.unpack(">II", head)
            body = bytearray(head)
            for _ in range(pairs):
                kl = r.exactly(4)
                body += kl
                (klen,) = struct.unpack(">I", kl)
                body += r.exactly(klen)
                vl = r.exactly(4)
                body += vl
                (vlen,) = struct.unpack(">I", vl)
                body += r.exactly(vlen)
            ev, _ = _parse_data_payload(bytes(body), 0)
            events.append(ev)
            last_seq = max(last_seq, ev.seq)
            unacked += 1
            if window and unacked >= window:
                ack()
        elif ftype == b"C":
            (n,) = struct.unpack(">I", r.exactly(4))
            blob = zlib.decompress(r.exactly(n))
            pos = 0
            while pos < len(blob):
                if blob[pos] != VERSION or blob[pos + 1:pos + 2] != b"D":
                    raise LumberjackError("compressed member not a "
                                          "data frame")
                ev, pos = _parse_data_payload(blob, pos + 2)
                events.append(ev)
                last_seq = max(last_seq, ev.seq)
                unacked += 1
            if window and unacked >= window:
                ack()
        else:
            raise LumberjackError(f"unknown frame type {ftype!r}")


class ListenLumberjackSource:
    """Drain-to-spool bridge (listen.py pattern); seq kept for the
    protocol's own ordering/dedup, `line` = event body, `fields` = the
    remaining keys (the reference's lumberjack.fields attribute)."""

    _MAX_PER_BATCH = 1_000_000

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        self._spool = Spool(spool_dir)

    def drain_connection(self, read, write) -> int:
        import pyarrow as pa

        events = serve_lumberjack(read, write)
        if not events:
            return 0
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(events), pa.int64()),
            "msg_idx": pa.array(range(len(events)), pa.int64()),
            "seq": pa.array([e.seq for e in events], pa.int64()),
            "line": pa.array([e.line for e in events], pa.string()),
            "fields": pa.array([list(e.fields.items()) for e in events],
                               pa.map_(pa.string(), pa.string())),
        })
        self._spool.land(table)
        return len(events)

    def read(self, spark: SparkSession) -> DataFrame:
        df = spark.read.schema(_SPOOL_SCHEMA).parquet(self.spool_dir)
        return df.withColumn(
            "msg_seq",
            F.col("batch_id") * self._MAX_PER_BATCH + F.col("msg_idx"))
