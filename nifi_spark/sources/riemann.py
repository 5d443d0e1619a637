"""PutRiemann analog (nifi-riemann-bundle) — the real Riemann wire:
hand-rolled protocol-buffer codec for the public riemann protocol
(github.com/riemann/riemann-java-client proto/riemann/proto.proto),
4-byte-length TCP framing, and an in-process server that decodes and
acks ``Msg{ok: true}``.

NiFi ancestor: PutRiemann.java — FlowFileToEvent.fromAttributes
(:249-299) builds one Event per row from the Service / Description /
Metric (float) / Time (epoch seconds long) / State / TTL (float) /
Host / Tags (comma-split, trimmed) properties, skipping blanks, plus
one string Attribute per dynamic property; TCP sends wait for the
ack Msg and raise on timeout/failure (:215-236), UDP is fire-and-
forget.

Proto schema (public riemann protocol, field numbers on the wire):
  Event: time=1 int64 · state=2 · service=3 · host=4 · description=5
         tags=7 repeated string · ttl=8 float · attributes=9 repeated
         Attribute · metric_sint64=13 · metric_d=14 double ·
         metric_f=15 float
  Attribute: key=1 · value=2
  Msg: ok=2 bool · error=3 string · events=6 repeated Event
"""

from __future__ import annotations

import struct
import threading

from ..durable import read_exact


# ------------------------------------------------------ proto codec

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _field(num: int, wire: int) -> bytes:
    return _varint((num << 3) | wire)


def _str_field(num: int, s: str) -> bytes:
    b = s.encode("utf-8")
    return _field(num, 2) + _varint(len(b)) + b


def encode_event(ev: dict) -> bytes:
    """dict → Event message bytes. Recognized keys: time (int), state,
    service, host, description (str), tags (list[str]), ttl, metric_f
    (float), metric_d (float as double), metric_sint64 (int),
    attributes (dict[str,str])."""
    out = bytearray()
    if "time" in ev:
        out += _field(1, 0) + _varint(int(ev["time"]))
    for num, key in ((2, "state"), (3, "service"), (4, "host"),
                     (5, "description")):
        if ev.get(key):
            out += _str_field(num, str(ev[key]))
    for tag in ev.get("tags", ()):
        out += _str_field(7, tag)
    if "ttl" in ev:
        out += _field(8, 5) + struct.pack("<f", float(ev["ttl"]))
    for k, v in sorted(ev.get("attributes", {}).items()):
        attr = _str_field(1, k) + _str_field(2, str(v))
        out += _field(9, 2) + _varint(len(attr)) + attr
    if "metric_sint64" in ev:
        n = int(ev["metric_sint64"])
        out += _field(13, 0) + _varint((n << 1) ^ (n >> 63))
    if "metric_d" in ev:
        out += _field(14, 1) + struct.pack("<d", float(ev["metric_d"]))
    if "metric_f" in ev:
        out += _field(15, 5) + struct.pack("<f", float(ev["metric_f"]))
    return bytes(out)


def encode_msg(events: "list[dict]", *, ok: bool | None = None,
               error: str | None = None) -> bytes:
    out = bytearray()
    if ok is not None:
        out += _field(2, 0) + _varint(1 if ok else 0)
    if error:
        out += _str_field(3, error)
    for ev in events:
        body = encode_event(ev)
        out += _field(6, 2) + _varint(len(body)) + body
    return bytes(out)


def _decode_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 1:
            val = buf[pos:pos + 8]
            pos += 8
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            val = buf[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"wire type {wire}")
        yield num, wire, val


def decode_event(buf: bytes) -> dict:
    ev: dict = {}
    for num, _wire, val in _decode_fields(buf):
        if num == 1:
            ev["time"] = val
        elif num in (2, 3, 4, 5):
            ev[{2: "state", 3: "service", 4: "host",
                5: "description"}[num]] = val.decode()
        elif num == 7:
            ev.setdefault("tags", []).append(val.decode())
        elif num == 8:
            ev["ttl"] = struct.unpack("<f", val)[0]
        elif num == 9:
            kv = {n: v for n, _w, v in _decode_fields(val)}
            ev.setdefault("attributes", {})[kv[1].decode()] = \
                kv.get(2, b"").decode()
        elif num == 13:
            ev["metric_sint64"] = (val >> 1) ^ -(val & 1)
        elif num == 14:
            ev["metric_d"] = struct.unpack("<d", val)[0]
        elif num == 15:
            ev["metric_f"] = struct.unpack("<f", val)[0]
    return ev


def decode_msg(buf: bytes) -> dict:
    msg: dict = {"events": []}
    for num, _wire, val in _decode_fields(buf):
        if num == 2:
            msg["ok"] = bool(val)
        elif num == 3:
            msg["error"] = val.decode()
        elif num == 6:
            msg["events"].append(decode_event(val))
    return msg


# --------------------------------------------------- event building

_LOCAL_KEYS = ("service", "description", "metric", "time", "state",
               "ttl", "host", "tags")


def row_to_event(row: dict, custom_keys: "list[str]" = ()) -> dict:
    """FlowFileToEvent.fromAttributes: blank values are skipped; tags
    comma-split and trimmed; metric/ttl floats, time a long; every
    custom key becomes a string Attribute."""
    def blank(v) -> bool:
        return v is None or str(v).strip() == ""

    ev: dict = {}
    if not blank(row.get("service")):
        ev["service"] = str(row["service"])
    if not blank(row.get("description")):
        ev["description"] = str(row["description"])
    if not blank(row.get("metric")):
        ev["metric_f"] = float(row["metric"])
    if not blank(row.get("time")):
        ev["time"] = int(row["time"])
    if not blank(row.get("state")):
        ev["state"] = str(row["state"])
    if not blank(row.get("ttl")):
        ev["ttl"] = float(row["ttl"])
    if not blank(row.get("host")):
        ev["host"] = str(row["host"])
    if not blank(row.get("tags")):
        ev["tags"] = [t.strip() for t in str(row["tags"]).split(",")]
    attrs = {k: str(row[k]) for k in custom_keys if not blank(row.get(k))}
    if attrs:
        ev["attributes"] = attrs
    return ev


class RiemannError(IOError):
    pass


def put_riemann(rows: "list[dict]", inp, out, *,
                transport: str = "TCP",
                custom_keys: "list[str]" = (),
                batch_size: int = 100) -> int:
    """PutRiemann.onTrigger: rows → Events in batches of batch_size;
    TCP = 4-byte BE length frame + Msg, then read the ack Msg and
    raise unless ok (the deref/timeout path); UDP = one unframed Msg
    per batch, no ack. Rows failing float/int conversion raise
    ValueError to the caller (the reference routes those to failure
    before sending). Returns events sent."""
    n = 0
    for i in range(0, len(rows), batch_size):
        events = [row_to_event(r, custom_keys)
                  for r in rows[i:i + batch_size]]
        body = encode_msg(events)
        if transport.upper() == "TCP":
            out.write(struct.pack(">i", len(body)) + body)
            out.flush()
            (ln,) = struct.unpack(">i", read_exact(inp.read, 4))
            ack = decode_msg(read_exact(inp.read, ln))
            if not ack.get("ok"):
                raise RiemannError(ack.get("error", "no ack"))
        else:
            out.write(body)
            out.flush()
        n += len(events)
    return n


class RiemannServer:
    """Decoding ack server over a stream pair: collects every event,
    replies Msg{ok:true} per frame."""

    def __init__(self):
        self.events: list[dict] = []

    def serve(self, inp, out) -> None:
        while True:
            try:
                head = read_exact(inp.read, 4)
            except EOFError:
                return
            (ln,) = struct.unpack(">i", head)
            msg = decode_msg(read_exact(inp.read, ln))
            self.events.extend(msg["events"])
            ack = encode_msg([], ok=True)
            out.write(struct.pack(">i", len(ack)) + ack)
            out.flush()


def riemann_loopback(server: RiemannServer):
    """socketpair + daemon thread, the repo's loopback pattern."""
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

    def run():
        try:
            s = _S(b)
            server.serve(s, s)
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
            raise TimeoutError("riemann server did not finish")

    s = _S(a)
    return s, s, join
