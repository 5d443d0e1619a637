"""WebSocket (RFC 6455) — ListenWebSocket / ConnectWebSocket /
PutWebSocket analogs, pure stdlib.

NiFi ancestors: nifi-websocket-bundle (ListenWebSocket = server
endpoint emitting one FlowFile per received message with
websocket.controller.id/endpoint.id attributes; ConnectWebSocket = the
client side; PutWebSocket sends FlowFile content as a text or binary
message). The reference rides Jetty; here the protocol itself is
implemented: the HTTP/1.1 Upgrade handshake with the RFC 6455 GUID
accept hash, and the full frame codec — FIN/opcode bits, 7/16/64-bit
payload lengths, client-side masking (the spec REQUIRES client frames
masked and server frames unmasked — enforced both ways), text/binary
messages, fragmentation via continuation frames, ping/pong auto-reply,
and close handshake echo.

Transport = injectable (read(n), write(bytes)) like every bridge here;
`ws_loopback` runs the server on a socketpair thread. Landed messages
take the spool shape; text frames land as UTF-8 strings, binary as
hex — one typed column each.
"""

from __future__ import annotations

import base64
import hashlib
import re
import struct

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool, read_exact

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BINARY, OP_CLOSE, OP_PING, OP_PONG = \
    0x0, 0x1, 0x2, 0x8, 0x9, 0xA

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, kind string, "
                 "text string, data binary")


class WsError(IOError):
    pass


def ws_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept (RFC 6455 §4.2.2 step 5.4)."""
    digest = hashlib.sha1((client_key + _GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def encode_frame(opcode: int, payload: bytes, *, fin: bool = True,
                 mask: "bytes | None" = None) -> bytes:
    head = bytearray([(0x80 if fin else 0) | opcode])
    n = len(payload)
    mask_bit = 0x80 if mask else 0
    if n < 126:
        head.append(mask_bit | n)
    elif n < 0x10000:
        head.append(mask_bit | 126)
        head += struct.pack(">H", n)
    else:
        head.append(mask_bit | 127)
        head += struct.pack(">Q", n)
    if mask:
        if len(mask) != 4:
            raise WsError("masking key must be 4 bytes")
        head += mask
        payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    return bytes(head) + payload


def decode_frame(read) -> tuple[bool, int, bytes]:
    """→ (fin, opcode, unmasked payload)."""
    b0, b1 = read_exact(read, 2, WsError)
    fin = bool(b0 & 0x80)
    opcode = b0 & 0x0F
    masked = bool(b1 & 0x80)
    n = b1 & 0x7F
    if n == 126:
        (n,) = struct.unpack(">H", read_exact(read, 2, WsError))
    elif n == 127:
        (n,) = struct.unpack(">Q", read_exact(read, 8, WsError))
    mask = read_exact(read, 4, WsError) if masked else None
    payload = read_exact(read, n, WsError) if n else b""
    if mask:
        payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    return fin, opcode, payload


# ------------------------------------------------------------- server


def serve_websocket(read, write, *, path: str = "/ws",
                    max_messages: "int | None" = None
                    ) -> list[tuple[int, bytes]]:
    """Handshake + receive loop for ONE connection. Returns the
    received messages as (opcode, payload) — fragmented messages
    reassembled; pings answered with pongs; client frames MUST be
    masked (1002-protocol-error close otherwise, RFC 6455 §5.1);
    stops on close (echoed) or EOF."""
    # HTTP Upgrade request
    buf = bytearray()
    while b"\r\n\r\n" not in buf:
        chunk = read(4096)
        if not chunk:
            raise WsError("EOF during handshake")
        buf += chunk
    head = bytes(buf).split(b"\r\n\r\n", 1)[0].decode("latin-1")
    lines = head.split("\r\n")
    m = re.match(r"GET (\S+) HTTP/1\.1", lines[0])
    if not m:
        write(b"HTTP/1.1 400 Bad Request\r\n\r\n")
        raise WsError(f"bad handshake request line {lines[0]!r}")
    if m.group(1).split("?")[0] != path:
        write(b"HTTP/1.1 404 Not Found\r\n\r\n")
        raise WsError(f"unknown path {m.group(1)!r}")
    headers = {k.strip().lower(): v.strip() for k, v in
               (ln.split(":", 1) for ln in lines[1:] if ":" in ln)}
    key = headers.get("sec-websocket-key")
    if (headers.get("upgrade", "").lower() != "websocket"
            or not key):
        write(b"HTTP/1.1 400 Bad Request\r\n\r\n")
        raise WsError("not a websocket upgrade")
    write(("HTTP/1.1 101 Switching Protocols\r\n"
           "Upgrade: websocket\r\nConnection: Upgrade\r\n"
           f"Sec-WebSocket-Accept: {ws_accept_key(key)}\r\n\r\n")
          .encode())

    messages: list[tuple[int, bytes]] = []
    frag_op: "int | None" = None
    frag: bytearray = bytearray()
    while max_messages is None or len(messages) < max_messages:
        try:
            b0, b1 = read_exact(read, 2, WsError)
        except WsError:
            break
        # re-parse with the two bytes we already consumed
        fin = bool(b0 & 0x80)
        opcode = b0 & 0x0F
        masked = bool(b1 & 0x80)
        n = b1 & 0x7F
        if n == 126:
            (n,) = struct.unpack(">H", read_exact(read, 2, WsError))
        elif n == 127:
            (n,) = struct.unpack(">Q", read_exact(read, 8, WsError))
        if not masked and opcode != OP_CLOSE:
            write(encode_frame(OP_CLOSE, struct.pack(">H", 1002)))
            raise WsError("client frame not masked (RFC 6455 §5.1)")
        mask = read_exact(read, 4, WsError) if masked else None
        payload = read_exact(read, n, WsError) if n else b""
        if mask:
            payload = bytes(b ^ mask[i % 4]
                            for i, b in enumerate(payload))
        if opcode == OP_PING:
            write(encode_frame(OP_PONG, payload))
            continue
        if opcode == OP_PONG:
            continue
        if opcode == OP_CLOSE:
            write(encode_frame(OP_CLOSE, payload))
            break
        if opcode in (OP_TEXT, OP_BINARY):
            if fin:
                messages.append((opcode, payload))
            else:
                frag_op, frag = opcode, bytearray(payload)
        elif opcode == OP_CONT:
            if frag_op is None:
                raise WsError("continuation without start")
            frag += payload
            if fin:
                messages.append((frag_op, bytes(frag)))
                frag_op = None
    return messages


# ------------------------------------------------------------- client


class WsClient:
    """ConnectWebSocket/PutWebSocket's transport half: handshake +
    masked sends. `rand` injects masking keys for determinism."""

    def __init__(self, read, write, *, path: str = "/ws",
                 key: str = "dGhlIHNhbXBsZSBub25jZQ==",
                 rand=None):
        self.read, self.write = read, write
        self._rand = rand or (lambda: b"\x11\x22\x33\x44")
        self.write((f"GET {path} HTTP/1.1\r\nHost: h\r\n"
                    "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                    f"Sec-WebSocket-Key: {key}\r\n"
                    "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        buf = bytearray()
        while b"\r\n\r\n" not in buf:
            chunk = self.read(4096)
            if not chunk:
                raise WsError("EOF during handshake")
            buf += chunk
        head = bytes(buf).split(b"\r\n\r\n", 1)[0].decode("latin-1")
        if "101" not in head.split("\r\n")[0]:
            raise WsError(f"handshake rejected: {head.splitlines()[0]}")
        want = ws_accept_key(key)
        if f"Sec-WebSocket-Accept: {want}" not in head:
            raise WsError("bad Sec-WebSocket-Accept")

    def send_text(self, text: str, *, fragment_at: "int | None" = None):
        data = text.encode()
        self._send(OP_TEXT, data, fragment_at)

    def send_binary(self, data: bytes,
                    *, fragment_at: "int | None" = None):
        self._send(OP_BINARY, data, fragment_at)

    def _send(self, op: int, data: bytes, fragment_at: "int | None"):
        if fragment_at is None or fragment_at >= len(data):
            self.write(encode_frame(op, data, mask=self._rand()))
            return
        self.write(encode_frame(op, data[:fragment_at], fin=False,
                                mask=self._rand()))
        self.write(encode_frame(OP_CONT, data[fragment_at:],
                                mask=self._rand()))

    def ping(self, payload: bytes = b""):
        self.write(encode_frame(OP_PING, payload, mask=self._rand()))
        fin, op, pong = decode_frame(self.read)
        if op != OP_PONG or pong != payload:
            raise WsError("bad pong")

    def close(self, code: int = 1000):
        self.write(encode_frame(OP_CLOSE, struct.pack(">H", code),
                                mask=self._rand()))
        decode_frame(self.read)              # close echo


def ws_loopback(*, path: str = "/ws"):
    """serve_websocket on a socketpair thread → (client_read,
    client_write, join); join() returns the server's received
    messages."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: list = []
    errs: list[BaseException] = []

    def run():
        try:
            result.extend(serve_websocket(b.recv, b.sendall, path=path))
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
            raise TimeoutError("websocket server did not finish")
        return result

    return a.recv, a.sendall, join


class ListenWebSocketSource:
    """Drain-to-spool bridge: one served connection → one spool file
    (text messages land in `text`, binary in `data`)."""

    _MAX_PER_BATCH = 1_000_000

    def __init__(self, spool_dir: str, *, path: str = "/ws"):
        self.spool_dir = spool_dir
        self.path = path
        self._spool = Spool(spool_dir)

    def drain_connection(self, read, write) -> int:
        import pyarrow as pa

        msgs = serve_websocket(read, write, path=self.path)
        if not msgs:
            return 0
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(msgs), pa.int64()),
            "msg_idx": pa.array(range(len(msgs)), pa.int64()),
            "kind": pa.array(["text" if op == OP_TEXT else "binary"
                              for op, _ in msgs], pa.string()),
            "text": pa.array([p.decode("utf-8", errors="replace")
                              if op == OP_TEXT else None
                              for op, p in msgs], pa.string()),
            "data": pa.array([p if op == OP_BINARY else None
                              for op, p in msgs], pa.binary()),
        })
        self._spool.land(table)
        return len(msgs)

    def read(self, spark: SparkSession) -> DataFrame:
        df = spark.read.schema(_SPOOL_SCHEMA).parquet(self.spool_dir)
        return df.withColumn(
            "msg_seq",
            F.col("batch_id") * self._MAX_PER_BATCH + F.col("msg_idx"))
