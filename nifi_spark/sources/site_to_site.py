"""Site-to-Site — the reference's socket wire protocol, client + server.

NiFi ancestors (nifi-commons/nifi-site-to-site-client):
``CommunicationsSession.java:24`` (the 4-byte ``NiFi`` magic),
``RemoteResourceInitiator.java:30-75`` (resource-name + version
negotiation: RESOURCE_OK / DIFFERENT_RESOURCE_VERSION / ABORT),
``SocketClientProtocol.java:104-180`` (handshake: comms UUID, peer URL
at version >= 3, property map GZIP / PORT_IDENTIFIER /
REQUEST_EXPIRATION_MILLIS / BATCH_*),
``RequestType.java`` (UTF-framed NEGOTIATE_FLOWFILE_CODEC /
REQUEST_PEER_LIST / SEND_FLOWFILES / RECEIVE_FLOWFILES / SHUTDOWN),
``ResponseCode.java:26-56`` (the 'R','C',code triplet, optional UTF
explanation), ``StandardFlowFileCodec.java:48-95`` (int attr count →
len-prefixed UTF-8 pairs → long content size → raw bytes),
``AbstractTransaction.java`` (the CRC32 two-phase commit:
FINISH_TRANSACTION → CONFIRM_TRANSACTION(crc) → echo/BAD_CHECKSUM →
TRANSACTION_FINISHED).

Like the listen-source bridge, Site-to-Site is a SINGLE-NODE
control-plane concern — one socket per peer, drained by one thread. The
Spark-honest shape: the server's received packets land in spool parquet
files (atomic rename, the `sources/listen.py` pattern), and the data
plane reads the spool as an ordinary distributed table. The transport
is injectable: any (read(), write(), flush()) duplex pair works — the
reference's own protocol tests mock the streams the same way
(TestSocketClientTransaction.java:64-75) — and `serve_connection` /
`S2SClient.connect` also run over real TCP sockets.

Declared boundaries: HTTP(S) transport and the multi-peer connection
pool (EndpointConnectionPool's weighted peer selection) are not
implemented — one peer, one socket is the contract here, though
REQUEST_PEER_LIST itself is served (the selector's input); GZIP
compression is negotiated off.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

from ..durable import read_exact


class S2SProtocolError(IOError):
    pass


class S2SHandshakeError(IOError):
    pass


# Java DataOutputStream framing ------------------------------------


def write_utf(out, s: str) -> None:
    """Java writeUTF: 2-byte length + modified UTF-8 (NUL → C0 80,
    supplementary chars as surrogate pairs)."""
    b = bytearray()
    for ch in s:
        cp = ord(ch)
        if 1 <= cp <= 0x7F:
            b.append(cp)
        elif cp == 0 or cp <= 0x7FF:
            b.append(0xC0 | (cp >> 6))
            b.append(0x80 | (cp & 0x3F))
        elif cp <= 0xFFFF:
            b.append(0xE0 | (cp >> 12))
            b.append(0x80 | ((cp >> 6) & 0x3F))
            b.append(0x80 | (cp & 0x3F))
        else:                      # surrogate pair, 6 bytes
            cp -= 0x10000
            for half in (0xD800 + (cp >> 10), 0xDC00 + (cp & 0x3FF)):
                b.append(0xE0 | (half >> 12))
                b.append(0x80 | ((half >> 6) & 0x3F))
                b.append(0x80 | (half & 0x3F))
    if len(b) > 0xFFFF:
        raise S2SProtocolError("writeUTF string too long")
    out.write(struct.pack(">H", len(b)) + bytes(b))


def read_utf(inp) -> str:
    n = struct.unpack(">H", read_exact(inp.read, 2))[0]
    raw = read_exact(inp.read, n)
    # modified UTF-8 decode (tolerate C0 80 NULs and CESU-8 pairs)
    out, i = [], 0
    while i < len(raw):
        b0 = raw[i]
        if b0 < 0x80:
            out.append(chr(b0)); i += 1
        elif b0 >> 5 == 0b110:
            out.append(chr(((b0 & 0x1F) << 6) | (raw[i+1] & 0x3F))); i += 2
        else:
            cp = ((b0 & 0x0F) << 12) | ((raw[i+1] & 0x3F) << 6) \
                | (raw[i+2] & 0x3F)
            i += 3
            if 0xD800 <= cp <= 0xDBFF and i + 2 < len(raw) + 1 \
                    and i < len(raw) and raw[i] >> 4 == 0b1110:
                lo = ((raw[i] & 0x0F) << 12) | ((raw[i+1] & 0x3F) << 6) \
                    | (raw[i+2] & 0x3F)
                if 0xDC00 <= lo <= 0xDFFF:
                    cp = 0x10000 + ((cp - 0xD800) << 10) + (lo - 0xDC00)
                    i += 3
            out.append(chr(cp))
    return "".join(out)


# ResponseCode.java:26-56 -------------------------------------------

RESPONSE_CODES = {
    "PROPERTIES_OK": (1, False),
    "CONTINUE_TRANSACTION": (10, False),
    "FINISH_TRANSACTION": (11, False),
    "CONFIRM_TRANSACTION": (12, True),    # explanation = CRC32 checksum
    "TRANSACTION_FINISHED": (13, False),
    "TRANSACTION_FINISHED_BUT_DESTINATION_FULL": (14, False),
    "CANCEL_TRANSACTION": (15, True),
    "BAD_CHECKSUM": (19, False),
    "MORE_DATA": (20, False),
    "NO_MORE_DATA": (21, False),
    "UNKNOWN_PORT": (200, False),
    "PORT_NOT_IN_VALID_STATE": (201, True),
    "PORTS_DESTINATION_FULL": (202, False),
    "UNKNOWN_PROPERTY_NAME": (230, True),
    "ILLEGAL_PROPERTY_VALUE": (231, True),
    "MISSING_PROPERTY": (232, True),
    "UNAUTHORIZED": (240, True),
    "ABORT": (250, True),
    "END_OF_STREAM": (255, False),
}
_CODE_BY_NUM = {num: (name, has_msg)
                for name, (num, has_msg) in RESPONSE_CODES.items()}


def write_response(out, code: str, explanation: "str | None" = None):
    num, has_msg = RESPONSE_CODES[code]
    out.write(b"RC" + bytes([num]))
    if has_msg:
        write_utf(out, explanation if explanation is not None else "")
    out.flush()


def read_response(inp) -> tuple[str, "str | None"]:
    seq = read_exact(inp.read, 3)
    if seq[:2] != b"RC":
        raise S2SProtocolError(f"bad response sequence {seq!r}")
    name, has_msg = _CODE_BY_NUM.get(seq[2], ("UNRECOGNIZED", False))
    return name, (read_utf(inp) if has_msg else None)


# StandardFlowFileCodec.java:48-95 ----------------------------------

MAX_NUM_ATTRIBUTES = 25000


@dataclass
class DataPacket:
    attributes: dict[str, str]
    content: bytes


class _Crc:
    def __init__(self):
        self.value = 0

    def update(self, data: bytes):
        self.value = zlib.crc32(data, self.value)


class _CheckedOut:
    def __init__(self, raw, crc: _Crc):
        self.raw, self.crc = raw, crc

    def write(self, data: bytes):
        self.crc.update(data)
        self.raw.write(data)

    def flush(self):
        self.raw.flush()


class _CheckedIn:
    def __init__(self, raw, crc: _Crc):
        self.raw, self.crc = raw, crc

    def read(self, n: int) -> bytes:
        data = self.raw.read(n)
        if data:
            self.crc.update(data)
        return data


def encode_packet(packet: DataPacket, out) -> None:
    """int attr count → (len-prefixed UTF-8 key, value)* → long size →
    raw content bytes."""
    out.write(struct.pack(">i", len(packet.attributes)))
    for k, v in packet.attributes.items():
        kb, vb = k.encode(), v.encode()
        out.write(struct.pack(">i", len(kb)) + kb)
        out.write(struct.pack(">i", len(vb)) + vb)
    out.write(struct.pack(">q", len(packet.content)))
    out.write(packet.content)
    out.flush()


def decode_packet(inp) -> "DataPacket | None":
    try:
        first = read_exact(inp.read, 4)
    except EOFError:
        return None
    n_attrs = struct.unpack(">i", first)[0]
    if n_attrs > MAX_NUM_ATTRIBUTES:
        raise S2SProtocolError(
            f"FlowFile exceeds maximum number of attributes ({n_attrs})")
    attrs = {}
    for _ in range(n_attrs):
        klen = struct.unpack(">i", read_exact(inp.read, 4))[0]
        k = read_exact(inp.read, klen).decode()
        vlen = struct.unpack(">i", read_exact(inp.read, 4))[0]
        attrs[k] = read_exact(inp.read, vlen).decode()
    size = struct.unpack(">q", read_exact(inp.read, 8))[0]
    return DataPacket(attrs, read_exact(inp.read, size))


# client transaction (AbstractTransaction.java) ---------------------

MAGIC = b"NiFi"
SOCKET_PROTOCOL = "SocketFlowFileProtocol"
CODEC_NAME = "StandardFlowFileCodec"
RESOURCE_OK = 20
DIFFERENT_RESOURCE_VERSION = 21
ABORT = 255


class S2STransaction:
    """Client-side transaction over duplex (inp, out) streams —
    reference-exact state machine incl. the CRC32 two-phase commit.
    direction: 'send' | 'receive'."""

    def __init__(self, inp, out, direction: str,
                 protocol_version: int = 5):
        self.inp, self.out = inp, out
        self.direction = direction
        self.protocol_version = protocol_version
        self.crc = _Crc()
        self.state = "TRANSACTION_STARTED"
        self.transfers = 0
        self.content_bytes = 0
        self.data_available = False
        # initialize() — SocketClientTransaction.java:42-70
        if direction == "receive":
            write_utf(self.out, "RECEIVE_FLOWFILES")
            self.out.flush()
            code, _ = read_response(self.inp)
            if code == "MORE_DATA":
                self.data_available = True
            elif code == "NO_MORE_DATA":
                self.data_available = False
            else:
                self._error()
                raise S2SProtocolError(
                    f"unexpected response asking for data: {code}")
        elif direction == "send":
            write_utf(self.out, "SEND_FLOWFILES")
            self.out.flush()
        else:
            raise ValueError(f"bad direction {direction!r}")

    def _error(self):
        self.state = "ERROR"

    # ---- send path
    def send(self, content: bytes, attributes: dict[str, str]) -> None:
        if self.state not in ("TRANSACTION_STARTED", "DATA_EXCHANGED"):
            raise S2SProtocolError(f"cannot send in state {self.state}")
        if self.direction != "send":
            raise S2SProtocolError("receive transaction cannot send")
        if self.transfers > 0:
            write_response(self.out, "CONTINUE_TRANSACTION")
        encode_packet(DataPacket(attributes, content),
                      _CheckedOut(self.out, self.crc))
        self.transfers += 1
        self.content_bytes += len(content)
        self.state = "DATA_EXCHANGED"

    # ---- receive path
    def receive(self) -> "DataPacket | None":
        if self.state not in ("TRANSACTION_STARTED", "DATA_EXCHANGED"):
            raise S2SProtocolError(f"cannot receive in state {self.state}")
        if self.direction != "receive":
            raise S2SProtocolError("send transaction cannot receive")
        if not self.data_available:
            return None
        if self.transfers > 0:
            code, _ = read_response(self.inp)
            if code == "CONTINUE_TRANSACTION":
                self.data_available = True
            elif code == "FINISH_TRANSACTION":
                self.data_available = False
            else:
                self._error()
                raise S2SProtocolError(
                    f"unexpected response asking for data: {code}")
        if not self.data_available:
            return None
        packet = decode_packet(_CheckedIn(self.inp, self.crc))
        if packet is None:
            self.data_available = False
        else:
            self.transfers += 1
            self.content_bytes += len(packet.content)
        self.state = "DATA_EXCHANGED"
        return packet

    # ---- two-phase commit (AbstractTransaction.java:150-248)
    def confirm(self) -> None:
        if (self.state == "TRANSACTION_STARTED" and not self.data_available
                and self.direction == "receive"):
            self.state = "TRANSACTION_CONFIRMED"
            return
        if self.state != "DATA_EXCHANGED":
            raise S2SProtocolError(
                f"cannot confirm in state {self.state}")
        if self.direction == "receive":
            if self.data_available:
                raise S2SProtocolError("sender has more data than "
                                       "client consumed")
            write_response(self.out, "CONFIRM_TRANSACTION",
                           str(self.crc.value))
            code, _ = read_response(self.inp)
            if code == "BAD_CHECKSUM":
                self._error()
                raise S2SProtocolError("Received a BadChecksum response")
            if code != "CONFIRM_TRANSACTION":
                self._error()
                raise S2SProtocolError(
                    f"expected Confirm Transaction, got {code}")
            self.state = "TRANSACTION_CONFIRMED"
        else:
            write_response(self.out, "FINISH_TRANSACTION")
            code, received_crc = read_response(self.inp)
            if code != "CONFIRM_TRANSACTION":
                self._error()
                raise S2SProtocolError(
                    f"expected Confirm Transaction, got {code}")
            if self.protocol_version > 3 \
                    and received_crc != str(self.crc.value):
                write_response(self.out, "BAD_CHECKSUM")
                self._error()
                raise S2SProtocolError(
                    f"CRC mismatch: sent {self.crc.value}, peer "
                    f"calculated {received_crc}")
            write_response(self.out, "CONFIRM_TRANSACTION", "")
            self.state = "TRANSACTION_CONFIRMED"

    def complete(self) -> dict:
        if self.state != "TRANSACTION_CONFIRMED":
            raise S2SProtocolError(
                f"cannot complete in state {self.state}")
        backoff = False
        if self.direction == "receive":
            if self.transfers > 0:
                write_response(self.out, "TRANSACTION_FINISHED")
        else:
            code, _ = read_response(self.inp)
            if code == "TRANSACTION_FINISHED_BUT_DESTINATION_FULL":
                backoff = True
            elif code != "TRANSACTION_FINISHED":
                self._error()
                raise S2SProtocolError(
                    f"expected TRANSACTION_FINISHED, got {code}")
        self.state = "TRANSACTION_COMPLETED"
        return {"backoff": backoff, "packets": self.transfers,
                "bytes": self.content_bytes}

    def cancel(self, explanation: str = "<No explanation given>"):
        if self.state in ("TRANSACTION_CANCELED", "TRANSACTION_COMPLETED",
                          "ERROR"):
            raise S2SProtocolError(
                f"cannot cancel in state {self.state}")
        write_response(self.out, "CANCEL_TRANSACTION", explanation)
        self.state = "TRANSACTION_CANCELED"


class S2SClient:
    """Full client session: magic → protocol negotiation → handshake →
    codec negotiation → transactions."""

    def __init__(self, inp, out, *, port_identifier: str,
                 peer_url: str = "nifi://localhost:8080",
                 timeout_millis: int = 30000,
                 comms_identifier: str = "00000000-0000-0000-0000-"
                                         "000000000000"):
        self.inp, self.out = inp, out
        self.port_identifier = port_identifier
        self.out.write(MAGIC)
        self.version = self._negotiate(SOCKET_PROTOCOL, 5)
        # handshake — SocketClientProtocol.java:108-180
        write_utf(self.out, comms_identifier)
        if self.version >= 3:
            write_utf(self.out, peer_url)
        props = {"GZIP": "false",
                 "PORT_IDENTIFIER": port_identifier,
                 "REQUEST_EXPIRATION_MILLIS": str(timeout_millis)}
        self.out.write(struct.pack(">i", len(props)))
        for k, v in props.items():
            write_utf(self.out, k)
            write_utf(self.out, v)
        self.out.flush()
        code, msg = read_response(self.inp)
        if code != "PROPERTIES_OK":
            raise S2SHandshakeError(f"handshake rejected: {code} {msg}")
        # codec negotiation
        write_utf(self.out, "NEGOTIATE_FLOWFILE_CODEC")
        self.codec_version = self._negotiate(CODEC_NAME, 1)

    def _negotiate(self, resource: str, version: int) -> int:
        """RemoteResourceInitiator.java:30-75."""
        while True:
            write_utf(self.out, resource)
            self.out.write(struct.pack(">i", version))
            self.out.flush()
            status = read_exact(self.inp.read, 1)[0]
            if status == RESOURCE_OK:
                return version
            if status == DIFFERENT_RESOURCE_VERSION:
                server_pref = struct.unpack(
                    ">i", read_exact(self.inp.read, 4))[0]
                if server_pref < 1:
                    raise S2SHandshakeError(
                        f"could not agree on version for {resource}")
                version = min(version, server_pref)
                continue
            if status == ABORT:
                raise S2SHandshakeError(
                    f"remote aborted: {read_utf(self.inp)}")
            raise S2SHandshakeError(
                f"unable to negotiate {resource} (status {status})")

    def create_transaction(self, direction: str) -> S2STransaction:
        return S2STransaction(self.inp, self.out, direction,
                              protocol_version=self.version)

    def request_peer_list(self) -> list[dict]:
        """SocketClientProtocol.java:223-231: (hostname, port, secure,
        flowFileCount) per peer — the PeerSelector's weighting input."""
        write_utf(self.out, "REQUEST_PEER_LIST")
        self.out.flush()
        n = struct.unpack(">i", read_exact(self.inp.read, 4))[0]
        peers = []
        for _ in range(n):
            host = read_utf(self.inp)
            port, = struct.unpack(">i", read_exact(self.inp.read, 4))
            secure = read_exact(self.inp.read, 1) != b"\x00"
            count, = struct.unpack(">i", read_exact(self.inp.read, 4))
            peers.append({"hostname": host, "port": port,
                          "secure": secure, "flowfile_count": count})
        return peers

    def shutdown(self):
        write_utf(self.out, "SHUTDOWN")
        self.out.flush()


# server side --------------------------------------------------------


@dataclass
class S2SPort:
    """One input/output port: packets sent TO us land in `received`;
    packets queued in `to_send` serve RECEIVE_FLOWFILES transactions.
    `backpressure_object_threshold` is the connection back-pressure
    analog (StandardFlowFileQueue.java:85-98): when the landed count
    crosses it, the send transaction still completes but the server
    answers TRANSACTION_FINISHED_BUT_DESTINATION_FULL, which the client
    surfaces as backoff=True (AbstractTransaction.java:281-284 →
    peer.penalize)."""
    identifier: str
    received: list[DataPacket] = field(default_factory=list)
    to_send: list[DataPacket] = field(default_factory=list)
    backpressure_object_threshold: "int | None" = None

    @property
    def destination_full(self) -> bool:
        return (self.backpressure_object_threshold is not None
                and len(self.received) >= self.backpressure_object_threshold)


def serve_connection(inp, out, ports: dict[str, S2SPort],
                     supported_version: int = 5) -> int:
    """Serve ONE client connection to completion (SHUTDOWN or EOF).
    Returns the number of transactions served. The server half of every
    exchange the client implements above; SEND lands packets into the
    port's `received` list ATOMICALLY per transaction (two-phase commit:
    nothing lands on checksum mismatch or cancel)."""
    if read_exact(inp.read, 4) != MAGIC:
        raise S2SProtocolError("bad magic")

    def accept_resource(expect_name, version_cap):
        while True:
            name = read_utf(inp)
            ver = struct.unpack(">i", read_exact(inp.read, 4))[0]
            if name != expect_name:
                out.write(bytes([ABORT]))
                write_utf(out, f"unknown resource {name}")
                out.flush()
                raise S2SProtocolError(f"unknown resource {name}")
            if ver > version_cap:
                out.write(bytes([DIFFERENT_RESOURCE_VERSION]))
                out.write(struct.pack(">i", version_cap))
                out.flush()
                continue
            out.write(bytes([RESOURCE_OK]))
            out.flush()
            return ver

    version = accept_resource(SOCKET_PROTOCOL, supported_version)
    read_utf(inp)                       # comms identifier
    if version >= 3:
        read_utf(inp)                   # peer url
    n_props = struct.unpack(">i", read_exact(inp.read, 4))[0]
    props = {read_utf(inp): read_utf(inp) for _ in range(n_props)}
    port_id = props.get("PORT_IDENTIFIER")
    if port_id not in ports:
        write_response(out, "UNKNOWN_PORT")
        raise S2SProtocolError(f"unknown port {port_id!r}")
    port = ports[port_id]
    write_response(out, "PROPERTIES_OK")

    served = 0
    while True:
        try:
            request = read_utf(inp)
        except EOFError:
            return served
        if request == "SHUTDOWN":
            return served
        if request == "NEGOTIATE_FLOWFILE_CODEC":
            accept_resource(CODEC_NAME, 1)
            continue
        if request == "SEND_FLOWFILES":
            crc = _Crc()
            staged: list[DataPacket] = []
            while True:
                packet = decode_packet(_CheckedIn(inp, crc))
                if packet is None:
                    raise S2SProtocolError("stream ended mid-transaction")
                staged.append(packet)
                code, msg = read_response(inp)
                if code == "CONTINUE_TRANSACTION":
                    continue
                if code == "CANCEL_TRANSACTION":
                    staged = []
                    break
                if code == "FINISH_TRANSACTION":
                    write_response(out, "CONFIRM_TRANSACTION",
                                   str(crc.value))
                    echo, _ = read_response(inp)
                    if echo == "CONFIRM_TRANSACTION":
                        port.received.extend(staged)
                        write_response(
                            out,
                            "TRANSACTION_FINISHED_BUT_DESTINATION_FULL"
                            if port.destination_full
                            else "TRANSACTION_FINISHED")
                    else:               # BAD_CHECKSUM: land nothing
                        staged = []
                    break
                raise S2SProtocolError(f"unexpected mid-send {code}")
            served += 1
            continue
        if request == "RECEIVE_FLOWFILES":
            if not port.to_send:
                write_response(out, "NO_MORE_DATA")
                served += 1
                continue
            write_response(out, "MORE_DATA")
            crc = _Crc()
            batch, port.to_send = port.to_send, []
            for i, packet in enumerate(batch):
                encode_packet(packet, _CheckedOut(out, crc))
                write_response(out, "FINISH_TRANSACTION"
                               if i == len(batch) - 1
                               else "CONTINUE_TRANSACTION")
            code, client_crc = read_response(inp)
            if code != "CONFIRM_TRANSACTION":
                raise S2SProtocolError(f"expected confirm, got {code}")
            if client_crc == str(crc.value):
                write_response(out, "CONFIRM_TRANSACTION",
                               "Checksum verified")
                code, _ = read_response(inp)   # TRANSACTION_FINISHED
            else:
                write_response(out, "BAD_CHECKSUM")
                port.to_send = batch + port.to_send   # redeliver
            served += 1
            continue
        if request == "REQUEST_PEER_LIST":
            # SocketClientProtocol.java:223-231 wire format; a
            # single-node server reports itself, flowFileCount = queue
            # depth so clients can weight (PeerSelector's input)
            depth = sum(len(p.received) for p in ports.values())
            out.write(struct.pack(">i", 1))
            write_utf(out, "localhost")
            out.write(struct.pack(">i", 0))
            out.write(b"\x00")              # secure = false
            out.write(struct.pack(">i", depth))
            out.flush()
            continue
        raise S2SProtocolError(f"unknown request {request!r}")


# same-process loopback (socketpair + server thread) ----------------


class _SockStream:
    """Duplex adapter over a socket: read()/write()/flush()."""

    def __init__(self, sock):
        self.sock = sock

    def read(self, n: int) -> bytes:
        return self.sock.recv(n)

    def write(self, data: bytes):
        self.sock.sendall(data)

    def flush(self):
        pass


def loopback_serve(ports: dict[str, S2SPort]):
    """Spawn serve_connection on one end of a socketpair (daemon
    thread); returns (client_inp, client_out, join) — `join()` waits
    for the server to finish and re-raises any server-side error. The
    production path is identical code over a real TCP socket."""
    import socket
    import threading

    a, b = socket.socketpair()
    errs: list[BaseException] = []

    def run():
        try:
            s = _SockStream(b)
            serve_connection(s, s, ports)
        except BaseException as exc:   # surfaced via join()
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
            raise TimeoutError("site-to-site server did not finish")

    s = _SockStream(a)
    return s, s, join


def weighted_peer_destinations(
        statuses: "list[tuple[str, int]]",
        direction: str = "send") -> "list[str]":
    """PeerSelector.createDestinationList
    (nifi-site-to-site-client/.../PeerSelector.java:159-209),
    reproduced exactly minus the final random jumble (deterministic
    here; the reference shuffles): a ring of max(128, n_peers) slots,
    each peer claiming max(1, slots * weight) entries where weight =
    1 - min(0.8, queued_share) when SENDing (load-shedding: a peer
    holding more queued FlowFiles receives less) and min(0.8, share)
    when RECEIVING; entries land at skip-index positions
    (n = numEntries * i, linear-probe past collisions), the
    reference's spreading scheme. With zero total queue depth every
    peer gets one entry (the Java NaN path collapses to 1).

    statuses: [(peer_id, flowfile_count)] in a deterministic order —
    the reference iterates a HashMap (order unspecified); input order
    plays that role here."""
    n_dest = max(128, len(statuses))
    total = sum(c for _pid, c in statuses)
    entry_counts: list[tuple[str, int]] = []
    total_entries = 0
    for pid, cnt in statuses:
        if total == 0:
            entries = 1
        else:
            share = min(0.8, cnt / total)
            weight = (1 - share) if direction == "send" else share
            entries = max(1, int(n_dest * weight))
        entry_counts.append((pid, entries))
        total_entries += entries
    ring: "list[str | None]" = [None] * total_entries
    for pid, num in entry_counts:
        skip = num
        for i in range(num):
            n = skip * i
            while True:
                idx = n % len(ring)
                if ring[idx] is None:
                    ring[idx] = pid
                    break
                n += 1
    return ring  # type: ignore[return-value]
