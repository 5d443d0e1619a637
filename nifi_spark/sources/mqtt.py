"""MQTT 3.1.1 — ConsumeMQTT / PublishMQTT analogs: packet codec,
client, and a mini-broker for loopback, draining to parquet spool.

NiFi ancestors: nifi-mqtt-bundle ConsumeMQTT.java (paho subscriber —
one FlowFile per message with mqtt.topic / mqtt.qos / mqtt.isDuplicate
/ mqtt.isRetained attributes, an in-memory queue drained per trigger)
and PublishMQTT.java (FlowFile content → one PUBLISH). The reference
delegates the wire protocol to Eclipse Paho; here MQTT 3.1.1 itself is
implemented — fixed header with the variable-length remaining-length
varint, CONNECT/CONNACK (protocol-name/level validation, client id),
PUBLISH QoS 0 and QoS 1 with PUBACK, QoS 2's full four-way handshake
(PUBREC/PUBREL/PUBCOMP, §4.3.3 method B: the receiver stashes the
message under its packet id — a DUP re-publish overwrites, never
duplicates — and releases it on PUBREL, the exactly-once contract;
broker→client deliveries complete across drains since PUBREL answers
the client's PUBREC), SUBSCRIBE/SUBACK with topic filters (``+``
single-level and ``#`` multi-level wildcards, exactly the spec's
matching rules), UNSUBSCRIBE/UNSUBACK, PINGREQ/PINGRESP, DISCONNECT.

The broker half (`MqttBroker` + `serve_mqtt`) exists for the same
reason serve_smtp/serve_pop3 do: loopback sessions prove BOTH sides of
every exchange without a network; production points the client at a
real broker socket. Landed messages take the spool shape with the
reference's attribute surface (topic/qos/retained/dup).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool, read_exact

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, topic string, "
                 "qos int, retained boolean, dup boolean, "
                 "payload binary")

CONNECT, CONNACK, PUBLISH, PUBACK = 1, 2, 3, 4
PUBREC, PUBREL, PUBCOMP = 5, 6, 7
SUBSCRIBE, SUBACK, UNSUBSCRIBE, UNSUBACK = 8, 9, 10, 11
PINGREQ, PINGRESP, DISCONNECT = 12, 13, 14


class MqttError(IOError):
    pass


# ------------------------------------------------------------- codec


def encode_varint(n: int) -> bytes:
    if n > 268_435_455:
        raise MqttError("remaining length too large")
    out = bytearray()
    while True:
        b = n % 128
        n //= 128
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def read_packet(read) -> "tuple[int, int, bytes] | None":
    """→ (packet_type, flags, body) or None at clean EOF."""
    first = read(1)
    if not first:
        return None
    ptype, flags = first[0] >> 4, first[0] & 0x0F
    n = 0
    shift = 0
    for _ in range(4):
        b = read_exact(read, 1, MqttError)[0]
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    else:
        raise MqttError("malformed remaining length")
    return ptype, flags, read_exact(read, n, MqttError) if n else b""


def _mqtt_str(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">H", len(b)) + b


def _read_str(body: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">H", body, pos)
    return body[pos + 2:pos + 2 + n].decode(), pos + 2 + n


def encode_publish(topic: str, payload: bytes, *, qos: int = 0,
                   retain: bool = False, dup: bool = False,
                   packet_id: int = 0) -> bytes:
    flags = (0x08 if dup else 0) | (qos << 1) | (0x01 if retain else 0)
    body = _mqtt_str(topic)
    if qos > 0:
        body += struct.pack(">H", packet_id)
    body += payload
    return bytes([0x30 | flags]) + encode_varint(len(body)) + body


def topic_matches(filter_: str, topic: str) -> bool:
    """MQTT 3.1.1 §4.7 wildcard matching ('+' one level, '#' the rest;
    '#' only valid as the final level)."""
    fparts = filter_.split("/")
    tparts = topic.split("/")
    for i, fp in enumerate(fparts):
        if fp == "#":
            return i == len(fparts) - 1
        if i >= len(tparts):
            return False
        if fp != "+" and fp != tparts[i]:
            return False
    return len(fparts) == len(tparts)


# ------------------------------------------------------------- broker


@dataclass
class _Session:
    client_id: str = ""
    subscriptions: list[tuple[str, int]] = field(default_factory=list)


@dataclass
class MqttBroker:
    """Single-connection mini-broker: accepts CONNECT, stores
    subscriptions, collects QoS 0/1 publishes (PUBACK'd), delivers
    queued `outbound` (topic, payload, qos, retain) messages matching
    the session's filters after each SUBSCRIBE and on PINGREQ."""

    outbound: list[tuple[str, bytes, int, bool]] = \
        field(default_factory=list)
    received: list[tuple[str, bytes, int, bool, bool]] = \
        field(default_factory=list)

    def serve(self, read, write) -> int:
        sess = _Session()
        pkt = read_packet(read)
        if pkt is None or pkt[0] != CONNECT:
            raise MqttError("expected CONNECT")
        body = pkt[2]
        proto, pos = _read_str(body, 0)
        level = body[pos]
        if proto != "MQTT" or level != 4:
            write(bytes([CONNACK << 4, 2, 0, 0x01]))   # bad version
            raise MqttError(f"unsupported protocol {proto!r}/{level}")
        pos += 2                                    # level + flags
        pos += 2                                    # keepalive
        sess.client_id, pos = _read_str(body, pos)
        write(bytes([CONNACK << 4, 2, 0, 0x00]))    # session, accepted
        served = 0
        delivery_id = 1
        self._inflight: dict[int, tuple] = {}       # QoS-2 stash
        while True:
            pkt = read_packet(read)
            if pkt is None:
                return served
            ptype, flags, body = pkt
            if ptype == PUBLISH:
                qos = (flags >> 1) & 0x03
                topic, pos = _read_str(body, 0)
                pid = 0
                if qos > 0:
                    (pid,) = struct.unpack_from(">H", body, pos)
                    pos += 2
                msg = (topic, body[pos:], qos, bool(flags & 0x01),
                       bool(flags & 0x08))
                if qos == 2:
                    # exactly-once: stash under pid (a DUP re-publish
                    # overwrites, never duplicates) and release on
                    # PUBREL — MQTT 3.1.1 §4.3.3 method B
                    self._inflight[pid] = msg
                    write(bytes([PUBREC << 4, 2])
                          + struct.pack(">H", pid))
                    continue
                self.received.append(msg)
                if qos == 1:
                    write(bytes([PUBACK << 4, 2])
                          + struct.pack(">H", pid))
                served += 1
            elif ptype == PUBREL:
                (pid,) = struct.unpack_from(">H", body, 0)
                if pid in self._inflight:
                    self.received.append(self._inflight.pop(pid))
                    served += 1
                write(bytes([PUBCOMP << 4, 2]) + struct.pack(">H", pid))
            elif ptype == PUBREC:
                # ack leg for one of our QoS-2 deliveries → PUBREL
                (pid,) = struct.unpack_from(">H", body, 0)
                write(bytes([(PUBREL << 4) | 0x02, 2])
                      + struct.pack(">H", pid))
            elif ptype == PUBCOMP:
                pass            # final leg of our QoS-2 delivery
            elif ptype == SUBSCRIBE:
                (pid,) = struct.unpack_from(">H", body, 0)
                pos = 2
                granted = bytearray()
                while pos < len(body):
                    filt, pos = _read_str(body, pos)
                    q = body[pos]
                    pos += 1
                    sess.subscriptions.append((filt, min(q, 2)))
                    granted.append(min(q, 2))
                write(bytes([SUBACK << 4])
                      + encode_varint(2 + len(granted))
                      + struct.pack(">H", pid) + bytes(granted))
                delivery_id = self._deliver(write, sess, delivery_id)
            elif ptype == UNSUBSCRIBE:
                (pid,) = struct.unpack_from(">H", body, 0)
                pos = 2
                gone = []
                while pos < len(body):
                    filt, pos = _read_str(body, pos)
                    gone.append(filt)
                sess.subscriptions = [(f, q) for f, q in
                                      sess.subscriptions
                                      if f not in gone]
                write(bytes([UNSUBACK << 4, 2]) + struct.pack(">H", pid))
            elif ptype == PUBACK:
                pass            # ack for one of our QoS-1 deliveries
            elif ptype == PINGREQ:
                delivery_id = self._deliver(write, sess, delivery_id)
                write(bytes([PINGRESP << 4, 0]))
            elif ptype == DISCONNECT:
                return served
            else:
                raise MqttError(f"unexpected packet type {ptype}")

    def _deliver(self, write, sess: _Session, next_id: int) -> int:
        keep = []
        for topic, payload, qos, retain in self.outbound:
            subs = [q for f, q in sess.subscriptions
                    if topic_matches(f, topic)]
            if not subs:
                keep.append((topic, payload, qos, retain))
                continue
            eff = min(qos, max(subs))
            write(encode_publish(topic, payload, qos=eff,
                                 retain=retain,
                                 packet_id=next_id if eff else 0))
            if eff:
                next_id += 1
        self.outbound = keep
        return next_id


# ------------------------------------------------------------- client


class MqttClient:
    """The paho-shaped surface ConsumeMQTT/PublishMQTT need: connect,
    publish (QoS 0/1 with PUBACK wait), subscribe, and a receive drain
    (PUBACKs QoS-1 deliveries)."""

    def __init__(self, read, write, *, client_id: str = "nifi-spark",
                 keepalive: int = 60):
        self.read, self.write = read, write
        body = (_mqtt_str("MQTT") + bytes([4, 0x02])   # clean session
                + struct.pack(">H", keepalive) + _mqtt_str(client_id))
        self.write(bytes([CONNECT << 4]) + encode_varint(len(body))
                   + body)
        pkt = read_packet(self.read)
        if pkt is None or pkt[0] != CONNACK or pkt[2][1] != 0:
            raise MqttError(f"connection refused: {pkt}")
        self._pid = 1

    def publish(self, topic: str, payload: bytes, *, qos: int = 0,
                retain: bool = False) -> None:
        pid = self._pid if qos else 0
        self.write(encode_publish(topic, payload, qos=qos,
                                  retain=retain, packet_id=pid))
        if qos == 1:
            pkt = read_packet(self.read)
            if (pkt is None or pkt[0] != PUBACK
                    or struct.unpack(">H", pkt[2][:2])[0] != pid):
                raise MqttError(f"expected PUBACK {pid}, got {pkt}")
            self._pid += 1
        elif qos == 2:                      # four-way: REC → REL → COMP
            pkt = read_packet(self.read)
            if (pkt is None or pkt[0] != PUBREC
                    or struct.unpack(">H", pkt[2][:2])[0] != pid):
                raise MqttError(f"expected PUBREC {pid}, got {pkt}")
            self.write(bytes([(PUBREL << 4) | 0x02, 2])
                       + struct.pack(">H", pid))
            pkt = read_packet(self.read)
            if (pkt is None or pkt[0] != PUBCOMP
                    or struct.unpack(">H", pkt[2][:2])[0] != pid):
                raise MqttError(f"expected PUBCOMP {pid}, got {pkt}")
            self._pid += 1

    def subscribe(self, *filters: str, qos: int = 1) -> list[int]:
        body = struct.pack(">H", self._pid)
        for f in filters:
            body += _mqtt_str(f) + bytes([qos])
        self.write(bytes([(SUBSCRIBE << 4) | 0x02])
                   + encode_varint(len(body)) + body)
        granted: list[int] = []
        deliveries = []
        while True:
            pkt = read_packet(self.read)
            if pkt is None:
                raise MqttError("EOF awaiting SUBACK")
            if pkt[0] == SUBACK:
                granted = list(pkt[2][2:])
                break
            deliveries.append(pkt)          # early deliveries buffered
        self._early = getattr(self, "_early", []) + deliveries
        self._pid += 1
        return granted

    def drain(self) -> list[tuple[str, bytes, int, bool, bool]]:
        """PINGREQ then read deliveries until PINGRESP; QoS-1
        deliveries are PUBACK'd. → (topic, payload, qos, retain, dup)."""
        self.write(bytes([PINGREQ << 4, 0]))
        out = []
        pending = getattr(self, "_early", [])
        self._early = []
        inflight = getattr(self, "_inflight_rx", {})
        self._inflight_rx = inflight
        while True:
            pkt = pending.pop(0) if pending else read_packet(self.read)
            if pkt is None:
                raise MqttError("EOF awaiting PINGRESP")
            ptype, flags, body = pkt
            if ptype == PINGRESP:
                return out
            if ptype == PUBREL:
                # release leg of an inbound QoS-2 delivery (§4.3.3 —
                # may arrive in a LATER drain than its PUBLISH, since
                # the broker's PUBREL answers our PUBREC)
                (pid,) = struct.unpack_from(">H", body, 0)
                if pid in inflight:
                    out.append(inflight.pop(pid))
                self.write(bytes([PUBCOMP << 4, 2])
                           + struct.pack(">H", pid))
                continue
            if ptype != PUBLISH:
                raise MqttError(f"unexpected packet {ptype}")
            qos = (flags >> 1) & 0x03
            topic, pos = _read_str(body, 0)
            pid = 0
            if qos:
                (pid,) = struct.unpack_from(">H", body, pos)
                pos += 2
            msg = (topic, body[pos:], qos, bool(flags & 0x01),
                   bool(flags & 0x08))
            if qos == 2:
                inflight[pid] = msg         # released on PUBREL
                self.write(bytes([PUBREC << 4, 2])
                           + struct.pack(">H", pid))
                continue
            if qos == 1:
                self.write(bytes([PUBACK << 4, 2])
                           + struct.pack(">H", pid))
            out.append(msg)

    def disconnect(self) -> None:
        self.write(bytes([DISCONNECT << 4, 0]))


def mqtt_loopback(broker: MqttBroker):
    """Broker on a socketpair thread → (client_read, client_write,
    join); join() returns the broker's served-publish count."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: list[int] = []
    errs: list[BaseException] = []

    def run():
        try:
            result.append(broker.serve(b.recv, b.sendall))
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def join(timeout: float = 30.0) -> int:
        t.join(timeout)
        a.close()
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("mqtt broker did not finish")
        return result[0] if result else 0

    return a.recv, a.sendall, join


class ConsumeMQTTSource:
    """Drain-to-spool bridge: subscribe + drain per call → one spool
    file with the reference's attribute surface (ConsumeMQTT.java's
    mqtt.topic/qos/isRetained/isDuplicate)."""

    _MAX_PER_BATCH = 1_000_000

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        self._spool = Spool(spool_dir)

    def drain(self, client: MqttClient, *filters: str) -> int:
        import pyarrow as pa

        if filters:
            client.subscribe(*filters)
        msgs = client.drain()
        if not msgs:
            return 0
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(msgs), pa.int64()),
            "msg_idx": pa.array(range(len(msgs)), pa.int64()),
            "topic": pa.array([t for t, *_ in msgs], pa.string()),
            "qos": pa.array([q for _, _, q, _, _ in msgs], pa.int32()),
            "retained": pa.array([r for *_, r, _ in msgs], pa.bool_()),
            "dup": pa.array([d for *_, d in msgs], pa.bool_()),
            "payload": pa.array([p for _, p, *_ in msgs], pa.binary()),
        })
        self._spool.land(table)
        return len(msgs)

    def read(self, spark: SparkSession) -> DataFrame:
        df = spark.read.schema(_SPOOL_SCHEMA).parquet(self.spool_dir)
        return df.withColumn(
            "msg_seq",
            F.col("batch_id") * self._MAX_PER_BATCH + F.col("msg_idx"))
