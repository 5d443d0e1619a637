"""GetCouchbaseKey / PutCouchbaseKey analogs (nifi-couchbase-bundle)
over the REAL KV wire: the memcached binary protocol, which is what
the Couchbase SDK speaks for key-value ops (public protocol:
memcached/docs/BinaryProtocol — 24-byte header, magic 0x80 request /
0x81 response, GET 0x00 / SET 0x01 / DELETE 0x04, status 0x0000 OK /
0x0001 KEY_ENOENT / 0x0002 KEY_EEXISTS on a CAS mismatch).

NiFi ancestors:
- GetCouchbaseKey.java:40-110 — doc id from the Document Id property
  (EL) or, unset, the whole FlowFile content; empty id → ProcessException;
  missing doc → failure with couchbase.exception attribute; found →
  content replaced + couchbase.cluster/bucket/doc.id/cas/expiry
  attributes, original preserved on REL_ORIGINAL.
- PutCouchbaseKey.java — content stored under the id (generated UUID
  when unset in the reference; REQUIRED here — determinism), CAS
  returned in couchbase.cas.
- ErrorHandlingStrategy.java — temporary failures (backpressure) →
  retry relationship; fatal → failure. The server seam can be told to
  answer 0x0086 (temporary failure) to exercise that route.

Client and server speak over injectable duplex streams or the
socketpair loopback."""

from __future__ import annotations

import struct
import threading

from ..durable import read_exact

MAGIC_REQ = 0x80
MAGIC_RES = 0x81
OP_GET = 0x00
OP_SET = 0x01
OP_DELETE = 0x04
STATUS_OK = 0x0000
STATUS_KEY_ENOENT = 0x0001
STATUS_KEY_EEXISTS = 0x0002
STATUS_ETMPFAIL = 0x0086


def pack_packet(magic: int, opcode: int, *, key: bytes = b"",
                extras: bytes = b"", value: bytes = b"",
                status_or_vbucket: int = 0, opaque: int = 0,
                cas: int = 0) -> bytes:
    body = extras + key + value
    return struct.pack(">BBHBBHIIQ", magic, opcode, len(key),
                       len(extras), 0, status_or_vbucket, len(body),
                       opaque, cas) + body


def read_packet(inp) -> dict:
    head = read_exact(inp.read, 24)
    (magic, opcode, keylen, extlen, _dt, status, bodylen, opaque,
     cas) = struct.unpack(">BBHBBHIIQ", head)
    body = read_exact(inp.read, bodylen) if bodylen else b""
    return {"magic": magic, "opcode": opcode, "status": status,
            "opaque": opaque, "cas": cas,
            "extras": body[:extlen],
            "key": body[extlen:extlen + keylen],
            "value": body[extlen + keylen:]}


class CouchbaseBucket:
    """Server-side store: key → (value, flags, cas, expiry); CAS is a
    deterministic counter. `tmpfail_keys` answer ETMPFAIL — the
    backpressure seam for the retry route."""

    def __init__(self, name: str = "default"):
        self.name = name
        self.docs: dict[bytes, tuple[bytes, int, int, int]] = {}
        self._cas = 0
        self.tmpfail_keys: set[bytes] = set()

    def serve(self, inp, out) -> None:
        while True:
            try:
                req = read_packet(inp)
            except EOFError:
                return
            if req["magic"] != MAGIC_REQ:
                raise IOError("bad request magic")
            op, key = req["opcode"], req["key"]
            if key in self.tmpfail_keys:
                out.write(pack_packet(MAGIC_RES, op,
                                      status_or_vbucket=STATUS_ETMPFAIL,
                                      opaque=req["opaque"]))
                out.flush()
                continue
            if op == OP_GET:
                doc = self.docs.get(key)
                if doc is None:
                    pkt = pack_packet(MAGIC_RES, op,
                                      status_or_vbucket=STATUS_KEY_ENOENT,
                                      opaque=req["opaque"],
                                      value=b"Not found")
                else:
                    val, flags, cas, _exp = doc
                    pkt = pack_packet(MAGIC_RES, op,
                                      extras=struct.pack(">I", flags),
                                      value=val, opaque=req["opaque"],
                                      cas=cas)
            elif op == OP_SET:
                flags, _expiry = struct.unpack(">II", req["extras"])
                existing = self.docs.get(key)
                if req["cas"] and (existing is None
                                   or existing[2] != req["cas"]):
                    pkt = pack_packet(MAGIC_RES, op,
                                      status_or_vbucket=STATUS_KEY_EEXISTS,
                                      opaque=req["opaque"])
                else:
                    self._cas += 1
                    self.docs[key] = (req["value"], flags, self._cas,
                                      _expiry)
                    pkt = pack_packet(MAGIC_RES, op, opaque=req["opaque"],
                                      cas=self._cas)
            elif op == OP_DELETE:
                if key in self.docs:
                    del self.docs[key]
                    pkt = pack_packet(MAGIC_RES, op, opaque=req["opaque"])
                else:
                    pkt = pack_packet(MAGIC_RES, op,
                                      status_or_vbucket=STATUS_KEY_ENOENT,
                                      opaque=req["opaque"])
            else:
                raise IOError(f"opcode {op:#x} unsupported")
            out.write(pkt)
            out.flush()


class CouchbaseError(IOError):
    def __init__(self, status: int, msg: str = ""):
        super().__init__(msg or f"status {status:#06x}")
        self.status = status


class CouchbaseClient:
    """Binary-protocol KV client."""

    def __init__(self, inp, out):
        self._in, self._out = inp, out
        self._opaque = 0

    def _round(self, pkt: bytes) -> dict:
        self._out.write(pkt)
        self._out.flush()
        res = read_packet(self._in)
        if res["magic"] != MAGIC_RES:
            raise IOError("bad response magic")
        return res

    def get(self, key: bytes) -> dict:
        self._opaque += 1
        res = self._round(pack_packet(MAGIC_REQ, OP_GET, key=key,
                                      opaque=self._opaque))
        if res["status"] != STATUS_OK:
            raise CouchbaseError(res["status"])
        return {"value": res["value"], "cas": res["cas"],
                "flags": struct.unpack(">I", res["extras"])[0]}

    def set(self, key: bytes, value: bytes, *, flags: int = 0,
            expiry: int = 0, cas: int = 0) -> int:
        self._opaque += 1
        res = self._round(pack_packet(
            MAGIC_REQ, OP_SET, key=key, value=value,
            extras=struct.pack(">II", flags, expiry),
            opaque=self._opaque, cas=cas))
        if res["status"] != STATUS_OK:
            raise CouchbaseError(res["status"])
        return res["cas"]

    def delete(self, key: bytes) -> None:
        self._opaque += 1
        res = self._round(pack_packet(MAGIC_REQ, OP_DELETE, key=key,
                                      opaque=self._opaque))
        if res["status"] != STATUS_OK:
            raise CouchbaseError(res["status"])


def couchbase_loopback(bucket: CouchbaseBucket):
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
            bucket.serve(s, s)
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
            raise TimeoutError("couchbase server did not finish")

    s = _S(a)
    return s, s, join


# ------------------------------------------- processor semantics

# Couchbase SDK common flags for the two DocumentType values GetCouchbase
# uses (JSON / BINARY in the upper byte of the legacy format)
FLAGS_JSON = 0x02 << 24
FLAGS_BINARY = 0x03 << 24


def get_couchbase_key(rows: "list[dict]", client: CouchbaseClient, *,
                      cluster: str = "couchbase://localhost",
                      bucket: str = "default",
                      doc_id_key: str | None = "doc_id"):
    """GetCouchbaseKey over a list of row dicts: doc id from
    row[doc_id_key] or, when doc_id_key is None, row['content'].
    Returns (fetched_rows, failures, retries): fetched rows carry the
    payload + the reference's couchbase.* attributes."""
    fetched: list[dict] = []
    failures: list[dict] = []
    retries: list[dict] = []
    for row in rows:
        doc_id = row.get(doc_id_key) if doc_id_key else row.get("content")
        if not doc_id:
            raise CouchbaseError(-1, "Please check 'Document Id'")
        try:
            doc = client.get(str(doc_id).encode())
        except CouchbaseError as e:
            target = retries if e.status == STATUS_ETMPFAIL else failures
            target.append({**row,
                           "couchbase.exception":
                               "DocumentDoesNotExistException"
                               if e.status == STATUS_KEY_ENOENT
                               else f"status_{e.status:#06x}"})
            continue
        fetched.append({
            "content": doc["value"].decode("utf-8", "surrogateescape"),
            "couchbase.cluster": cluster,
            "couchbase.bucket": bucket,
            "couchbase.doc.id": str(doc_id),
            "couchbase.cas": str(doc["cas"]),
            "couchbase.expiry": "0"})
    return fetched, failures, retries


def put_couchbase_key(rows: "list[dict]", client: CouchbaseClient, *,
                      doc_id_key: str = "doc_id",
                      content_key: str = "content",
                      document_type: str = "Json"):
    """PutCouchbaseKey: store each row's content under its id; returns
    (stored_rows_with_cas, retries)."""
    flags = FLAGS_JSON if document_type == "Json" else FLAGS_BINARY
    stored: list[dict] = []
    retries: list[dict] = []
    for row in rows:
        content = row[content_key]
        if isinstance(content, str):
            content = content.encode()
        try:
            cas = client.set(str(row[doc_id_key]).encode(), content,
                             flags=flags)
        except CouchbaseError as e:
            if e.status == STATUS_ETMPFAIL:
                retries.append(row)
                continue
            raise
        stored.append({**row, "couchbase.cas": str(cas)})
    return stored, retries
