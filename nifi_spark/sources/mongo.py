"""GetMongo analog — the MongoDB wire protocol (OP_MSG) and BSON,
implemented from the public specs (bsonspec.org; the OP_MSG section of
the MongoDB wire-protocol documentation).

NiFi ancestor: nifi-mongodb-bundle GetMongo.java — properties Query /
Projection / Sort / Limit / Batch Size; one FlowFile per result
document, document serialized as JSON, `mongo.database` /
`mongo.collection` attributes. The reference rides the mongo-java
driver; here the wire format itself is implemented: BSON documents
(double, string, embedded document, array, binary, ObjectId, bool,
null, int32, int64 — the types the connector surface can produce),
OP_MSG framing (kind-0 body sections, exhaustAllowed/moreToCome
ignored, checksum refused as unsupported), and the command set the
driver actually issues for this processor: `hello`, `insert`, `find`
(filter/sort/limit/projection/batchSize), `getMore`, `killCursors`.

The in-process `MongoServer` holds collections in memory with REAL
cursor state — a `find` with batchSize < result size hands back a
live cursor id and subsequent `getMore`s page through it, exactly the
dance the reference's iterator triggers. Filters support equality and
the $gt/$gte/$lt/$lte/$ne/$in operators GetMongo queries typically
carry.

Transport = the repo's injectable byte-stream convention
(``read(n)``/``write(b)``; tests loop back on a socketpair,
production wraps a TCP socket).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool, read_exact


class MongoError(IOError):
    pass


class ObjectId:
    """12-byte BSON ObjectId (type 0x07)."""

    __slots__ = ("value",)

    def __init__(self, value: bytes):
        if len(value) != 12:
            raise MongoError("ObjectId must be 12 bytes")
        self.value = value

    def __eq__(self, other):
        return isinstance(other, ObjectId) and self.value == other.value

    def __hash__(self):
        return hash(self.value)

    def __repr__(self):
        return f"ObjectId({self.value.hex()})"


# --------------------------------------------------------------- BSON


def bson_encode(doc: dict) -> bytes:
    body = b"".join(_bson_elem(k, v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def _cstr(s: str) -> bytes:
    b = s.encode()
    if b"\x00" in b:
        raise MongoError("BSON key may not contain NUL")
    return b + b"\x00"


def _bson_elem(key: str, v) -> bytes:
    k = _cstr(key)
    if isinstance(v, bool):                    # before int — bool IS int
        return b"\x08" + k + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + k + struct.pack("<d", v)
    if isinstance(v, str):
        b = v.encode()
        return b"\x02" + k + struct.pack("<i", len(b) + 1) + b + b"\x00"
    if isinstance(v, dict):
        return b"\x03" + k + bson_encode(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + k + bson_encode(
            {str(i): x for i, x in enumerate(v)})
    if isinstance(v, (bytes, bytearray)):
        return (b"\x05" + k + struct.pack("<i", len(v)) + b"\x00"
                + bytes(v))                    # subtype 0 (generic)
    if isinstance(v, ObjectId):
        return b"\x07" + k + v.value
    if v is None:
        return b"\x0a" + k
    if isinstance(v, int):
        if -(2 ** 31) <= v < 2 ** 31:
            return b"\x10" + k + struct.pack("<i", v)
        return b"\x12" + k + struct.pack("<q", v)
    raise MongoError(f"unencodable BSON value {type(v).__name__}")


def bson_decode(buf: bytes) -> dict:
    doc, n = _bson_doc(buf, 0)
    if n != len(buf):
        raise MongoError("trailing bytes after BSON document")
    return doc


def _bson_doc(buf: bytes, pos: int) -> tuple[dict, int]:
    (total,) = struct.unpack_from("<i", buf, pos)
    end = pos + total
    if buf[end - 1] != 0:
        raise MongoError("BSON document missing terminator")
    p = pos + 4
    out: dict = {}
    while p < end - 1:
        tag = buf[p]
        p += 1
        z = buf.index(b"\x00", p)
        key = buf[p:z].decode()
        p = z + 1
        if tag == 0x01:
            out[key] = struct.unpack_from("<d", buf, p)[0]
            p += 8
        elif tag == 0x02:
            (ln,) = struct.unpack_from("<i", buf, p)
            out[key] = buf[p + 4:p + 3 + ln].decode()
            p += 4 + ln
        elif tag in (0x03, 0x04):
            sub, p = _bson_doc(buf, p)
            out[key] = (list(sub.values()) if tag == 0x04 else sub)
        elif tag == 0x05:
            (ln,) = struct.unpack_from("<i", buf, p)
            out[key] = bytes(buf[p + 5:p + 5 + ln])
            p += 5 + ln
        elif tag == 0x07:
            out[key] = ObjectId(bytes(buf[p:p + 12]))
            p += 12
        elif tag == 0x08:
            out[key] = buf[p] == 1
            p += 1
        elif tag == 0x0A:
            out[key] = None
        elif tag == 0x10:
            out[key] = struct.unpack_from("<i", buf, p)[0]
            p += 4
        elif tag == 0x12:
            out[key] = struct.unpack_from("<q", buf, p)[0]
            p += 8
        else:
            raise MongoError(f"unsupported BSON type 0x{tag:02x}")
    return out, end


# ------------------------------------------------------------- OP_MSG

OP_MSG = 2013
_FLAG_CHECKSUM = 1


def encode_op_msg(request_id: int, body: dict, *,
                  response_to: int = 0) -> bytes:
    payload = struct.pack("<I", 0) + b"\x00" + bson_encode(body)
    return struct.pack("<iiii", len(payload) + 16, request_id,
                       response_to, OP_MSG) + payload


def read_op_msg(read) -> "tuple[int, int, dict] | None":
    """Read one OP_MSG from a stream; returns (request_id,
    response_to, body) or None on clean EOF."""
    hdr = read_exact(read, 16, MongoError, eof_ok=True)
    if hdr is None:
        return None
    total, req_id, resp_to, opcode = struct.unpack("<iiii", hdr)
    rest = read_exact(read, total - 16, MongoError)
    if opcode != OP_MSG:
        raise MongoError(f"unsupported opcode {opcode}")
    (flags,) = struct.unpack_from("<I", rest, 0)
    if flags & _FLAG_CHECKSUM:
        raise MongoError("checksumPresent is not supported")
    p = 4
    body: dict | None = None
    extra: dict[str, list] = {}
    while p < len(rest):
        kind = rest[p]
        p += 1
        if kind == 0:
            (ln,) = struct.unpack_from("<i", rest, p)
            body = bson_decode(rest[p:p + ln])
            p += ln
        elif kind == 1:                       # document sequence
            (secln,) = struct.unpack_from("<i", rest, p)
            send = p + secln
            q = p + 4
            z = rest.index(b"\x00", q)
            ident = rest[q:z].decode()
            q = z + 1
            docs = []
            while q < send:
                (ln,) = struct.unpack_from("<i", rest, q)
                docs.append(bson_decode(rest[q:q + ln]))
                q += ln
            extra[ident] = docs
            p = send
        else:
            raise MongoError(f"unknown OP_MSG section kind {kind}")
    if body is None:
        raise MongoError("OP_MSG without a kind-0 body section")
    for ident, docs in extra.items():
        body.setdefault(ident, docs)
    return req_id, resp_to, body


# -------------------------------------------------------------- server


def _match(doc: dict, flt: dict) -> bool:
    for key, cond in flt.items():
        have = doc.get(key)
        if isinstance(cond, dict) and any(k.startswith("$")
                                          for k in cond):
            for op, rhs in cond.items():
                if op == "$exists":
                    if (key in doc) != bool(rhs):
                        return False
                    continue
                if have is None:
                    return False
                if op == "$gt" and not have > rhs:
                    return False
                if op == "$gte" and not have >= rhs:
                    return False
                if op == "$lt" and not have < rhs:
                    return False
                if op == "$lte" and not have <= rhs:
                    return False
                if op == "$ne" and not have != rhs:
                    return False
                if op == "$in" and have not in rhs:
                    return False
                if op not in ("$gt", "$gte", "$lt", "$lte", "$ne",
                              "$in", "$exists"):
                    raise MongoError(f"unsupported operator {op}")
        elif have != cond:
            return False
    return True


class MongoServer:
    """In-memory server speaking OP_MSG with real cursor paging."""

    def __init__(self, dbname: str = "nifi"):
        self.dbname = dbname
        self.collections: dict[str, list[dict]] = {}
        self._cursors: dict[int, list[dict]] = {}
        self._next_cursor = 1000
        self.commands_served = 0

    # -- command handlers ------------------------------------------
    def _cmd_find(self, body: dict) -> dict:
        coll = body["find"]
        docs = [d for d in self.collections.get(coll, [])
                if _match(d, body.get("filter") or {})]
        for key, direction in reversed(list(
                (body.get("sort") or {}).items())):
            # missing fields compare as null = lowest (Mongo order);
            # the presence flag keeps None from meeting int/str
            docs.sort(key=lambda d: (d.get(key) is not None,
                                     d.get(key)),
                      reverse=direction < 0)
        limit = body.get("limit") or 0
        if limit:
            docs = docs[:limit]
        if body.get("projection"):
            proj = body["projection"]
            keep = {k for k, v in proj.items() if v}
            docs = [{k: v for k, v in d.items()
                     if k in keep or (k == "_id" and proj.get("_id", 1))}
                    for d in docs]
        batch = body.get("batchSize") or 101
        first, rest = docs[:batch], docs[batch:]
        cid = 0
        if rest:
            cid = self._next_cursor
            self._next_cursor += 1
            self._cursors[cid] = rest
        return {"cursor": {"firstBatch": first, "id": cid,
                           "ns": f"{self.dbname}.{coll}"}, "ok": 1.0}

    def _cmd_get_more(self, body: dict) -> dict:
        cid = body["getMore"]
        pending = self._cursors.get(cid)
        if pending is None:
            return {"ok": 0.0, "errmsg": "cursor not found",
                    "code": 43}
        batch = body.get("batchSize") or 101
        out, rest = pending[:batch], pending[batch:]
        if rest:
            self._cursors[cid] = rest
            nxt = cid
        else:
            del self._cursors[cid]
            nxt = 0
        return {"cursor": {"nextBatch": out, "id": nxt,
                           "ns": f"{self.dbname}.{body['collection']}"},
                "ok": 1.0}

    def handle(self, body: dict) -> dict:
        self.commands_served += 1
        if "hello" in body or "isMaster" in body:
            return {"isWritablePrimary": True, "maxWireVersion": 17,
                    "minWireVersion": 0, "ok": 1.0}
        if "insert" in body:
            docs = body.get("documents") or []
            self.collections.setdefault(body["insert"], []).extend(docs)
            return {"n": len(docs), "ok": 1.0}
        if "find" in body:
            return self._cmd_find(body)
        if "getMore" in body:
            return self._cmd_get_more(body)
        if "killCursors" in body:
            killed = [c for c in body.get("cursors", [])
                      if self._cursors.pop(c, None) is not None]
            return {"cursorsKilled": killed, "ok": 1.0}
        return {"ok": 0.0, "errmsg": "no such command", "code": 59}

    def serve(self, read, write) -> int:
        """Request loop until EOF; returns commands served."""
        n = 0
        while True:
            msg = read_op_msg(read)
            if msg is None:
                return n
            req_id, _, body = msg
            write(encode_op_msg(10_000 + n, self.handle(body),
                                response_to=req_id))
            n += 1


# -------------------------------------------------------------- client


class MongoClient:
    def __init__(self, read, write, db: str = "nifi"):
        self._read, self._write = read, write
        self.db = db
        self._req = 0
        hello = self._cmd({"hello": 1, "$db": db})
        if not hello.get("ok"):
            raise MongoError(f"handshake failed: {hello}")

    def _cmd(self, body: dict) -> dict:
        self._req += 1
        body.setdefault("$db", self.db)
        self._write(encode_op_msg(self._req, body))
        msg = read_op_msg(self._read)
        if msg is None:
            raise MongoError("server closed connection")
        _, resp_to, reply = msg
        if resp_to != self._req:
            raise MongoError(f"responseTo {resp_to} != {self._req}")
        return reply

    def insert(self, collection: str, docs: list[dict]) -> int:
        r = self._cmd({"insert": collection, "documents": list(docs)})
        if not r.get("ok"):
            raise MongoError(f"insert failed: {r}")
        return r["n"]

    def find(self, collection: str, flt: dict | None = None, *,
             sort: dict | None = None, limit: int = 0,
             projection: dict | None = None,
             batch_size: int = 0):
        """Full iterator: find + getMore paging until the cursor is
        exhausted (GetMongo.java's while(cursor.hasNext()) loop)."""
        body: dict = {"find": collection, "filter": flt or {}}
        if sort:
            body["sort"] = sort
        if limit:
            body["limit"] = limit
        if projection:
            body["projection"] = projection
        if batch_size:
            body["batchSize"] = batch_size
        r = self._cmd(body)
        if not r.get("ok"):
            raise MongoError(f"find failed: {r}")
        docs = list(r["cursor"]["firstBatch"])
        cid = r["cursor"]["id"]
        while cid:
            body2: dict = {"getMore": cid, "collection": collection}
            if batch_size:
                body2["batchSize"] = batch_size
            r = self._cmd(body2)
            if not r.get("ok"):
                raise MongoError(f"getMore failed: {r}")
            docs.extend(r["cursor"]["nextBatch"])
            cid = r["cursor"]["id"]
        return docs

    def kill_cursors(self, collection: str, ids: list[int]) -> list[int]:
        r = self._cmd({"killCursors": collection, "cursors": ids})
        return r.get("cursorsKilled", [])


def mongo_loopback(server: MongoServer):
    """Server on a socketpair thread → (read, write, join)."""
    import socket
    import threading

    a, b = socket.socketpair()
    errs: list[BaseException] = []
    result: list[int] = []

    def run():
        try:
            result.append(server.serve(b.recv, b.sendall))
        except BaseException as exc:      # surfaced via join()
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def join(timeout: float = 30.0) -> int:
        a.close()
        t.join(timeout)
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("mongo server did not finish")
        return result[0] if result else 0

    return a.recv, a.sendall, join


# -------------------------------------------------------- spool bridge


def _doc_json(doc: dict) -> str:
    """GetMongo serializes each Document as JSON; binary/ObjectId take
    their hex form (the driver's extended-JSON analog, kept simple and
    deterministic)."""
    def conv(v):
        if isinstance(v, ObjectId):
            return {"$oid": v.value.hex()}
        if isinstance(v, (bytes, bytearray)):
            return {"$binary": bytes(v).hex()}
        if isinstance(v, dict):
            return {k: conv(x) for k, x in v.items()}
        if isinstance(v, list):
            return [conv(x) for x in v]
        return v
    return json.dumps(conv(doc), separators=(",", ":"), sort_keys=True)


class GetMongoSource:
    """GetMongo → parquet spool: one row per result document, the
    reference's attribute surface (`mongo.database`,
    `mongo.collection`), document body as its JSON serialization."""

    _MAX_PER_BATCH = 1_000_000

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        self._spool = Spool(spool_dir)

    def drain(self, client: MongoClient, collection: str,
              query: dict | None = None, *, sort: dict | None = None,
              limit: int = 0, projection: dict | None = None,
              batch_size: int = 0) -> int:
        import pyarrow as pa

        docs = client.find(collection, query, sort=sort, limit=limit,
                           projection=projection, batch_size=batch_size)
        if not docs:
            return 0
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(docs), pa.int64()),
            "doc_seq": pa.array(range(len(docs)), pa.int64()),
            "database": pa.array([client.db] * len(docs), pa.string()),
            "collection": pa.array([collection] * len(docs),
                                   pa.string()),
            "payload": pa.array([_doc_json(d) for d in docs],
                                pa.string()),
        })
        self._spool.land(table)
        return len(docs)

    def read(self, spark: SparkSession) -> DataFrame:
        return (spark.read.parquet(self.spool_dir)
                .withColumn("doc_seq",
                            F.col("batch_id") * self._MAX_PER_BATCH
                            + F.col("doc_seq")))
