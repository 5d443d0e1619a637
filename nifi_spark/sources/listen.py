"""Listen-source bridge — ListenSyslog / ListenTCP / ListenUDP analogs.

NiFi ancestors: ListenSyslog (standard/ListenSyslog.java:370-470 — the
max-batch-size drain loop over the event queue, per-sender grouping,
sender/protocol/port default attributes, parse → 'invalid' routing),
ListenTCP (standard/ListenTCP.java:60 — newline/demarcator framing of
the TCP byte stream into messages), ListenUDP (datagram = message).

Design: in the reference too, the listener is a SINGLE-NODE
control-plane concern — one socket on one host, drained by one
processor thread. The Spark-honest analog is a driver-side drain loop
that lands batches of raw messages into spool files (one parquet file
per drain, written via pyarrow — no Spark job on the landing path, so
the drain's cost is the socket's, not the cluster's), after which the
data plane reads the spool as an ordinary parquet table: distributed
scans, `parse_syslog` routing, the ledgered CDC path — all downstream
of the bridge. At scale you run one bridge per ingest host (exactly
like a NiFi listener per node) and point one Spark reader at the union
of their spool directories; landed files are immutable and
monotonically named, so readers use the `list_file`-style watermark
pattern to consume them incrementally.

The byte feed is injectable (`recv`), like every transport in this
repo (http fetcher, dns resolver, whois lookup): production wires a
real socket; tests and gates inject a deterministic feed and never
need a port.

Crash contract: a spool file is visible only after its atomic rename;
a crash mid-drain loses at most the in-memory batch — identical to the
reference, whose queued ByteBuffers die with the JVM (UDP datagrams
are fire-and-forget there too). Batch ids are recovered from the spool
listing at construction, so restarts never reuse a file name.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool

# recv() -> (sender, payload_bytes) for one datagram / socket read, or
# None when the queue is empty (the poll-timeout analog).
Recv = Callable[[], "tuple[str, bytes] | None"]

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, sender string, "
                 "protocol string, port int, raw string")

_MAX_PER_BATCH = 1_000_000  # msg_seq packing bound, enforced loudly


class ListenSource:
    """Base drain-to-spool bridge. `framing`:

    * ``'datagram'`` — one ``recv()`` payload is one message (ListenUDP,
      ListenSyslog-over-UDP).
    * ``'demarcated'`` — payloads are a byte STREAM per sender; messages
      are split on `demarcator`, with the undelimited tail carried in a
      per-sender buffer across reads AND across drains (ListenTCP's
      framing: a message is only emitted once its demarcator arrives).
    """

    def __init__(self, spool_dir: str, *, protocol: str = "UDP",
                 port: int = 514, framing: str = "datagram",
                 demarcator: bytes = b"\n", charset: str = "utf-8"):
        if framing not in ("datagram", "demarcated"):
            raise ValueError(f"unknown framing {framing!r}")
        self.spool_dir = spool_dir
        self.protocol = protocol
        self.port = port
        self.framing = framing
        self.demarcator = demarcator
        self.charset = charset
        self._carry: dict[str, bytes] = {}   # per-sender TCP tail
        # crash-safe monotonic batch ids: recover from the spool listing
        self._spool = Spool(spool_dir)

    # ------------------------------------------------------------ drain

    def _messages(self, recv: Recv, max_batch_size: int
                  ) -> Iterator[tuple[str, bytes]]:
        """The reference's onTrigger loop: poll up to max_batch_size
        messages, stopping early when the queue runs dry
        (ListenSyslog.java:400-410)."""
        emitted = 0
        while emitted < max_batch_size:
            item = recv()
            if item is None:
                break
            sender, payload = item
            if self.framing == "datagram":
                yield sender, payload
                emitted += 1
                continue
            buf = self._carry.get(sender, b"") + payload
            parts = buf.split(self.demarcator)
            self._carry[sender] = parts.pop()  # undelimited tail
            for msg in parts:
                if msg:  # empty frames (double demarcator) are dropped
                    yield sender, msg
                    emitted += 1

    def drain(self, recv: Recv, max_batch_size: int = 1000) -> int:
        """One drain → at most one landed spool file. Returns the number
        of messages landed (0 = nothing written, like the reference's
        early return on an empty queue)."""
        import pyarrow as pa

        rows = list(self._messages(recv, max_batch_size))
        if not rows:
            return 0
        if len(rows) > _MAX_PER_BATCH:
            raise ValueError(f"drain batch {len(rows)} exceeds msg_seq "
                             f"packing bound {_MAX_PER_BATCH}")
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(rows), pa.int64()),
            "msg_idx": pa.array(range(len(rows)), pa.int64()),
            "sender": pa.array([s for s, _ in rows], pa.string()),
            "protocol": pa.array([self.protocol] * len(rows), pa.string()),
            "port": pa.array([self.port] * len(rows), pa.int32()),
            "raw": pa.array([p.decode(self.charset, errors="replace")
                             for _, p in rows], pa.string()),
        })
        self._spool.land(table)
        return len(rows)

    def drain_all(self, recv: Recv, max_batch_size: int = 1000) -> int:
        """Drain until the feed reports empty. One spool file per
        max_batch_size messages."""
        total = 0
        while (n := self.drain(recv, max_batch_size)):
            total += n
        return total

    # ------------------------------------------------------------- read

    def read(self, spark: SparkSession) -> DataFrame:
        """The landed table: batch_id, msg_idx, sender, protocol, port,
        raw (+ msg_seq, a global arrival order usable as an enforce-order
        / watermark key downstream)."""
        df = spark.read.schema(_SPOOL_SCHEMA).parquet(self.spool_dir)
        return df.withColumn(
            "msg_seq",
            F.col("batch_id") * _MAX_PER_BATCH + F.col("msg_idx"))

    def read_stream(self, spark: SparkSession,
                    max_files_per_trigger: "int | None" = None
                    ) -> DataFrame:
        """Continuous consumption: the spool is a Structured Streaming
        file source (spool files are immutable + atomically renamed, the
        exact contract the file source requires). Each drain() lands one
        file → one unit of trigger progress; checkpointing the stream
        replaces the batch watermark pattern."""
        reader = spark.readStream.schema(_SPOOL_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        df = reader.parquet(self.spool_dir)
        return df.withColumn(
            "msg_seq",
            F.col("batch_id") * _MAX_PER_BATCH + F.col("msg_idx"))


class ListenUDPSource(ListenSource):
    """ListenUDP: datagram framing, no parsing — sender/protocol/port
    only (ListenSyslog.java:158-160's parse-disabled contract)."""

    def __init__(self, spool_dir: str, *, port: int = 514,
                 charset: str = "utf-8"):
        super().__init__(spool_dir, protocol="UDP", port=port,
                         framing="datagram", charset=charset)


class ListenTCPSource(ListenSource):
    """ListenTCP: demarcated byte-stream framing with per-sender carry."""

    def __init__(self, spool_dir: str, *, port: int = 514,
                 demarcator: bytes = b"\n", charset: str = "utf-8"):
        super().__init__(spool_dir, protocol="TCP", port=port,
                         framing="demarcated", demarcator=demarcator,
                         charset=charset)


class ListenSyslogSource(ListenSource):
    """ListenSyslog: UDP datagrams or TCP newline frames, plus the
    parse → valid/invalid routing of the reference (parse_syslog is the
    same engine ParseSyslog uses, so Listen+Parse compose exactly like
    the reference's PARSE_MESSAGES=true path)."""

    def __init__(self, spool_dir: str, *, protocol: str = "UDP",
                 port: int = 514, charset: str = "utf-8"):
        framing = "datagram" if protocol == "UDP" else "demarcated"
        super().__init__(spool_dir, protocol=protocol, port=port,
                         framing=framing, charset=charset)

    def read_parsed(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Landed table → {'valid': parsed rows with syslog_* columns,
        'invalid': raw rows} (ListenSyslog.java:423-456: parse failures
        route whole to 'invalid' with sender/protocol/port attributes
        kept)."""
        from nifi_spark.operators.content import parse_syslog

        return parse_syslog(self.read(spark), "raw")
