"""GetHBase / PutHBaseCell / PutHBaseJSON analogs (nifi-hbase-bundle).

NiFi ancestors:
- GetHBase.java:253-378 — the timestamp-watermark scan with the
  boundary-cell dedup state machine, reproduced exactly: rows whose
  latest cell timestamp is BELOW the minimum time are skipped; rows AT
  the minimum time are skipped only when every cell at that timestamp
  was already seen (ScanResult.contains); the scan tracks the cells
  matching the running-max timestamp (clearing on each new max), and
  when a scan ends on the SAME timestamp as the previous state the two
  matching-cell maps are merged (:346-367). Changing the table name
  clears state (:163-167, :265-272). Initial Time Range None → 0,
  Current Time → now (injected).
- io/JsonRowSerializer.java:30-55 — the exact row payload:
  ``{"row":"<key>", "cells": {"<fam>:<qual>":"<value>", ...}}``
  (note the single space after ``"cells":`` and after each comma).
- PutHBaseJSON.java:120-210 — one JSON document per put: null fields
  skipped; value fields encoded as strings or as typed bytes
  (boolean/long/double big-endian, the HBase Bytes.toBytes shapes);
  complex fields per strategy (Fail → route failure, Warn/Ignore →
  skip, Text → the node's JSON text); row id from the Row Identifier
  property or extracted from Row Identifier Field Name (mutually
  exclusive, the extracted field is NOT written as a column; missing
  → failure).
- PutHBaseCell.java — whole content as one cell value.

``HBaseTable`` is the injectable client-service seam (scan/put over an
in-process cell store with caller-supplied timestamps — deterministic).
Landed scans spool to parquet and read back as a DataFrame, the same
bridge every listen/get source here uses."""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool
from ..ledger import KVState


class HBaseError(IOError):
    pass


def _escape_json(s: str) -> str:
    return json.dumps(s)[1:-1]


class HBaseTable:
    """In-process HBase table: rowkey → [(family, qualifier, value,
    timestamp)] with last-write-wins per (family, qualifier) at put
    time (HBase keeps versions; GetHBase scans latest versions — one
    version here keeps the seam honest without a versioned store)."""

    def __init__(self, name: str):
        self.name = name
        self.rows: dict[str, dict[tuple[str, str], tuple[str, int]]] = {}

    def put(self, row: str, family: str, qualifier: str, value: str,
            ts: int) -> None:
        self.rows.setdefault(row, {})[(family, qualifier)] = (value, ts)

    def put_cells(self, puts: "list[dict]") -> int:
        """Apply PutFlowFile dicts from put_hbase_json/cell."""
        n = 0
        for p in puts:
            for fam, qual, val in p["columns"]:
                self.put(p["row"], fam, qual,
                         val if isinstance(val, str) else val.decode(
                             "utf-8", "surrogateescape"),
                         p["ts"])
                n += 1
        return n

    def scan(self, columns: "list[str] | None" = None,
             min_time: int = 0):
        """Yield (rowkey, [(family, qualifier, value, ts)]) sorted by
        rowkey, rows having at least one cell with ts >= min_time
        (the HBase scan time-range lower bound GetHBase passes).
        `columns` entries are ``fam`` or ``fam:qual``."""
        want: "list[tuple[str, str | None]] | None" = None
        if columns:
            want = [tuple(c.split(":", 1)) if ":" in c else (c, None)
                    for c in columns]
        for rk in sorted(self.rows):
            cells = []
            for (fam, qual), (val, ts) in sorted(self.rows[rk].items()):
                if want is not None and not any(
                        fam == wf and (wq is None or qual == wq)
                        for wf, wq in want):
                    continue
                cells.append((fam, qual, val, ts))
            if cells and max(c[3] for c in cells) >= min_time:
                yield rk, cells


def serialize_row_json(row_key: str,
                       cells: "list[tuple[str, str, str, int]]") -> str:
    """JsonRowSerializer.serialize — byte-exact format."""
    parts = []
    for fam, qual, val, _ts in cells:
        parts.append(f'"{_escape_json(fam)}:{_escape_json(qual)}"'
                     f':"{_escape_json(val)}"')
    return ('{"row":"' + _escape_json(row_key) + '", "cells": {'
            + ", ".join(parts) + "}}")


class GetHBaseSource:
    """GetHBase's onTrigger over an injectable HBaseTable, landing one
    spool file per drain. State = {timestamp, matching_cells
    {row → [values]}, table} in KVState (the reference's ScanResult
    persisted via the StateManager)."""

    def __init__(self, spool_dir: str, state: KVState, *,
                 columns: "list[str] | None" = None,
                 initial_time_range: str = "None",
                 key: str = "get_hbase"):
        assert initial_time_range in ("None", "Current Time")
        self.spool_dir = spool_dir
        self.state = state
        self.key = key
        self.columns = columns
        self.initial_time_range = initial_time_range
        self._spool = Spool(spool_dir)

    def drain(self, table: HBaseTable, *, now_ms: int = 0) -> int:
        st = self.state.get(self.key)
        if st and st.get("table") != table.name:
            st = {}     # table changed → clear state (GetHBase:265)
        last_ts = st.get("timestamp")
        seen: dict[str, set[str]] = {
            k: set(v) for k, v in st.get("matching_cells", {}).items()}
        default_min = 0 if self.initial_time_range == "None" else now_ms
        min_time = last_ts if last_ts is not None else default_min
        latest = min_time
        matching: dict[str, set[str]] = {}
        out_rows: list[tuple[str, str]] = []
        for rk, cells in table.scan(self.columns, min_time):
            latest_cell_ts = max(c[3] for c in cells)
            if latest_cell_ts < min_time:
                continue
            if latest_cell_ts == min_time and last_ts is not None:
                if all(c[2] in seen.get(rk, set())
                       for c in cells if c[3] == latest_cell_ts):
                    continue    # all cells at the boundary already seen
            if latest_cell_ts >= latest:
                if latest_cell_ts > latest:
                    latest = latest_cell_ts
                    matching.clear()
                for fam, qual, val, ts in cells:
                    if ts == latest_cell_ts:
                        matching.setdefault(rk, set()).add(val)
            out_rows.append((rk, serialize_row_json(rk, cells)))
        # merge with previous state when the scan ended on the same ts
        if last_ts is not None and latest == last_ts:
            for rk, vals in seen.items():
                matching.setdefault(rk, set()).update(vals)
        self.state.put(self.key, {
            "timestamp": latest,
            "matching_cells": {k: sorted(v) for k, v in
                               sorted(matching.items())},
            "table": table.name})
        return self._land(out_rows, table.name)

    def _land(self, rows: "list[tuple[str, str]]",
              table_name: str) -> int:
        if not rows:
            return 0
        import pyarrow as pa
        bid = self._spool.next_id
        t = pa.table({
            "batch_id": pa.array([bid] * len(rows), pa.int64()),
            "row_seq": pa.array(range(len(rows)), pa.int64()),
            "hbase_table": pa.array([table_name] * len(rows)),
            "mime_type": pa.array(["application/json"] * len(rows)),
            "payload": pa.array([p for _rk, p in rows], pa.string()),
        })
        self._spool.land(t)
        return len(rows)

    def read(self, spark: SparkSession) -> DataFrame:
        return (spark.read.parquet(self.spool_dir)
                .withColumn("event_seq",
                            F.col("batch_id") * 1_000_000
                            + F.col("row_seq")))


# ------------------------------------------------------------- puts

def _typed_bytes(v) -> bytes:
    """HBase Bytes.toBytes shapes (PutHBaseJSON extractJNodeValue):
    boolean → 1 byte, integral → 8-byte BE long, else → 8-byte BE
    double."""
    if isinstance(v, bool):
        return b"\xff" if v else b"\x00"
    if isinstance(v, int):
        return struct.pack(">q", v)
    return struct.pack(">d", float(v))


def put_hbase_json(content: str, *, table: str, column_family: str,
                   row_id: str | None = None,
                   row_field_name: str | None = None,
                   complex_field_strategy: str = "Text",
                   field_encoding: str = "String",
                   ts: int = 0):
    """PutHBaseJSON.createPut: one JSON document → a put dict
    {table, row, columns: [(family, qualifier, value)], ts} or None
    (→ the failure relationship). Exactly one of row_id /
    row_field_name must be set (customValidate)."""
    if bool(row_id) == bool(row_field_name):
        raise HBaseError("Row Identifier and Row Identifier Field Name"
                         " are mutually exclusive and one is required")
    assert complex_field_strategy in ("Fail", "Warn", "Ignore", "Text")
    assert field_encoding in ("String", "Bytes")
    try:
        root = json.loads(content)
    except ValueError:
        return None          # parse failure → failure relationship
    if not isinstance(root, dict):
        return None          # root must be a single document
    columns = []
    extracted_row: str | None = None
    for name, node in root.items():
        value = None
        if node is None:
            continue
        if isinstance(node, (str, int, float, bool)):
            if field_encoding == "String":
                value = node if isinstance(node, str) else \
                    json.dumps(node) if isinstance(node, bool) else str(node)
            else:
                value = node if isinstance(node, str) else _typed_bytes(node)
        else:
            if complex_field_strategy == "Fail":
                return None
            if complex_field_strategy == "Text":
                value = json.dumps(node, separators=(",", ":"))
            # Warn / Ignore → skip
        if value is None:
            continue
        if row_field_name and name == row_field_name:
            extracted_row = node if isinstance(node, str) else str(node)
        else:
            columns.append((column_family, name, value))
    if row_field_name and extracted_row is None:
        return None          # row field missing → failure
    return {"table": table, "row": extracted_row or row_id,
            "columns": columns, "ts": ts}


def put_hbase_cell(content: str, *, table: str, row: str,
                   column_family: str, column_qualifier: str,
                   ts: int = 0):
    """PutHBaseCell: the whole content is one cell value."""
    return {"table": table, "row": row,
            "columns": [(column_family, column_qualifier, content)],
            "ts": ts}
