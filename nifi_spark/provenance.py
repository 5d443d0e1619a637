"""Provenance / lineage — per-partition records with NiFi's event vocabulary.

Event types are the subset of NiFi's ProvenanceEventType enum relevant to a
batch pipeline (nifi-api/src/main/java/org/apache/nifi/provenance/
ProvenanceEventType.java:25-126): RECEIVE, ROUTE, CONTENT_MODIFIED,
ATTRIBUTES_MODIFIED, FORK, JOIN, DROP, SEND. Record fields mirror
ProvenanceEventRecord.java:35-231 at partition granularity (componentId →
stage, content-claim coords → lsn range + row/byte counts).

Where NiFi journals one event per FlowFile into 16 rolling Lucene-indexed
files (nifi-docs/src/main/asciidoc/nifi-in-depth.adoc:94), the Spark-native
shape is ONE aggregated row per (stage, partition) in a parquet table —
queryable with plain SQL, no Lucene needed, O(partitions) rows per batch.

Records land at commit, the way NiFi writes a session's provenance events
once, at session commit (StandardProcessSession.java:317). The rows are
built in Python from aggregates the caller already collected, and
each `land` writes them as one parquet file through `durable.Spool`
(pyarrow, hidden temp file, atomic rename) — no Spark job. `CdcPipeline`
lands a batch's RECEIVE, DROP, JOIN and SEND records as one file after
its table commit and before its ledger commit; `emit` and `emit_counts`
land theirs at once.

`event_id` = spool file id * 1_000_000 + the record's index in its file.
The spool recovers its next file id from the directory listing, so ids
keep rising across restarts and an `event_id > watermark` reader
(`flow_status_metrics`, the S2S reporting task) never skips a record
written after one. Like every spool, a directory has one writer at a time.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from nifi_spark.durable import Spool

EVENT_TYPES = ("RECEIVE", "ROUTE", "CONTENT_MODIFIED", "ATTRIBUTES_MODIFIED",
               "FORK", "JOIN", "DROP", "SEND")

_SCHEMA = ("event_id long, event_type string, batch_id long, stage string, "
           "partition_id int, lsn_min long, lsn_max long, row_count long, "
           "byte_count long, ts timestamp")

_ARROW = pa.schema([("event_id", pa.int64()), ("event_type", pa.string()),
                    ("batch_id", pa.int64()), ("stage", pa.string()),
                    ("partition_id", pa.int32()), ("lsn_min", pa.int64()),
                    ("lsn_max", pa.int64()), ("row_count", pa.int64()),
                    ("byte_count", pa.int64()),
                    ("ts", pa.timestamp("us", tz="UTC"))])

_PER_FILE = 1_000_000  # event ids per spool file

# A record is the tuple of _ARROW's fields between event_id and ts:
# (event_type, batch_id, stage, partition_id, lsn_min, lsn_max, row_count,
# byte_count); partition_id -1 marks a count record.
Record = tuple


def content_size(events: DataFrame, content_col: str | None = "content"
                 ) -> Column:
    """A row's byte count: the octet length of `content_col`, 0 without one."""
    if content_col and content_col in events.columns:
        return F.coalesce(F.octet_length(F.col(content_col)), F.lit(0))
    return F.lit(0)


def partition_aggs(lsn: Column, size: Column, where: Column | None = None,
                   prefix: str = "") -> list[Column]:
    """Aggregate columns for one record's numbers (lsn_min, lsn_max,
    row_count, byte_count), over the rows where `where` holds."""
    n = F.count(F.lit(1))
    if where is not None:
        lsn, size = F.when(where, lsn), F.when(where, size)
        n = F.count(F.when(where, 1))
    return [F.min(lsn).alias(f"{prefix}lsn_min"),
            F.max(lsn).alias(f"{prefix}lsn_max"),
            n.alias(f"{prefix}row_count"),
            F.sum(size).cast("long").alias(f"{prefix}byte_count")]


def partition_records(rows, event_type: str, batch_id: int, stage: str,
                      prefix: str = "") -> list[Record]:
    """Records from collected `partition_aggs` rows grouped by a
    `partition_id` column; partitions with no matching rows give none."""
    assert event_type in EVENT_TYPES, event_type
    return [(event_type, batch_id, stage, r["partition_id"],
             r[f"{prefix}lsn_min"], r[f"{prefix}lsn_max"],
             r[f"{prefix}row_count"], r[f"{prefix}byte_count"])
            for r in sorted(rows, key=lambda r: r["partition_id"])
            if r[f"{prefix}row_count"]]


def count_record(event_type: str, batch_id: int, stage: str, row_count: int,
                 lsn_min: int = -1, lsn_max: int = -1) -> Record:
    """A record that carries a count, not a partition."""
    return (event_type, batch_id, stage, -1, lsn_min, lsn_max, row_count, 0)


class ProvenanceWriter:
    def __init__(self, path: str, enabled: bool = True):
        self.path = path
        self.enabled = enabled
        self._spool = Spool(path) if enabled else None

    def aggregate(self, events: DataFrame, event_type: str, batch_id: int,
                  stage: str, content_col: str | None = "content"
                  ) -> list[Record]:
        """Per-Spark-partition records of `events`: one collected
        aggregate job (none when disabled)."""
        if not self.enabled:
            return []
        lsn = (F.col("lsn") if "lsn" in events.columns
               else F.lit(None).cast("long"))
        rows = (events.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(*partition_aggs(lsn, content_size(events, content_col)))
                .collect())
        return partition_records(rows, event_type, batch_id, stage)

    def emit(self, events: DataFrame, event_type: str, batch_id: int,
             stage: str, content_col: str | None = "content") -> None:
        """Aggregate per Spark partition and land the records."""
        self.land(self.aggregate(events, event_type, batch_id, stage,
                                 content_col))

    def emit_counts(self, spark: SparkSession, event_type: str, batch_id: int,
                    stage: str, row_count: int, lsn_min: int = -1,
                    lsn_max: int = -1) -> None:
        """Land one count record (e.g. DROP count from a
        dedup stage); `spark` is unused, no job runs."""
        self.land([count_record(event_type, batch_id, stage, row_count,
                                lsn_min, lsn_max)])

    def land(self, records: list[Record]) -> None:
        """Write `records` as one spool file, no Spark job."""
        if not self.enabled or not records:
            return
        base = self._spool.next_id * _PER_FILE
        cols = list(zip(*records))
        now = int(time.time() * 1_000_000)
        self._spool.land(pa.Table.from_arrays(
            [pa.array(range(base, base + len(records)), pa.int64()),
             *(pa.array(c, f.type) for c, f in zip(cols, list(_ARROW)[1:-1])),
             pa.array([now] * len(records), _ARROW.field("ts").type)],
            schema=_ARROW))

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(_SCHEMA).parquet(self.path)


def lineage_for_lsn(prov: DataFrame, lsn: int) -> DataFrame:
    """Which batches/stages/partitions processed a given LSN — the
    submitLineageComputation analog (PersistentProvenanceRepository.java:
    2242-2259), as a plain predicate-pushdown query instead of a Lucene
    search."""
    return (prov.filter((F.col("lsn_min") <= lsn) & (F.col("lsn_max") >= lsn))
            .orderBy("batch_id", "event_id")
            .select("batch_id", "stage", "event_type", "partition_id",
                    "lsn_min", "lsn_max", "row_count", "ts"))


def batch_summary(prov: DataFrame) -> DataFrame:
    """Per-batch pipeline summary: rows/bytes per stage — the provenance
    query surface (submitQuery analog, :2006-2056)."""
    return (prov.groupBy("batch_id", "stage", "event_type")
            .agg(F.sum("row_count").alias("rows"),
                 F.sum("byte_count").alias("bytes"),
                 F.count(F.lit(1)).alias("partitions"),
                 F.min("lsn_min").alias("lsn_min"),
                 F.max("lsn_max").alias("lsn_max"))
            .orderBy("batch_id", "stage"))


def partition_balance(prov: DataFrame, stage: str = "compact") -> DataFrame:
    """Skew observability: per-batch max/mean partition row counts for a
    stage. The north-rule skew check — a hot repo must NOT concentrate
    into one partition after the narrow agg (salting/AQE would be the
    next lever if it did)."""
    per = prov.filter((F.col("stage") == stage) & (F.col("partition_id") >= 0))
    return (per.groupBy("batch_id")
            .agg(F.max("row_count").alias("max_rows"),
                 F.avg("row_count").alias("mean_rows"),
                 F.count(F.lit(1)).alias("partitions"))
            .withColumn("skew_ratio",
                        F.round(F.col("max_rows") / F.col("mean_rows"), 3))
            .orderBy("batch_id"))
