"""ProvenanceWriter lands records through durable.Spool: one parquet file
per landing, written by pyarrow without a Spark job, with event ids that
keep rising across restarts."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampType

from nifi_spark.metrics_reporting import (FLOW_FILES_RECEIVED,
                                          FLOW_FILES_SENT,
                                          flow_status_metrics)
from nifi_spark.provenance import ProvenanceWriter


def test_event_ids_keep_rising_after_restart(spark, tmp_path):
    path = str(tmp_path / "prov")
    first = ProvenanceWriter(path)
    first.emit_counts(spark, "RECEIVE", 0, "tail", 5)
    first.emit(spark.range(20).withColumnRenamed("id", "lsn"), "SEND", 0, "sink")
    last = max(r.event_id for r in first.read(spark).collect())

    second = ProvenanceWriter(path)  # a restarted process
    second.emit_counts(spark, "RECEIVE", 1, "tail", 7)
    second.emit_counts(spark, "SEND", 1, "sink", 3)
    rows = second.read(spark).collect()
    assert min(r.event_id for r in rows if r.batch_id == 1) > last
    assert len({r.event_id for r in rows}) == len(rows)

    m = flow_status_metrics(spark, second, since_event_id=last)
    assert (m[FLOW_FILES_RECEIVED], m[FLOW_FILES_SENT]) == ("7", "3")


def test_records_land_as_one_spool_file_per_call(spark, tmp_path):
    path = str(tmp_path / "prov")
    prov = ProvenanceWriter(path)
    assert prov.read(spark).count() == 0            # empty table reads
    prov.emit(spark.range(0, 40, 1, 4).withColumnRenamed("id", "lsn"),
              "RECEIVE", 3, "tail")
    prov.emit_counts(spark, "DROP", 3, "dedup", 2)
    assert sorted(os.listdir(path)) == ["batch_00000000.parquet",
                                        "batch_00000001.parquet"]
    ts = pq.read_schema(os.path.join(path, "batch_00000000.parquet")).field("ts")
    assert ts.type == pa.timestamp("us", tz="UTC")

    df = prov.read(spark)
    assert df.schema["ts"].dataType == TimestampType()
    rows = df.orderBy("event_id").collect()
    assert [r.event_id for r in rows] == [0, 1, 2, 3, 1_000_000]
    assert [r.partition_id for r in rows] == [0, 1, 2, 3, -1]
    assert sum(r.row_count for r in rows[:4]) == 40
    assert (rows[0].lsn_min, rows[3].lsn_max) == (0, 39)
    assert all(r.ts is not None for r in rows)


def test_emit_counts_and_disabled_writer_run_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("prov-counts", "prov-counts")
    try:
        ProvenanceWriter(str(tmp_path / "p")).emit_counts(spark, "SEND", 0,
                                                          "merge", 4)
        off = ProvenanceWriter(str(tmp_path / "off"), enabled=False)
        off.emit(spark.range(5).withColumnRenamed("id", "lsn"), "SEND", 0, "x")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("prov-counts") == []
    assert not os.path.exists(tmp_path / "off")
