"""CdcPipeline's one aggregate over the batch slice.

It replaces a count, a DDL-scan collect, a per-sub-batch quarantine
count and a checksum job; these tests check that it gives the numbers
the separate queries gave, and count the Spark jobs a batch runs.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from nifi_spark import fixtures
from nifi_spark.ledger import OffsetLedger, slice_checksum
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.provenance import ProvenanceWriter
from nifi_spark.storage import SnapshotTableStore

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _row(lsn, op, repo="r1", path="a", content=None, sc=(None,) * 4):
    return {"lsn": lsn, "op": op, "repo": repo, "path": path,
            "commit": f"c{lsn}", "lang": "py",
            "content": content if content is not None else f"v{lsn}",
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=lsn),
            "sc_kind": sc[0], "sc_column": sc[1], "sc_new_name": sc[2],
            "sc_dtype": sc[3]}


ADD = ("add_column", "extra_x", None, "string")
RENAME = ("rename_column", "extra_x", "extra_y", "string")
POISON = {8: "bad_op:null", 12: "null_key", 16: "bad_op:explode",
          18: "null_key"}

LOG = [_row(i, "insert", f"r{i // 2 + 1}", "ab"[i % 2]) for i in range(6)] + [
    _row(6, "update", "r1", "a"),
    _row(7, "update", "r1", "b"), _row(7, "update", "r1", "b"),   # re-delivery
    _row(8, None, "r1", "a"),
    _row(9, "insert", "r4", "a"),
    _row(10, "schema_change", None, None, "", ADD),
    _row(11, "update", "r2", "a"),
    _row(12, "update", None, "a"),
    _row(13, "delete", "r3", "a", ""), _row(13, "delete", "r3", "a", ""),
    _row(14, "schema_change", None, None, "", RENAME),
    _row(15, "update", "r1", "a"),
    _row(16, "explode", "r2", "b"),
    _row(17, "insert", "r3", "a"),
    _row(18, "update", "r4", None),
    _row(19, "update", "r2", "b"),
]


def test_one_pass_batch_matches_the_separate_queries(spark, tmp_path):
    """A batch with two DDLs, poison rows and duplicate deliveries."""
    log = str(tmp_path / "log.parquet")
    fixtures.write_changelog_parquet(pd.DataFrame(LOG), log)
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    evolved = []
    evolve = store.evolve

    def recording_evolve(kind, col, new_name, dtype, lsn=None):
        evolved.append((kind, col, new_name, dtype, lsn))
        return evolve(kind, col, new_name, dtype, lsn=lsn)

    store.evolve = recording_evolve
    prov = ProvenanceWriter(str(tmp_path / "prov"))
    qdir = str(tmp_path / "quarantine")
    ledger = OffsetLedger(str(tmp_path / "led"))
    pipe = CdcPipeline(spark, log, store, ledger, provenance=prov,
                       quarantine_path=qdir)
    pipe.apply_until(5)
    st = pipe.apply_until(19)

    sl = spark.read.parquet(log).filter((F.col("lsn") > 5) & (F.col("lsn") <= 19))
    assert ledger.get("changelog")["checksum"] == slice_checksum(
        sl.filter(~F.col("op").eqNullSafe("schema_change")))
    assert st.events == 16 == sl.count()
    assert st.schema_events == 2 and st.sub_batches == 3
    assert evolved == [(*ADD, 10), (*RENAME, 14)]
    assert st.quarantined == 4
    q = spark.read.parquet(qdir).filter(F.col("_batch_id") == 1).collect()
    assert {r.lsn: r._reason for r in q} == POISON and len(q) == 4

    final = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert final == {("r1", "a"): "v15", ("r1", "b"): "v7",
                     ("r2", "a"): "v11", ("r2", "b"): "v19",
                     ("r3", "a"): "v17", ("r3", "b"): "v5",
                     ("r4", "a"): "v9"}
    assert "extra_y" in store.read(spark).columns

    # one spool file per batch, written by pyarrow with a UTC timestamp
    files = sorted(os.listdir(prov.path))
    assert files == ["batch_00000000.parquet", "batch_00000001.parquet"]
    ts = pq.read_schema(os.path.join(prov.path, files[1])).field("ts")
    assert ts.type == pa.timestamp("us", tz="UTC")
    df = prov.read(spark)
    assert df.schema["ts"].dataType == TimestampType()
    recs = df.filter("batch_id = 1").orderBy("event_id").collect()
    assert all(r.ts is not None for r in recs)
    by = {}
    for r in recs:
        by.setdefault(r.event_type, []).append(r)
    assert sum(r.row_count for r in by["RECEIVE"]) == st.events
    assert sum(r.row_count for r in by["DROP"]) == st.quarantined == len(q)
    assert (min(r.lsn_min for r in by["DROP"]),
            max(r.lsn_max for r in by["DROP"])) == (8, 18)
    # JOIN: each sub-batch's deduplicated good rows, in apply order
    joins = [0, 0, 0]
    for r in by["JOIN"]:
        joins[(r.lsn_min > 10) + (r.lsn_min > 14)] += r.row_count
    assert joins == [3, 2, 3]
    assert len(by["SEND"]) == 3
    assert recs[0].event_type == "RECEIVE"


# --------------------------- job counts ---------------------------

def _jobs(spark, pipe, hi):
    """Spark jobs of one apply_until: (all of them, those of its merges)."""
    sc = spark.sparkContext
    tag = f"apply-{id(pipe)}-{hi}"
    merge = pipe.store.merge

    def tagged_merge(*a, **kw):
        sc.setJobGroup(tag + "-merge", "merge")
        try:
            return merge(*a, **kw)
        finally:
            sc.setJobGroup(tag, "apply")

    pipe.store.merge = tagged_merge
    sc.setJobGroup(tag, "apply")
    try:
        pipe.apply_until(hi)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pipe.store.merge = merge
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    own = len(tracker.getJobIdsForGroup(tag))
    merged = len(tracker.getJobIdsForGroup(tag + "-merge"))
    return own + merged, merged


@pytest.fixture(scope="module")
def no_ddl_log(tmp_path_factory):
    log = fixtures.gen_changelog(n_events=1200, n_repos=8, paths_per_repo=8,
                                 op_mix=(0.3, 0.5, 0.2, 0.0))
    log.loc[900, "op"] = "explode"     # one poison row in the second batch
    p = str(tmp_path_factory.mktemp("jobs") / "log.parquet")
    fixtures.write_changelog_parquet(log, p)
    return p


def _pipeline(spark, root, log, **kw):
    store = SnapshotTableStore(str(root / "tbl"), n_buckets=4)
    store.init()
    return CdcPipeline(spark, log, store, OffsetLedger(str(root / "led")), **kw)


def test_bulk_batch_runs_no_job_besides_slice_read_and_merge(
        spark, tmp_path, no_ddl_log, monkeypatch):
    """The benchmark's bulk config runs no slice pass: the pipeline's
    only job of its own is the slice read's parquet footer lookup; the
    rest is the merge's one write, which adaptive execution runs as one
    job per query stage."""
    monkeypatch.syspath_prepend(os.path.join(ROOT, "cdcbench"))
    from workloads import BULK
    pipe = _pipeline(spark, tmp_path, no_ddl_log, **BULK)
    pipe.apply_until(599)
    total, merge = _jobs(spark, pipe, 1199)
    assert merge >= 1
    assert total - merge == 1
    assert pipe.history[-1].events == -1


# Measured on this fixture: 8 jobs of the pipeline's own (slice footer
# lookup, the slice pass, the JOIN records' aggregate, the quarantine
# write) + 9 of the merge; the separate count / DDL-scan / quarantine-count
# / checksum jobs and Spark-written provenance ran 28 in all.
DEFAULT_BATCH_JOBS = 17


def test_default_batch_job_count(spark, tmp_path, no_ddl_log):
    """Provenance, quarantine and checksum on, no DDL in the batch."""
    pipe = _pipeline(spark, tmp_path, no_ddl_log,
                     provenance=ProvenanceWriter(str(tmp_path / "prov")),
                     quarantine_path=str(tmp_path / "q"))
    pipe.apply_until(599)
    total, _ = _jobs(spark, pipe, 1199)
    assert pipe.history[-1].quarantined == 1
    assert total <= DEFAULT_BATCH_JOBS, total
