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
from nifi_spark.storage import SnapshotTableStore, bucket_expr

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
    # the DDL committed in lsn order: add from lsn 10, rename from 14
    assert store._load_manifest()["schema_lsn"] == {"1": 10, "2": 14}
    assert [n for n, _ in store.schema_columns()] == [
        "repo", "path", "commit", "lang", "content", "extra_y"]
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
    # JOIN: the deduplicated good rows of the batch's one merge (3, 2
    # and 3 in its three schema segments); one SEND for that merge
    assert sum(r.row_count for r in by["JOIN"]) == 8
    assert len(by["SEND"]) == 1
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


def test_bulk_batch_runs_no_job_besides_the_merge(
        spark, tmp_path, no_ddl_log, monkeypatch):
    """The benchmark's bulk config runs no slice pass, and the slice
    read reuses the changelog schema of the first batch: every job of a
    later bulk batch is the merge's one write, which adaptive execution
    runs as one job per query stage."""
    monkeypatch.syspath_prepend(os.path.join(ROOT, "cdcbench"))
    from workloads import BULK
    pipe = _pipeline(spark, tmp_path, no_ddl_log, **BULK)
    pipe.apply_until(599)
    total, merge = _jobs(spark, pipe, 1199)
    assert merge >= 1
    assert total - merge == 0
    assert pipe.history[-1].events == -1


# Measured on this fixture: 7 jobs of the pipeline's own (the slice
# pass, the JOIN records' aggregate, the quarantine write) + 6 of the
# merge (its write; the table scan's schema comes from the manifest and
# the dirty buckets from the slice pass). With the slice footer lookup,
# the table's footer lookup and the dirty-bucket probe it ran 17; with
# the separate count / DDL-scan / quarantine-count / checksum jobs and
# Spark-written provenance, 28.
DEFAULT_BATCH_JOBS = 13


def test_default_batch_job_count(spark, tmp_path, no_ddl_log):
    """Provenance, quarantine and checksum on, no DDL in the batch."""
    pipe = _pipeline(spark, tmp_path, no_ddl_log,
                     provenance=ProvenanceWriter(str(tmp_path / "prov")),
                     quarantine_path=str(tmp_path / "q"))
    pipe.apply_until(599)
    total, _ = _jobs(spark, pipe, 1199)
    assert pipe.history[-1].quarantined == 1
    assert total <= DEFAULT_BATCH_JOBS, total


def _group_jobs(spark, fn):
    """(Spark job ids run by fn(), fn's result)."""
    sc = spark.sparkContext
    tag = f"jobs-{id(fn)}"
    sc.setJobGroup(tag, "count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker().getJobIdsForGroup(tag), out


def _changes(spark, rows):
    return spark.createDataFrame(
        [(r, p, f"c{lsn}", "py", f"v{lsn}", "upsert", lsn)
         for r, p, lsn in rows],
        "repo string, path string, commit string, lang string, "
        "content string, op string, lsn long")


def test_store_read_plans_from_the_manifest(spark, tmp_path):
    """Building a read runs no Spark job, an unchanged version returns
    the memoized DataFrame, and another store instance on the same root
    sees a commit at once."""
    root = str(tmp_path / "tbl")
    store = SnapshotTableStore(root, n_buckets=4)
    store.init()
    store.merge(spark, _changes(spark, [(f"r{i}", "a", i) for i in range(8)]))
    store.merge(spark, _changes(spark, [("r0", "a", 8), ("r9", "a", 9)]),
                strategy="delta")
    jobs, df = _group_jobs(spark, lambda: store.read(spark, with_lsn=True))
    assert list(jobs) == []
    assert store.read(spark, with_lsn=True) is df
    assert store.read(spark) is not df

    other = SnapshotTableStore(root, n_buckets=4)
    seen = other.read(spark)
    assert seen.count() == 9
    store.merge(spark, _changes(spark, [("r10", "a", 10)]))
    after = other.read(spark)
    assert after is not seen and after.count() == 10
    assert other.read(spark, version=2).count() == 9


# ------------------- dirty buckets from the slice pass -------------------

def _keys_in_bucket(spark, keys, n_buckets, bucket, n):
    """The first n of `keys` (repo, path) that hash to `bucket`."""
    cand = spark.createDataFrame(keys, "repo string, path string")
    hit = sorted((r.repo, r.path) for r in
                 cand.filter(bucket_expr(n_buckets) == bucket).collect())
    assert len(hit) >= n
    return hit[:n]


def _record_dirty(store):
    """The `dirty` argument of each later store.merge call, in order."""
    seen, merge = [], store.merge

    def recording_merge(*a, **kw):
        seen.append(kw.get("dirty"))
        return merge(*a, **kw)

    store.merge = recording_merge
    return seen


def test_dirty_buckets_come_from_the_slice_pass(spark, tmp_path):
    """A default-config batch whose rows all hash to one of 8 buckets
    rewrites only that bucket, and its merge runs no probe job."""
    rows = [_row(i, "insert", f"r{i}", "a") for i in range(64)]
    hot = _keys_in_bucket(spark, [(r["repo"], r["path"]) for r in rows],
                          8, 3, 4)
    rows += [_row(64 + i, "update", r, p) for i, (r, p) in enumerate(hot * 3)]
    log = str(tmp_path / "log.parquet")
    fixtures.write_changelog_parquet(pd.DataFrame(rows), log)
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=8)
    store.init()
    pipe = CdcPipeline(spark, log, store, OffsetLedger(str(tmp_path / "led")),
                       provenance=ProvenanceWriter(str(tmp_path / "prov")),
                       quarantine_path=str(tmp_path / "q"))
    pipe.apply_until(63)
    before = store._load_manifest()["buckets"]
    assert len(before) == 8

    dirty_args = _record_dirty(store)
    jobs, _ = _group_jobs(spark, lambda: pipe.apply_until(64 + len(hot) * 3 - 1))
    after = store._load_manifest()["buckets"]
    assert dirty_args == [{3}]
    assert {b for b in after if after[b] != before[b]} == {"3"}
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    # the probe is the merge's only collect
    assert not [s.name for s in stages
                if s and s.name.startswith("collect at")
                and "storage.py" in s.name]
    final = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert len(final) == 64
    for k, (r, p) in enumerate(hot):
        assert final[(r, p)] == f"v{64 + 2 * len(hot) + k}"


def test_empty_sub_batch_between_adjacent_ddls_commits_nothing(spark, tmp_path):
    """A batch with two adjacent DDLs commits them with its one merge
    over the slice pass's dirty set: no probe job, one table version
    for the batch, and no more jobs than a default-config batch without
    DDL."""
    rows = ([_row(i, "insert", f"r{i}", "a") for i in range(6)]
            + [_row(6 + i, "update", f"r{i}", "a") for i in range(4)]
            + [_row(10, "schema_change", None, None, "", ADD),
               _row(11, "schema_change", None, None, "", RENAME)]
            + [_row(12 + i, "update", f"r{i}", "a") for i in range(4)])
    log = str(tmp_path / "log.parquet")
    fixtures.write_changelog_parquet(pd.DataFrame(rows), log)
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    pipe = CdcPipeline(spark, log, store, OffsetLedger(str(tmp_path / "led")),
                       provenance=ProvenanceWriter(str(tmp_path / "prov")),
                       quarantine_path=str(tmp_path / "q"))
    pipe.apply_until(5)
    assert store.current_version() == 1
    keys = spark.createDataFrame([(f"r{i}", "a") for i in range(4)],
                                 "repo string, path string")
    touched = {r.b for r in keys.select(bucket_expr(4).alias("b")).collect()}
    dirty_args = _record_dirty(store)
    jobs, st = _group_jobs(spark, lambda: pipe.apply_until(15))
    assert st.sub_batches == 3 and dirty_args == [touched]
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    assert not [s.name for s in stages
                if s and s.name.startswith("collect at")
                and "storage.py" in s.name]
    assert len(jobs) <= DEFAULT_BATCH_JOBS, len(jobs)
    # merge (0..5), then this batch: add, rename and merge (6..15)
    assert store.current_version() == 2 == st.table_version
    assert store.versions() == [0, 1, 2]
    assert store.read(spark).columns[-1] == "extra_y"
    final = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert final == {**{(f"r{i}", "a"): f"v{12 + i}" for i in range(4)},
                     ("r4", "a"): "v4", ("r5", "a"): "v5"}
