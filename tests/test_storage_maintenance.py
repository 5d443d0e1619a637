"""Quarantine routing, time-travel reads, snapshot expiry + GC."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nifi_spark import fixtures
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.storage import SnapshotTableStore


def _log_row(lsn, op, repo, path, content):
    return {"lsn": lsn, "op": op, "repo": repo, "path": path,
            "commit": f"c{lsn}", "lang": "py", "content": content,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=lsn),
            "sc_kind": None, "sc_column": None, "sc_new_name": None,
            "sc_dtype": None}


@pytest.fixture
def poison_log(tmp_path):
    rows = [
        _log_row(0, "insert", "r1", "a", "v0"),
        _log_row(1, "insert", "r2", "b", "v1"),
        _log_row(2, None, "r1", "a", "woops"),          # null op -> bad_op
        _log_row(3, "explode", "r1", "a", "boom"),      # unknown op
        _log_row(4, "update", None, "a", "nokey"),      # null repo
        _log_row(5, "update", "r1", "a", "v2"),
        _log_row(6, "update", "r2", None, "nopath"),    # null path
        _log_row(7, "delete", "r2", "b", None),
        _log_row(8, "insert", "r3", "c", "v3"),
    ]
    p = str(tmp_path / "log.parquet")
    fixtures.write_changelog_parquet(pd.DataFrame(rows), p)
    return p


def test_quarantine_routes_poison_rows(spark, tmp_path, poison_log):
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    qdir = str(tmp_path / "quarantine")
    pipe = CdcPipeline(spark, poison_log, store,
                       OffsetLedger(str(tmp_path / "led")),
                       quarantine_path=qdir)
    stats = pipe.apply_until(8)
    assert stats.quarantined == 4
    final = {(r.repo, r.path): r.content
             for r in store.read(spark).collect()}
    assert final == {("r1", "a"): "v2", ("r3", "c"): "v3"}
    q = spark.read.parquet(qdir)
    got = {r.lsn: r._reason for r in q.collect()}
    assert got == {2: "bad_op:null", 3: "bad_op:explode",
                   4: "null_key", 6: "null_key"}
    assert {r._batch_id for r in q.collect()} == {0}


def test_quarantine_crash_replay_commits_cleanly(spark, tmp_path, poison_log):
    """Crash between table commit and ledger write, with poison rows in
    the replayed batch: the batch must replay to the same final state and
    quarantine rows stay readable (at-least-once, deduped on lsn)."""
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    qdir = str(tmp_path / "quarantine")
    led = OffsetLedger(str(tmp_path / "led"))
    pipe = CdcPipeline(spark, poison_log, store, led, quarantine_path=qdir)
    pipe.run([4, 8])
    st = led.get("changelog")
    led.commit("changelog", 4, st["batch_id"] - 1, None, st["table_version"])
    pipe2 = CdcPipeline(spark, poison_log, store, led, quarantine_path=qdir)
    pipe2.apply_until(8)
    final = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert final == {("r1", "a"): "v2", ("r3", "c"): "v3"}
    q = spark.read.parquet(qdir).dropDuplicates(["lsn"])
    assert q.count() == 4


def _merge_batch(spark, store, rows):
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, op string, lsn long")
    store.merge(spark, df)


def test_time_travel_read(spark, tmp_path):
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    _merge_batch(spark, store, [("r1", "a", "c1", "py", "old", "upsert", 1),
                                ("r2", "b", "c2", "py", "keep", "upsert", 2)])
    v1 = store.current_version()
    snap1 = {(r.repo, r.path): r.content
             for r in store.read(spark, version=v1).collect()}
    _merge_batch(spark, store, [("r1", "a", "c3", "py", "new", "upsert", 3),
                                ("r3", "c", "c4", "py", "add", "upsert", 4)])
    now = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert now[("r1", "a")] == "new" and ("r3", "c") in now
    back = {(r.repo, r.path): r.content
            for r in store.read(spark, version=v1).collect()}
    assert back == snap1 == {("r1", "a"): "old", ("r2", "b"): "keep"}
    # _last_lsn travels too
    lsns = {(r.repo, r.path): r._last_lsn
            for r in store.read(spark, version=v1, with_lsn=True).collect()}
    assert lsns[("r1", "a")] == 1


def test_expire_snapshots_gc(spark, tmp_path):
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    _merge_batch(spark, store, [("r1", "a", "c1", "py", "old", "upsert", 1),
                                ("r2", "b", "c2", "py", "keep", "upsert", 2)])
    v1 = store.current_version()
    (v1_dir,) = {os.path.dirname(e["path"])
                 for e in store._load_manifest(v1)["buckets"].values()}
    _merge_batch(spark, store, [("r1", "a", "c3", "py", "new", "upsert", 3)])
    v2 = store.current_version()
    # v2 touched only r1's bucket; r2's bucket still lives in v1's dir
    res = store.expire_snapshots(keep_last=1)
    assert res["kept_versions"][-1] == v2
    assert v1 in res["removed_manifests"]
    # v1's DIRECTORY survives: the current manifest references r2's
    # bucket inside it
    assert os.path.isdir(os.path.join(store.root, v1_dir))
    with pytest.raises(FileNotFoundError):
        store.read(spark, version=v1)
    final = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert final == {("r1", "a"): "new", ("r2", "b"): "keep"}


def test_expire_removes_orphaned_version_dirs(spark, tmp_path):
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=2)
    store.init()
    # same key rewritten 3 times -> v1/v2 dirs fully superseded by v3
    for lsn, content in ((1, "a"), (2, "b"), (3, "c")):
        _merge_batch(spark, store,
                     [("r1", "x", f"c{lsn}", "py", content, "upsert", lsn)])
    vs = store.versions()
    res = store.expire_snapshots(keep_last=1)
    gone = [d for d in res["removed_dirs"]]
    assert gone  # superseded dirs actually deleted
    for d in gone:
        assert not os.path.isdir(os.path.join(store.root, "versions", d))
    assert {(r.repo, r.path, r.content)
            for r in store.read(spark).collect()} == {("r1", "x", "c")}
    assert store.versions() == [vs[-1]]


def test_rebucket_rescales_and_stays_mergeable(spark, tmp_path):
    """rebucket: data survives the rewrite byte-for-byte, old versions
    stay time-travel-readable, and subsequent merges hash into the NEW
    bucket space."""
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=2)
    store.init()
    rows = [(f"r{i % 5}", f"p{i}", f"c{i}", "py", f"v{i}", "upsert", i + 1)
            for i in range(40)]
    _merge_batch(spark, store, rows)
    v_before = store.current_version()
    before = {(r.repo, r.path): (r.content, r._last_lsn)
              for r in store.read(spark, with_lsn=True).collect()}

    stats = store.rebucket(spark, 8)
    assert stats["n_buckets"] == 8 and stats["buckets_written"] <= 8
    m = store._load_manifest()
    assert m["n_buckets"] == 8
    after = {(r.repo, r.path): (r.content, r._last_lsn)
             for r in store.read(spark, with_lsn=True).collect()}
    assert after == before
    # old snapshot still readable with the OLD bucket map
    back = {(r.repo, r.path): (r.content, r._last_lsn)
            for r in store.read(spark, version=v_before,
                                with_lsn=True).collect()}
    assert back == before
    # merges after the rescale hash with the new bucket count
    _merge_batch(spark, store, [("r0", "p0", "cx", "py", "NEW", "upsert", 99),
                                ("r9", "pz", "cy", "py", "ADD", "upsert", 100)])
    now = {(r.repo, r.path): r.content for r in store.read(spark).collect()}
    assert now[("r0", "p0")] == "NEW" and now[("r9", "pz")] == "ADD"
    assert len(now) == len(before) + 1
    with pytest.raises(ValueError):
        store.rebucket(spark, 0)
