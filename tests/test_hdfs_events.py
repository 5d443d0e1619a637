"""GetHDFSEvents analog — inotify feed, filters, watermark, failure
modes (GetHDFSEvents.java / NotificationEventPathFilter.java parity).
"""

from __future__ import annotations

import json

import pytest

from nifi_spark.sources.hdfs_events import (EventBatch, FakeInotifyStream,
                                            GetHDFSEventsSource,
                                            MissingEventsError)


def test_type_and_path_filters(tmp_path):
    feed = FakeInotifyStream()
    feed.emit("create", "/data/a.log")
    feed.emit("unlink", "/data/a.log")           # type filtered out
    feed.emit("create", "/data/.hidden")         # hidden filtered out
    feed.emit("close", "/other/b.log")           # regex filtered out
    feed.emit("rename", "/data/c.log", dstPath="/data/d.log")
    src = GetHDFSEventsSource(feed, str(tmp_path / "spool"),
                              path_watch_regex="/data/.*",
                              ignore_hidden=True,
                              event_types="create, close, RENAME")
    assert src.poll() == 2
    import pyarrow.parquet as pq
    import os
    rows = []
    for f in sorted(os.listdir(src.spool_dir)):
        if f.endswith(".parquet"):
            rows += pq.read_table(os.path.join(src.spool_dir,
                                               f)).to_pylist()
    assert [(r["txid"], r["event_type"], r["event_path"])
            for r in rows] == [(1, "CREATE", "/data/a.log"),
                               (5, "RENAME", "/data/c.log")]
    ev = json.loads(rows[1]["event_json"])
    assert ev["srcPath"] == "/data/c.log" and ev["dstPath"] == \
        "/data/d.log"
    # watermark advanced past filtered events too
    assert src.last_txid == 5
    assert src.poll() == 0


def test_invalid_event_type_rejected(tmp_path):
    with pytest.raises(ValueError, match="not valid event types"):
        GetHDFSEventsSource(FakeInotifyStream(), str(tmp_path / "s"),
                            event_types="create, bogus")


def test_ioerror_retries_then_raises(tmp_path):
    feed = FakeInotifyStream()
    feed.emit("create", "/data/a.log")
    src = GetHDFSEventsSource(feed, str(tmp_path / "spool"),
                              poll_retries=3)
    feed.fail_next(3)                      # retries absorb exactly 3
    assert src.poll() == 1
    feed.emit("create", "/data/b.log")
    feed.fail_next(4)                      # one more than the budget
    with pytest.raises(IOError, match="simulated"):
        src.poll()
    assert src.poll() == 1                 # next trigger succeeds


def test_missing_events_resets_to_earliest_retained(tmp_path):
    feed = FakeInotifyStream()
    for i in range(5):
        feed.emit("create", f"/data/f{i}.log")
    src = GetHDFSEventsSource(feed, str(tmp_path / "spool"))
    assert src.poll() == 5 and src.last_txid == 5
    # another consumer state left far behind: purge, then poll
    feed.purge()                           # all 5 edits gone
    for i in range(5, 8):
        feed.emit("create", f"/data/f{i}.log")
    src.last_txid = 0                      # pretend we were behind
    assert src.poll() == 0                 # MissingEventsError → reset
    assert src.last_txid == -1
    assert src.poll() == 3                 # re-opened at earliest edit


def test_watermark_survives_restart(tmp_path):
    feed = FakeInotifyStream()
    for i in range(4):
        feed.emit("close", f"/x/f{i}")
    src = GetHDFSEventsSource(feed, str(tmp_path / "spool"))
    assert src.poll(max_events=2) == 2
    src2 = GetHDFSEventsSource(feed, str(tmp_path / "spool"))
    assert src2.last_txid == 2
    assert src2.drain() == 2               # only the unseen half
    assert src2._spool.next_id == 2       # batch ids recovered too


def test_spark_read(spark, tmp_path):
    feed = FakeInotifyStream()
    for i in range(30):
        feed.emit("create" if i % 2 == 0 else "unlink", f"/d/f{i}")
    src = GetHDFSEventsSource(feed, str(tmp_path / "spool"))
    src.drain(max_events=7)
    df = src.read(spark)
    assert df.count() == 30
    assert df.where("event_type = 'CREATE'").count() == 15
    assert df.selectExpr("max(txid)").first()[0] == 30
