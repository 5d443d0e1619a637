"""StreamingDedupIndex — continuous-crawl dedup over the persisted
index driven by Structured Streaming (foreachBatch, idempotent
per-epoch sinks).

NEVER run other Spark work concurrently — streaming micro-batch tests
are contention-sensitive (see CLAUDE.md).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from nifi_spark.streaming import StreamingDedupIndex


def _mk(spark, tmp_path, **kw):
    docs = str(tmp_path / "docs")
    os.makedirs(docs, exist_ok=True)
    return StreamingDedupIndex(
        spark, docs, str(tmp_path / "index"),
        str(tmp_path / "results"), str(tmp_path / "ck"), **kw), docs


def _land(spark, docs, rows, name):
    """One flat spool file per drop (atomic rename — the file-stream
    source contract, same as every spool bridge here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string())})
    final = os.path.join(docs, f"{name}.parquet")
    pq.write_table(table, final + ".tmp")
    os.rename(final + ".tmp", final)


def test_two_drop_classification(spark, tmp_path):
    src, docs = _mk(spark, tmp_path)
    base = [(i, " ".join(f"w{i}x{j}" for j in range(12)))
            for i in range(20)]            # fully disjoint word sets
    _land(spark, docs, base, "drop0")
    src.drain()
    r0 = {r["doc_id"]: r["status"]
          for r in src.read_results().collect()}
    assert set(r0.values()) == {"novel"} and len(r0) == 20
    # drop 1: one exact copy, one near-dup (token flip), one fresh
    drop1 = [(1000, base[3][1]),
             (2000, base[5][1].replace("w5x11", "mutated")),
             (3000, "completely different content with its own words "
                    "entirely unrelated to anything before xyz abc")]
    _land(spark, docs, drop1, "drop1")
    src.drain()
    r = {x["doc_id"]: (x["status"], x["matched_id"])
         for x in src.read_results().collect()}
    assert r[1000] == ("exact_dup", 3)
    assert r[2000][0] == "near_dup" and r[2000][1] == 5
    assert r[3000] == ("novel", -1)
    # index grew by drop0's 20 novels + drop1's single novel
    idx_docs = {x["doc_id"] for x in src.read_index()
                .select("doc_id").distinct().collect()}
    assert idx_docs == set(range(20)) | {3000}


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running an epoch overwrites its own sinks: same results, no
    duplicated index rows, and the epoch classifies against the index
    it saw the first time (its own partial rows are excluded)."""
    src, docs = _mk(spark, tmp_path)
    rows = [(i, f"words making up document number {i} with plenty of "
                f"filler tokens here token{i}") for i in range(10)]
    _land(spark, docs, rows, "drop0")
    src.drain()
    n_results = src.read_results().count()
    n_index = src.read_index().count()
    # simulate the crash-replay: run the SAME epoch's batch again
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    src._apply_batch(batch, 0)
    assert src.read_results().count() == n_results
    assert src.read_index().count() == n_index
    assert {r["status"] for r in src.read_results().collect()} \
        == {"novel"}


def test_restart_resumes_checkpoint(spark, tmp_path):
    """A NEW instance over the same checkpoint re-processes nothing;
    new files still flow."""
    src, docs = _mk(spark, tmp_path)
    rows = [(i, f"first wave document {i} full of repeated words "
                f"token{i} filler filler") for i in range(8)]
    _land(spark, docs, rows, "drop0")
    src.drain()
    src2 = StreamingDedupIndex(
        spark, docs, src.index_path, src.results_path,
        src.checkpoint_dir)
    src2.drain()                        # nothing new: no extra epochs
    assert src2.read_results().count() == 8
    _land(spark, docs, [(100, rows[2][1])], "drop1")
    src2.drain()
    r = {x["doc_id"]: x["status"]
         for x in src2.read_results().collect()}
    assert r[100] == "exact_dup" and len(r) == 9


def test_compact_index_is_read_equivalent(spark, tmp_path):
    from nifi_spark.streaming.dedup_index_stream import compact_index
    src, docs = _mk(spark, tmp_path)
    for d in range(3):
        rows = [(d * 100 + i,
                 " ".join(f"d{d}i{i}w{j}" for j in range(10)))
                for i in range(5)]
        _land(spark, docs, rows, f"drop{d}")
        src.drain()
    before = sorted(map(tuple, src.read_index()
                        .select("doc_id", "kind", "key").collect()))
    n = compact_index(spark, src.index_path, keep_last=1)
    assert n == 2                           # two folded, newest kept
    dirs = sorted(d for d in os.listdir(src.index_path)
                  if d.startswith("batch="))
    assert dirs == ["batch=-1", "batch=2"]
    after = sorted(map(tuple, src.read_index()
                       .select("doc_id", "kind", "key").collect()))
    assert after == before
    # classification after compaction unchanged: an exact copy of an
    # early doc still matches it
    _land(spark, docs, [(9999, " ".join(f"d0i1w{j}" for j in range(10)))],
          "drop3")
    src.drain()
    r = {x["doc_id"]: (x["status"], x["matched_id"])
         for x in src.read_results().collect()}
    assert r[9999] == ("exact_dup", 1)
    # idempotent re-run folds the rest
    assert compact_index(spark, src.index_path) == 2  # batch=2 + batch=3
    assert compact_index(spark, src.index_path) == 0


def test_compact_index_keep_last_beyond_dir_count(spark, tmp_path):
    """keep_last larger than the number of batch dirs folds nothing: the
    slice must not wrap and fold dirs it promised to keep."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from nifi_spark.streaming.dedup_index_stream import compact_index
    index = tmp_path / "index"
    for b in range(3):
        os.makedirs(index / f"batch={b}")
        pq.write_table(pa.table({"doc_id": pa.array([b], pa.int64()),
                                 "kind": ["exact"], "key": [str(b)]}),
                       str(index / f"batch={b}" / "part-0.parquet"))
    assert compact_index(spark, str(index), keep_last=5) == 0
    assert sorted(os.listdir(index)) == ["batch=0", "batch=1", "batch=2"]


@pytest.mark.parametrize("reopen", [False, True])
def test_compact_index_crash_mid_swap_loses_no_row(spark, tmp_path,
                                                   monkeypatch, reopen):
    """A crash after the old base dir is moved aside, before the
    compacted dir is renamed in: the next compaction (or the next open
    of the index) must finish the swap, not re-fold the remaining batch
    dirs over a missing base."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from nifi_spark.streaming.dedup_index_stream import compact_index
    index = tmp_path / "index"

    def land(b):
        os.makedirs(index / f"batch={b}")
        pq.write_table(pa.table({"doc_id": pa.array([b], pa.int64()),
                                 "kind": ["exact"], "key": [str(b)]}),
                       str(index / f"batch={b}" / "part-0.parquet"))

    def rows():
        subs = [str(index / d) for d in os.listdir(index)
                if d.startswith("batch=")]
        return sorted(r["doc_id"] for r in spark.read.parquet(*subs)
                      .distinct().collect())

    for b in range(3):
        land(b)
    assert compact_index(spark, str(index)) == 3      # base = {0, 1, 2}
    for b in range(3, 5):
        land(b)
    real = os.rename

    def crash(src, dst):
        if src.endswith("_compact_tmp"):
            raise OSError("crash mid-swap")
        return real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="crash mid-swap"):
            compact_index(spark, str(index))
    assert "batch=-1" not in os.listdir(index)         # base is aside
    if reopen:
        StreamingDedupIndex(spark, str(tmp_path / "docs"), str(index),
                            str(tmp_path / "results"), str(tmp_path / "ck"))
        assert rows() == [0, 1, 2, 3, 4]
    compact_index(spark, str(index))
    assert rows() == [0, 1, 2, 3, 4]
    assert sorted(d for d in os.listdir(index)
                  if not d.startswith(".")) == ["batch=-1"]
