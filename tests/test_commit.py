"""SnapshotTableStore's one commit path: every writer publishes through
`_publish`, whose exclusive manifest create is the commit.

Two writers of one version: the second raises CommitConflict and the
first one's rows stay. A crash or a lost race leaves only an
unreferenced data dir, which `expire_snapshots` collects; a dir newer
than the current version is never collected, since its write may still
be in flight. A pipeline batch with DDL commits its schema and its merge
as one version, so a crash inside the merge leaves the table as it was.
"""

from __future__ import annotations

import copy
import os

import pandas as pd
import pytest

from nifi_spark import fixtures, oracle, storage
from nifi_spark.durable import CommitConflict
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.storage import SnapshotTableStore

SCHEMA = ("repo string, path string, commit string, lang string, "
          "content string, op string, lsn long")


class _Crash(Exception):
    pass


def _rows(tag: str, n: int, lsn0: int) -> list[tuple]:
    return [(f"{tag}{i % 7}", f"p{i}", f"c{i}", "py", f"{tag}{i}", "upsert",
             lsn0 + i) for i in range(n)]


def _merge(spark, store, rows) -> dict:
    return store.merge(spark, spark.createDataFrame(rows, SCHEMA))


def _table(spark, store) -> dict:
    return {(r.repo, r.path): r.content for r in store.read(spark).collect()}


def _dirs(store) -> set[str]:
    vdir = os.path.join(store.root, "versions")
    return set(os.listdir(vdir)) if os.path.isdir(vdir) else set()


def test_two_writers_of_one_version_conflict(spark, tmp_path):
    """Both writers plan against v0. The second to commit v1 raises and
    the first one's rows stay; the loser's data dir is collected."""
    root = str(tmp_path / "tbl")
    a, b = SnapshotTableStore(root, 4), SnapshotTableStore(root, 4)
    a.init()
    v0 = a._load_manifest()
    _merge(spark, b, _rows("b", 100, 1))
    won = _table(spark, b)
    assert len(won) == 100

    load = a._load_manifest
    a._load_manifest = lambda version=None: (
        copy.deepcopy(v0) if version is None else load(version))
    with pytest.raises(CommitConflict):
        _merge(spark, a, _rows("a", 100, 1))

    fresh = SnapshotTableStore(root)
    assert fresh.current_version() == 1
    assert _table(spark, fresh) == won
    assert len(_dirs(fresh)) == 2          # the winner's and the loser's
    res = fresh.expire_snapshots(keep_last=1)
    assert len(res["removed_dirs"]) == 1 and len(_dirs(fresh)) == 1
    assert _table(spark, fresh) == won


def test_expire_during_a_write_keeps_the_attempt(spark, tmp_path,
                                                 monkeypatch):
    """expire_snapshots runs between the merge's data write and its
    commit: the attempt's dir is newer than the current version, so it
    stays, and the committed table reads with every row."""
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    _merge(spark, store, _rows("r", 40, 1))
    write = storage.atomic_write

    def expire_then_write(*a, **kw):
        store.expire_snapshots(keep_last=1)
        return write(*a, **kw)

    monkeypatch.setattr(storage, "atomic_write", expire_then_write)
    _merge(spark, store, _rows("s", 40, 100))
    monkeypatch.undo()
    assert store.current_version() == 2
    assert len(_table(spark, store)) == 80


def test_crash_between_data_write_and_commit(spark, tmp_path, monkeypatch):
    """A crash after the data write, before the manifest create: the
    table is unchanged, the next merge commits that version number, and
    expire_snapshots collects the orphan dir."""
    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()
    _merge(spark, store, _rows("r", 40, 1))
    before, dirs = _table(spark, store), _dirs(store)

    def crash(*a, **kw):
        raise _Crash()

    monkeypatch.setattr(storage, "atomic_write", crash)
    with pytest.raises(_Crash):
        _merge(spark, store, _rows("s", 40, 100))
    monkeypatch.undo()
    (orphan,) = _dirs(store) - dirs
    assert store.current_version() == 1 and _table(spark, store) == before

    assert _merge(spark, store, _rows("t", 40, 200))["version"] == 2
    assert len(_table(spark, store)) == 80
    res = store.expire_snapshots()
    assert orphan in res["removed_dirs"] and orphan not in _dirs(store)
    assert len(_table(spark, store)) == 80


def _row(lsn, op, repo=None, sc=None):
    return {"lsn": lsn, "op": op, "repo": repo, "path": "a" if repo else None,
            "commit": f"c{lsn}" if repo else None, "lang": "py" if repo else None,
            "content": f"v{lsn}" if repo else None,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=lsn),
            "sc_kind": sc and sc[0], "sc_column": sc and sc[1],
            "sc_new_name": sc and sc[2], "sc_dtype": sc and "string"}


DDL_LOG = ([_row(i, "insert", f"r{i}") for i in range(6)]
           + [_row(6, "schema_change", sc=("add_column", "x", None)),
              _row(7, "update", "r1"),
              _row(8, "schema_change", sc=("rename_column", "x", "y")),
              _row(9, "update", "r2"), _row(10, "insert", "r6"),
              _row(11, "delete", "r3")])


def test_ddl_batch_is_one_version(spark, tmp_path, monkeypatch):
    """An add + rename batch crashed at the commit inside its merge
    leaves the version and the schema untouched; a resume reaches the
    uncrashed table, whose batch made one version."""
    log = pd.DataFrame(DDL_LOG)
    path = str(tmp_path / "log.parquet")
    fixtures.write_changelog_parquet(log, path)

    def pipeline(root):
        return CdcPipeline(spark, path, SnapshotTableStore(str(root / "t"), 4),
                           OffsetLedger(str(root / "l")))

    def table(pipe):
        df = pipe.final_table().toPandas()
        oracle.assert_equivalent(df, oracle.replay(log)[0])
        return list(df.columns), sorted(map(tuple, df.itertuples(index=False)))

    pipe = pipeline(tmp_path / "crashed")
    pipe.store.init()
    pipe.apply_until(5)
    store, merge = pipe.store, pipe.store.merge
    cols = store.schema_columns()

    def crash(*a, **kw):
        raise _Crash()

    def crashing_merge(*a, **kw):
        monkeypatch.setattr(storage, "atomic_write", crash)
        return merge(*a, **kw)

    store.merge = crashing_merge
    with pytest.raises(_Crash):
        pipe.apply_until(11)
    monkeypatch.undo()
    assert store.current_version() == 1 and store.schema_columns() == cols

    clean = pipeline(tmp_path / "clean")
    clean.store.init()
    clean.apply_until(5)
    assert clean.apply_until(11).table_version == 2
    assert clean.store.versions() == [0, 1, 2]
    want = table(clean)
    assert want[0][-1] == "y"
    resumed = pipeline(tmp_path / "crashed")
    assert resumed.apply_until(11).table_version == 2
    assert table(resumed) == want
