"""SnapshotTableStore.merge on small hand-built change sets: the LWW
winner rule (lsn, then change-over-stored on a tie, deletes dropped),
the packed order key's LSN range, and the winner plan's aggregate."""

from __future__ import annotations

import pytest

from nifi_spark import storage
from nifi_spark.storage import LSN_BOUND, SnapshotTableStore

COLS = "repo string, path string, commit string, lang string, " \
       "content string, op string, lsn long"


def _store(tmp_path, name="t"):
    s = SnapshotTableStore(str(tmp_path / name), n_buckets=2)
    s.init()
    return s


def _changes(spark, rows):
    """rows: (path, content, op, lsn) under repo 'r'."""
    return spark.createDataFrame(
        [("r", p, "c", "py", content, op, lsn)
         for p, content, op, lsn in rows], COLS)


def _table(spark, store):
    return sorted((r["path"], r["content"], r["_last_lsn"])
                  for r in store.read(spark, with_lsn=True).collect())


def test_rows_at_negative_lsn_survive(spark, tmp_path):
    """lsn = -1 (a seeded initial table) packs to a negative key; the
    unpacked _src must still be 0 or 1, or the winner join drops the
    row. Covers both the change copy (first merge) and the stored copy
    (second merge, a different key)."""
    store = _store(tmp_path)
    store.merge(spark, _changes(
        spark, [(f"p{i}", f"v{i}", "upsert", -1) for i in range(5)]))
    assert _table(spark, store) == [(f"p{i}", f"v{i}", -1)
                                    for i in range(5)]
    store.merge(spark, _changes(spark, [("q", "w", "upsert", 0)]))
    assert _table(spark, store) == (
        [(f"p{i}", f"v{i}", -1) for i in range(5)] + [("q", "w", 0)])


def test_replay_tie_keeps_one_row_with_change_payload(spark, tmp_path):
    store = _store(tmp_path)
    store.merge(spark, _changes(spark, [("a", "stored", "upsert", 5)]))
    store.merge(spark, _changes(spark, [("a", "replayed", "upsert", 5)]))
    assert _table(spark, store) == [("a", "replayed", 5)]


def test_delete_then_reinsert_and_trailing_delete(spark, tmp_path):
    store = _store(tmp_path)
    store.merge(spark, _changes(spark, [("a", "a0", "upsert", 1),
                                        ("b", "b0", "upsert", 2)]))
    store.merge(spark, _changes(spark, [
        ("a", None, "delete", 10), ("a", "a1", "upsert", 11),  # re-insert
        ("b", "b1", "upsert", 10), ("b", None, "delete", 11),  # trailing
        ("c", "c1", "upsert", 12), ("c", None, "delete", 13),  # new key
    ]))
    assert _table(spark, store) == [("a", "a1", 11)]


def test_stale_change_is_ignored(spark, tmp_path):
    store = _store(tmp_path)
    store.merge(spark, _changes(spark, [("a", "new", "upsert", 20),
                                        ("b", "keep", "upsert", 20)]))
    store.merge(spark, _changes(spark, [("a", "old", "upsert", 15),
                                        ("b", None, "delete", 19)]))
    assert _table(spark, store) == [("a", "new", 20), ("b", "keep", 20)]


def test_lsn_range_edges_round_trip(spark, tmp_path):
    """The extreme in-range LSNs unpack exactly (no double rounding)."""
    store = _store(tmp_path)
    store.merge(spark, _changes(spark, [("lo", "x", "upsert", -LSN_BOUND),
                                        ("hi", "y", "upsert",
                                         LSN_BOUND - 1)]))
    assert _table(spark, store) == [("hi", "y", LSN_BOUND - 1),
                                    ("lo", "x", -LSN_BOUND)]


_OUT_OF_RANGE = [LSN_BOUND, -LSN_BOUND - 1]


@pytest.mark.parametrize("strategy,lsn", [
    *[pytest.param("argmax", x, id=str(x)) for x in _OUT_OF_RANGE],
    *[pytest.param("delta", x, id=f"delta-{x}") for x in _OUT_OF_RANGE]])
def test_lsn_out_of_range_raises(spark, tmp_path, strategy, lsn):
    """Both strategies order by `lww_order`, so an out-of-range LSN
    raises before the commit instead of landing in the table."""
    store = _store(tmp_path)
    with pytest.raises(Exception, match="LSN outside"):
        store.merge(spark, _changes(spark, [("a", "x", "upsert", lsn)]),
                    strategy=strategy)
    assert store.current_version() == 0
    assert store.read(spark).count() == 0


def test_winner_plan_is_hash_aggregate(spark, tmp_path, monkeypatch):
    """The winner set merge builds aggregates with a HashAggregate; a
    struct-keyed max/max_by would plan Sort → SortAggregate."""
    seen, real = [], storage.lww_winners

    def spy(rows):
        seen.append(real(rows))
        return seen[-1]

    monkeypatch.setattr(storage, "lww_winners", spy)
    store = _store(tmp_path)
    store.merge(spark, _changes(spark, [("a", "x", "upsert", 1)]))
    store.merge(spark, _changes(spark, [("a", "y", "upsert", 2)]))
    assert len(seen) == 2
    plan = seen[-1]._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan
