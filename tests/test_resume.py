"""Resumability + exactly-once crash matrix.

The window the reference leaves open — commit the session, then write the
watermark (QueryDatabaseTable.java:313-321: a crash between the two replays
data, at-least-once) — must close here: table merge is LWW-by-`_last_lsn`
idempotent, so a replayed batch converges to the same final state.

Crash points exercised:
  (a) before the table commit  → nothing persisted, clean re-run
  (b) between table commit and ledger write → batch replays, idempotent
  (c) after ledger write       → batch never replays
"""

from __future__ import annotations

import pytest

from nifi_spark import fixtures, oracle
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.storage import SnapshotTableStore


@pytest.fixture(scope="module")
def changelog():
    return fixtures.gen_changelog(n_events=1500, n_repos=10, paths_per_repo=5,
                                  op_mix=(0.30, 0.50, 0.195, 0.005))


@pytest.fixture(scope="module")
def changelog_path(changelog, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cl") / "changelog.parquet")
    fixtures.write_changelog_parquet(changelog, p)
    return p


def fresh(spark, root, changelog_path):
    store = SnapshotTableStore(str(root / "table"), n_buckets=4)
    store.init()
    return CdcPipeline(spark=spark, changelog_path=changelog_path, store=store,
                       ledger=OffsetLedger(str(root / "ckpt")),
                       checksum=True)


def test_crash_between_commit_and_ledger_is_idempotent(spark, tmp_path,
                                                       changelog, changelog_path):
    pipe = fresh(spark, tmp_path, changelog_path)
    bounds = fixtures.batch_bounds(changelog, 3)
    pipe.apply_until(bounds[0])

    # simulate crash AFTER the batch-2 table commit but BEFORE the ledger
    # write: apply batch 2 fully, then roll the ledger back to batch 1.
    ledger_after_b1 = pipe.ledger.get(pipe.stream)
    pipe.apply_until(bounds[1])
    pipe.ledger.commit(pipe.stream, ledger_after_b1["last_applied_lsn"],
                       ledger_after_b1["batch_id"], ledger_after_b1["checksum"],
                       ledger_after_b1["table_version"])

    # recovery: a new pipeline instance resumes from the (stale) ledger and
    # replays batch 2, then continues to batch 3.
    pipe2 = CdcPipeline(spark=spark, changelog_path=changelog_path,
                        store=pipe.store, ledger=pipe.ledger)
    pipe2.run(bounds[1:])

    expected, _ = oracle.replay(changelog)
    got = pipe2.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)


def test_crash_after_ledger_never_replays(spark, tmp_path, changelog,
                                          changelog_path):
    pipe = fresh(spark, tmp_path, changelog_path)
    bounds = fixtures.batch_bounds(changelog, 3)
    pipe.run(bounds)
    v_before = pipe.store.current_version()
    # "resume" at the same bounds: every batch is a no-op (lsn_to <= wm)
    pipe2 = CdcPipeline(spark=spark, changelog_path=changelog_path,
                        store=pipe.store, ledger=pipe.ledger)
    stats = pipe2.run(bounds)
    assert all(s.events == 0 for s in stats)
    assert pipe.store.current_version() == v_before  # no new snapshots


def test_kill_restart_equals_single_shot(spark, tmp_path, changelog,
                                         changelog_path):
    """k-batch apply with a process 'restart' between every batch == 1-shot."""
    bounds = fixtures.batch_bounds(changelog, 4)
    root_a = tmp_path / "a"
    pipe = fresh(spark, root_a, changelog_path)
    for b in bounds:  # new pipeline object per batch = restart
        CdcPipeline(spark=spark, changelog_path=changelog_path,
                    store=pipe.store, ledger=pipe.ledger).apply_until(b)

    root_b = tmp_path / "b"
    single = fresh(spark, root_b, changelog_path)
    single.apply_until(bounds[-1])

    a = pipe.final_table().toPandas()
    b = single.final_table().toPandas()
    oracle.assert_equivalent(a, b[a.columns.tolist()])


def test_duplicate_deliveries_across_boundary_applied_once(spark, tmp_path,
                                                           changelog,
                                                           changelog_path):
    """Re-delivered (key,lsn) rows land in later batches; watermark filter +
    LWW absorb them — final state equals the oracle (which dedupes)."""
    dups = changelog[changelog.duplicated(subset=["lsn"], keep=False)]
    assert len(dups) > 0  # fixture guarantees injected duplicates
    pipe = fresh(spark, tmp_path, changelog_path)
    pipe.run(fixtures.batch_bounds(changelog, 5))
    expected, _ = oracle.replay(changelog)
    got = pipe.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)


def test_ledger_checksum_and_state(spark, tmp_path, changelog, changelog_path):
    pipe = fresh(spark, tmp_path, changelog_path)
    bounds = fixtures.batch_bounds(changelog, 2)
    pipe.apply_until(bounds[0])
    st = pipe.ledger.get(pipe.stream)
    assert st["last_applied_lsn"] == bounds[0]
    assert st["batch_id"] == 0
    assert isinstance(st["checksum"], str) and len(st["checksum"]) == 16
    assert st["table_version"] >= 1
