"""Merge-on-read (strategy='delta') — read-equivalence with COW,
compaction invisibility, crash-replay convergence, schema evolution
over delta files, and bytes-written ∝ change set.

The MOR mode is the scale-safe shape for steady-state small batches:
copy-on-write rewrites every dirty bucket per batch (write
amplification ∝ table_size / batch_size for uniform keys); delta
appends write only the batch.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from nifi_spark import fixtures, oracle
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.storage import SnapshotTableStore


@pytest.fixture(scope="module")
def changelog():
    return fixtures.gen_changelog(n_events=2500, n_repos=10,
                                  paths_per_repo=5,
                                  op_mix=(0.30, 0.50, 0.195, 0.005))


@pytest.fixture(scope="module")
def changelog_path(changelog, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cl") / "changelog.parquet")
    fixtures.write_changelog_parquet(changelog, p)
    return p


def _pipe(spark, root, changelog_path, strategy):
    store = SnapshotTableStore(str(root / f"table_{strategy}"), n_buckets=4)
    store.init()
    return CdcPipeline(spark=spark, changelog_path=changelog_path,
                       store=store,
                       ledger=OffsetLedger(str(root / f"ckpt_{strategy}")),
                       merge_strategy=strategy)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return (df[sorted(df.columns)]
            .sort_values(["repo", "path"]).reset_index(drop=True))


def test_mor_equals_cow_and_oracle(spark, tmp_path, changelog,
                                   changelog_path):
    bounds = fixtures.batch_bounds(changelog, 5)
    expected, _ = oracle.replay(changelog)
    cow = _pipe(spark, tmp_path, changelog_path, "argmax")
    mor = _pipe(spark, tmp_path, changelog_path, "delta")
    cow.run(bounds)
    mor.run(bounds)
    got_cow = cow.final_table().toPandas()
    got_mor = mor.final_table().toPandas()
    oracle.assert_equivalent(got_cow[expected.columns.tolist()], expected)
    oracle.assert_equivalent(got_mor[expected.columns.tolist()], expected)
    pd.testing.assert_frame_equal(_sorted(got_cow), _sorted(got_mor))
    # MOR really appended deltas (base untouched until compact)
    m = mor.store._load_manifest()
    assert any(e.get("deltas") for e in m["buckets"].values())


def test_compaction_is_invisible_and_clears_deltas(spark, tmp_path,
                                                   changelog,
                                                   changelog_path):
    bounds = fixtures.batch_bounds(changelog, 4)
    mor = _pipe(spark, tmp_path, changelog_path, "delta")
    mor.run(bounds[:2])
    pre = _sorted(mor.store.read(spark, with_lsn=True).toPandas())
    res = mor.store.compact(spark)
    assert res["compacted_buckets"]
    post = _sorted(mor.store.read(spark, with_lsn=True).toPandas())
    pd.testing.assert_frame_equal(pre, post)
    m = mor.store._load_manifest()
    assert not any(e.get("deltas") for e in m["buckets"].values())
    # continue the feed after compact: delta batches over a compacted
    # base still converge to the oracle
    mor.run(bounds[2:])
    expected, _ = oracle.replay(changelog)
    got = mor.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)


def test_mor_crash_replay_converges(spark, tmp_path, changelog,
                                    changelog_path):
    """Crash between table commit and ledger write replays the batch:
    the delta file appends TWICE; read-time LWW tie-breaks on
    (lsn, _src) over identical payloads, so the table converges."""
    bounds = fixtures.batch_bounds(changelog, 3)
    pipe = _pipe(spark, tmp_path, changelog_path, "delta")
    pipe.apply_until(bounds[0])
    wm = pipe.ledger.get(pipe.stream)
    pipe.apply_until(bounds[1])
    pipe.ledger.commit(pipe.stream, wm["last_applied_lsn"], wm["batch_id"],
                       wm["checksum"], wm["table_version"])
    pipe2 = CdcPipeline(spark=spark, changelog_path=changelog_path,
                        store=pipe.store, ledger=pipe.ledger,
                        merge_strategy="delta")
    pipe2.run(bounds[1:])
    expected, _ = oracle.replay(changelog)
    got = pipe2.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)


def test_mor_schema_evolution_normalizes_deltas(spark, tmp_path):
    """Delta files written under an older schema normalize positionally
    on read, exactly like base files."""
    store = SnapshotTableStore(str(tmp_path / "t"), n_buckets=2)
    store.init()
    df1 = spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", "upsert", 1)],
        "repo string, path string, commit string, lang string, "
        "content string, op string, lsn long")
    store.merge(spark, df1, strategy="delta")
    store.evolve("add_column", "stars", dtype="bigint")
    df2 = spark.createDataFrame(
        [("r1", "b.py", "c2", "py", "y", 7, "upsert", 2)],
        "repo string, path string, commit string, lang string, "
        "content string, stars bigint, op string, lsn long")
    store.merge(spark, df2, strategy="delta")
    got = _sorted(store.read(spark).toPandas())
    assert got["path"].tolist() == ["a.py", "b.py"]
    assert got["stars"].fillna(-1).tolist() == [-1, 7]
    store.compact(spark)
    got2 = _sorted(store.read(spark).toPandas())
    pd.testing.assert_frame_equal(got, got2)


def test_mor_delete_tombstones_drop_rows(spark, tmp_path):
    store = SnapshotTableStore(str(tmp_path / "t"), n_buckets=2)
    store.init()
    ins = spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x", "upsert", 1),
         ("r1", "b.py", "c2", "py", "y", "upsert", 2)],
        "repo string, path string, commit string, lang string, "
        "content string, op string, lsn long")
    store.merge(spark, ins, strategy="delta")
    dele = spark.createDataFrame(
        [("r1", "a.py", None, None, None, "delete", 3)],
        "repo string, path string, commit string, lang string, "
        "content string, op string, lsn long")
    store.merge(spark, dele, strategy="delta")
    got = store.read(spark).toPandas()
    assert got["path"].tolist() == ["b.py"]
    # a fully-tombstoned bucket disappears from the manifest on compact
    store.compact(spark)
    got2 = store.read(spark).toPandas()
    assert got2["path"].tolist() == ["b.py"]


def test_mor_bytes_written_proportional_to_changes(spark, tmp_path):
    """The regime MOR exists for: a table much larger than the batch.
    Seed ~5k keys, then apply small batches — COW rewrites every dirty
    bucket (∝ table), MOR appends batch-sized deltas."""
    def du(p):
        total = 0
        for dirpath, _, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    cl = fixtures.gen_changelog(n_events=12_000, n_repos=100,
                                paths_per_repo=50, zipf_s=0.01,
                                op_mix=(0.40, 0.55, 0.045, 0.005))
    path = str(tmp_path / "cl.parquet")
    fixtures.write_changelog_parquet(cl, path)
    lsns = sorted(cl["lsn"].unique())
    seed = lsns[9_999]
    tail = [l for l in lsns if l > seed]
    step = max(1, len(tail) // 5)
    bounds = [seed] + tail[step - 1::step][:5]

    sizes = {}
    for strat in ("argmax", "delta"):
        store = SnapshotTableStore(str(tmp_path / f"t_{strat}"),
                                   n_buckets=8)
        store.init()
        pipe = CdcPipeline(spark=spark, changelog_path=path, store=store,
                           ledger=OffsetLedger(str(tmp_path / f"l_{strat}")),
                           merge_strategy=strat, eager_stats=False)
        pipe.apply_until(bounds[0])
        vdir = os.path.join(store.root, "versions")
        before = du(vdir)
        for b in bounds[1:]:
            pipe.apply_until(b)
        sizes[strat] = du(vdir) - before
    assert sizes["delta"] < sizes["argmax"] * 0.5, sizes
