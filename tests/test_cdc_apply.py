"""End-to-end CDC apply vs the pandas replay oracle (single + multi batch).

Mirrors the reference's stateful-incremental tests
(QueryDatabaseTableTest.testAddedRows, nifi-nar-bundles/nifi-standard-bundle/
nifi-standard-processors/src/test/java/org/apache/nifi/processors/standard/
QueryDatabaseTableTest.java:167-250): replay deltas, assert final state.

The fixture log carries rare schema changes, so these tests also run
batches that apply DDL before their one merge; evolved columns that data
events fill are tested in test_schema_evolution.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_spark import fixtures, oracle
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.provenance import ProvenanceWriter
from nifi_spark.storage import SnapshotTableStore

OP_MIX = (0.30, 0.50, 0.195, 0.005)  # rare schema changes in bulk tests


@pytest.fixture(scope="module")
def changelog():
    return fixtures.gen_changelog(n_events=2500, n_repos=15, paths_per_repo=6,
                                  op_mix=OP_MIX)


@pytest.fixture(scope="module")
def changelog_path(changelog, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cl") / "changelog.parquet")
    fixtures.write_changelog_parquet(changelog, p)
    return p


def make_pipeline(spark, root, changelog_path, **kw):
    store = SnapshotTableStore(str(root / "table"), n_buckets=8)
    store.init()
    ledger = OffsetLedger(str(root / "ckpt"))
    prov = ProvenanceWriter(str(root / "prov"))
    return CdcPipeline(spark=spark, changelog_path=changelog_path,
                       store=store, ledger=ledger, provenance=prov, **kw)


@pytest.fixture(scope="module")
def applied(spark, changelog, changelog_path, tmp_path_factory):
    """Multi-batch apply shared by several asserts below."""
    pipe = make_pipeline(spark, tmp_path_factory.mktemp("mb"), changelog_path)
    bounds = fixtures.batch_bounds(changelog, 5)
    stats = pipe.run(bounds)
    return pipe, bounds, stats


def test_single_batch_matches_oracle(spark, tmp_path, changelog, changelog_path):
    pipe = make_pipeline(spark, tmp_path, changelog_path)
    max_lsn = int(changelog["lsn"].max())
    stats = pipe.apply_until(max_lsn)
    assert stats.events == len(changelog)
    expected, extras = oracle.replay(changelog)
    got = pipe.final_table().toPandas()
    assert set(got.columns) == set(expected.columns)
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)


def test_multi_batch_matches_oracle(applied, changelog):
    pipe, bounds, _ = applied
    expected, _ = oracle.replay(changelog)
    got = pipe.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)
    assert pipe.ledger.get(pipe.stream)["last_applied_lsn"] == bounds[-1]


def test_batch_stats_cover_all_events(applied, changelog):
    _, _, stats = applied
    assert sum(s.events for s in stats) == len(changelog)


def test_provenance_written(applied, spark, changelog):
    pipe, _, _ = applied
    prov = pipe.provenance.read(spark).toPandas()
    assert set(prov["event_type"]) >= {"RECEIVE", "JOIN", "SEND"}
    rec = prov[prov["event_type"] == "RECEIVE"]
    assert rec["row_count"].sum() == len(changelog)
    assert (rec["lsn_max"] >= rec["lsn_min"]).all()


def test_seeded_initial_table(spark, tmp_path, changelog, changelog_path):
    """Apply the log on top of a pre-existing base table."""
    base = fixtures.gen_repos(n_repos=15, paths_per_repo=6)
    store = SnapshotTableStore(str(tmp_path / "table2"), n_buckets=8)
    store.init()
    seed = (spark.createDataFrame(base)
            .withColumn("op", F.lit("upsert"))
            .withColumn("lsn", F.lit(-1).cast("long")))
    store.merge(spark, seed)
    ledger = OffsetLedger(str(tmp_path / "ckpt2"))
    pipe = CdcPipeline(spark=spark, changelog_path=changelog_path, store=store,
                       ledger=ledger)
    pipe.apply_until(int(changelog["lsn"].max()))
    expected, _ = oracle.replay(changelog, initial=base)
    got = pipe.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)


def test_fixture_determinism():
    a = fixtures.gen_changelog(n_events=1000, n_repos=10, paths_per_repo=4)
    b = fixtures.gen_changelog(n_events=1000, n_repos=10, paths_per_repo=4)
    assert a.equals(b)
    # hot repo: most-frequent repo gets >= 25% of data events (Zipf skew)
    data = a[a["op"] != "schema_change"]
    top = data["repo"].value_counts(normalize=True).iloc[0]
    assert top >= 0.25, top
    # duplicates present: some (repo,path,lsn) appear twice
    dups = data.duplicated(subset=["repo", "path", "lsn"]).sum()
    assert dups >= 2


def test_bulk_mode_matches_oracle(spark, tmp_path, changelog,
                                  changelog_path):
    """bulk_mode (probe skipped, all buckets rewritten) produces the same
    final state as the default plan."""
    pipe = make_pipeline(spark, tmp_path, changelog_path, bulk_mode=True)
    bounds = fixtures.batch_bounds(changelog, 3)
    pipe.run(bounds)
    expected, _ = oracle.replay(changelog)
    got = pipe.final_table().toPandas()
    oracle.assert_equivalent(got[expected.columns.tolist()], expected)
