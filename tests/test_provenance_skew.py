"""Lineage queries over the provenance table + explicit skew checks.

north_rule: "partitioning / shuffle / skew handled explicitly" — the
Zipf fixture sends ≥30% of events to one hot repo; these tests assert
(a) the lineage surface answers which batches touched an LSN, and
(b) the merge's key-hash distribution does NOT concentrate the hot
repo into one reducer (keys spread over paths; partial agg collapses
per-key duplicates before the exchange).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_spark import fixtures
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.provenance import (ProvenanceWriter, batch_summary,
                                   lineage_for_lsn, partition_balance)
from nifi_spark.storage import SnapshotTableStore


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("provskew")
    log = fixtures.gen_changelog(n_events=4000, n_repos=20, paths_per_repo=8,
                                 zipf_s=1.6)  # strongly skewed
    lp = str(root / "log.parquet")
    fixtures.write_changelog_parquet(log, lp)
    store = SnapshotTableStore(str(root / "tbl"), n_buckets=8)
    store.init()
    prov = ProvenanceWriter(str(root / "prov"))
    pipe = CdcPipeline(spark, lp, store, OffsetLedger(str(root / "ck")),
                       provenance=prov, coalesce_ddl=True)
    pipe.run(fixtures.batch_bounds(log, 3))
    return spark, log, pipe, prov


def test_hot_repo_is_actually_hot(applied):
    spark, log, _, _ = applied
    data = log[log["op"].isin(["insert", "update", "delete"])]
    share = (data["repo"] == "org0/repo0").mean()
    assert share >= 0.30  # fixture contract (FIXTURES.md)


def test_lineage_for_lsn(applied):
    spark, log, pipe, prov = applied
    p = prov.read(spark)
    some_lsn = int(log[log["op"] == "update"]["lsn"].iloc[10])
    lin = lineage_for_lsn(p, some_lsn).toPandas()
    assert len(lin) >= 1                       # at least the RECEIVE record
    assert set(lin["event_type"]) <= {"RECEIVE", "JOIN", "SEND"}
    # the LSN belongs to exactly one batch's range
    assert lin["batch_id"].nunique() == 1


def test_batch_summary_covers_all_batches(applied):
    spark, log, pipe, prov = applied
    summ = batch_summary(prov.read(spark)).toPandas()
    assert set(summ["batch_id"]) == {0, 1, 2}
    rec = summ[summ["event_type"] == "RECEIVE"]
    assert rec["rows"].sum() == len(log)


def test_merge_output_not_skewed_by_hot_repo(applied):
    """The final merged table's bucket distribution: the hot repo's rows
    spread across buckets by (repo, path) hash — no single bucket holds
    the hot repo's entire volume."""
    spark, log, pipe, prov = applied
    from nifi_spark.storage import bucket_expr
    final = pipe.final_table().withColumn("b", bucket_expr(8))
    dist = final.groupBy("b").count().toPandas().set_index("b")["count"]
    assert len(dist) >= 6                  # keys spread over most buckets
    assert dist.max() / dist.sum() < 0.5   # no bucket dominates


def test_partition_balance_query(applied):
    spark, log, pipe, prov = applied
    bal = partition_balance(prov.read(spark), stage="compact").toPandas()
    assert len(bal) == 3
    assert (bal["max_rows"] >= bal["mean_rows"]).all()


def test_query_rows_follow_from_the_log(applied):
    """batch_summary, lineage_for_lsn and partition_balance rows,
    recomputed from the input log: RECEIVE counts every slice row, JOIN
    the deduplicated data rows the merge took, SEND the 8 dirty buckets.
    The slice (one input file) and the merge's input each fit one
    partition here."""
    spark, log, pipe, prov = applied
    p = prov.read(spark)

    def size(df):
        return int(df["content"].fillna("").str.encode("utf-8").str.len().sum())

    expected, lo = [], -1
    for b, hi in enumerate(fixtures.batch_bounds(log, 3)):
        sl = log[(log["lsn"] > lo) & (log["lsn"] <= hi)]
        data = sl[sl["op"] != "schema_change"].drop_duplicates(
            ["repo", "path", "lsn"])
        expected += [
            (b, "compact", "JOIN", len(data), size(data), 1,
             int(data["lsn"].min()), int(data["lsn"].max())),
            (b, "merge", "SEND", 8, 0, 1, -1, -1),
            (b, "tail", "RECEIVE", len(sl), size(sl), 1, lo + 1, hi)]
        lo = hi
    got = [tuple(r) for r in batch_summary(p).orderBy(
        "batch_id", "stage").collect()]
    assert got == expected

    some_lsn = int(log[log["op"] == "update"]["lsn"].iloc[10])
    b = next(i for i, hi in enumerate(fixtures.batch_bounds(log, 3))
             if some_lsn <= hi)
    lin = [(r.batch_id, r.stage, r.event_type, r.row_count)
           for r in lineage_for_lsn(p, some_lsn).collect()]
    assert lin == [(b, "tail", "RECEIVE", expected[3 * b + 2][3]),
                   (b, "compact", "JOIN", expected[3 * b][3])]

    bal = [tuple(r) for r in partition_balance(p, "compact").collect()]
    assert bal == [(b, e[3], float(e[3]), 1, 1.0)
                   for b, e in enumerate(expected[0::3])]
