"""Every table file carries its manifest schema's columns and types.

SnapshotTableStore.read hands each scan the schema the manifest records
for the file (`schemas[sid]` + `_last_lsn long`, + `op string` for delta
files) instead of inferring a parquet footer, so each writer — merge,
the delta merge, compact and rebucket — must write exactly that schema,
whatever types its input has.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nifi_spark import fixtures, oracle
from nifi_spark.storage import SnapshotTableStore

ARROW = {"string": pa.string(), "bigint": pa.int64(), "long": pa.int64(),
         "int": pa.int32()}
ADD_LSN = 800  # the schema_change event that adds `n bigint`


def _expected(cols, delta):
    fields = [(n, ARROW[t]) for n, t in cols] + [("_last_lsn", pa.int64())]
    return pa.schema(fields + ([("op", pa.string())] if delta else []))


def _check_files(store):
    m = store._load_manifest()
    seen = 0
    for e in m["buckets"].values():
        files = [(e["path"], e["schema_id"], False)] if e.get("path") else []
        files += [(d["path"], d["schema_id"], True) for d in e.get("deltas", [])]
        for rel, sid, delta in files:
            want = _expected(m["schemas"][str(sid)], delta)
            parts = glob.glob(os.path.join(store.root, rel, "*.parquet"))
            assert parts, rel
            for f in parts:
                got = pq.read_schema(f)
                assert got.equals(want), (rel, got, want)
                seen += 1
    return seen


def _check_read(spark, store, log, hi):
    want, extra = oracle.replay(log, max_lsn=hi)
    got = store.read(spark).toPandas()
    assert list(got.columns) == oracle.BASE_COLS + extra
    oracle.assert_equivalent(got, want)


def test_every_writer_writes_the_manifest_types(spark, tmp_path):
    log = fixtures.gen_changelog(n_events=2000, n_repos=6, paths_per_repo=6,
                                 op_mix=(0.3, 0.5, 0.2, 0.0))
    log = log[log["lsn"] != ADD_LSN]
    ddl = {c: None for c in log.columns}
    ddl.update(lsn=ADD_LSN, op="schema_change", sc_kind="add_column",
               sc_column="n", sc_dtype="bigint",
               ts=pd.Timestamp("2024-01-01"))
    log = pd.concat([log, pd.DataFrame([ddl])], ignore_index=True)
    # the events after the DDL carry `n` as an int column, under the
    # manifest's bigint
    log["n"] = pd.array([lsn % 7 if lsn > ADD_LSN else None
                         for lsn in log["lsn"]], dtype="Int32")
    path = str(tmp_path / "log.parquet")
    fixtures.write_changelog_parquet(log, path)
    t = pq.read_table(path)
    pq.write_table(t.append_column("n", pa.array(log["n"], pa.int32())), path)
    src = spark.read.parquet(path).filter(F.col("op") != "schema_change")

    def changes(lo, hi, with_n=False):
        c = (src.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
             .dropDuplicates(["repo", "path", "lsn"])
             .withColumn("op", F.when(F.col("op") == "delete", "delete")
                         .otherwise("upsert")))
        cols = ["repo", "path", "commit", "lang", "content", "op", "lsn"]
        if with_n:
            cols.insert(5, "n")
        return c.select(*cols)

    store = SnapshotTableStore(str(tmp_path / "tbl"), n_buckets=4)
    store.init()

    # merge whose change set types lsn as int
    store.merge(spark, changes(-1, 399).withColumn(
        "lsn", F.col("lsn").cast("int")))
    assert _check_files(store)
    _check_read(spark, store, log, 399)

    store.merge(spark, changes(399, 799), strategy="delta")
    _check_files(store)
    _check_read(spark, store, log, 799)

    store.evolve("add_column", "n", dtype="bigint", lsn=ADD_LSN)
    store.merge(spark, changes(ADD_LSN, 1199, with_n=True))
    store.merge(spark, changes(1199, 1599, with_n=True), strategy="delta")
    _check_files(store)
    _check_read(spark, store, log, 1599)
    assert store.read(spark).schema["n"].dataType.typeName() == "long"

    assert store.compact(spark)["compacted_buckets"]
    assert not any(e.get("deltas")
                   for e in store._load_manifest()["buckets"].values())
    _check_files(store)
    _check_read(spark, store, log, 1599)

    store.rebucket(spark, 6)
    assert _check_files(store) >= 5
    _check_read(spark, store, log, 1599)
