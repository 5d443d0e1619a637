"""Seeded input feeds for the CDC benchmark.

``binlog`` is a Spark-synthesized binlog in the column-expression style of
``fixtures.gen_changelog_spark``, keyed on ``xxhash64(lsn, seed)`` so each
seed gives a different feed: one event per lsn, ~30 % of events on the hot
repo, random insert/update/delete (so same-key multi-updates and
delete→re-insert inside one batch are common). With ``snapshot`` set, the
first ``N_KEYS`` lsns are an initial snapshot that inserts every key once,
so the table is full before the binlog proper starts.

With ``edge_from`` and ``every`` set, the lsns from ``edge_from`` on also
carry the FIXTURES.md edge cases at fixed offsets inside each run of
``every`` lsns (one batch, for a consumer taking ``every`` events at a
time), so the work per batch does not depend on the seed: one poison row
(null repo, null path or unknown op, in turn) and ~1 % duplicate
re-deliveries (a second row with the same lsn and payload) in every
batch, and in the first batch only two schema changes mid-batch: add
``extra_0``, and at the next lsn rename it to ``extra_0r``.

The program under test only ever sees the parquet written from these.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DUP_PERCENT = 1
N_REPOS = 5000
PATHS_PER_REPO = 40  # 200k keys; the hot repo's 40 paths take ~30 % of events
N_KEYS = N_REPOS * PATHS_PER_REPO


def _h(seed: int, salt: int, mod: int):
    """Non-negative seeded hash of the lsn, reduced mod `mod`."""
    return F.pmod(F.xxhash64(F.col("lsn"), F.lit(seed), F.lit(salt)), F.lit(mod))


def binlog(spark, n_events: int, seed: int, snapshot: bool = False,
           edge_from: int | None = None, every: int = 0):
    """Changelog of `n_events` events (lsn 0..n-1), starting with the
    initial snapshot if `snapshot`; edge cases from lsn `edge_from` on
    (none when it is None)."""
    parts = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, n_events, 1, parts).withColumnRenamed("id", "lsn")
    in_snapshot = F.lit(snapshot) & (F.col("lsn") < N_KEYS)
    key_id = F.when(in_snapshot, F.col("lsn")) \
              .when(_h(seed, 1, 100) < 30, _h(seed, 2, PATHS_PER_REPO)) \
              .otherwise(_h(seed, 3, N_KEYS))
    df = df.withColumn("_k", key_id)
    rid = (F.col("_k") / PATHS_PER_REPO).cast("long")
    repo = F.concat(F.lit("org"), rid % (N_REPOS // 10), F.lit("/repo"), rid)
    path = F.concat(F.lit("src/pkg"), F.col("_k") % 7, F.lit("/mod"),
                    F.col("_k") % PATHS_PER_REPO, F.lit(".py"))
    opsel = _h(seed, 4, 100)
    op = (F.when(in_snapshot | (opsel < 30), "insert").when(opsel < 80, "update")
           .when(opsel < 98, "delete").otherwise("update"))
    content = F.concat(F.lit("// "), repo, F.lit("/"), path, F.lit("@"),
                       F.col("lsn").cast("string"), F.lit("\n"),
                       F.repeat(F.lit("x"), (_h(seed, 5, 256) + 128).cast("int")))
    null = F.lit(None).cast("string")
    df = df.select(
        "lsn", op.alias("op"), repo.alias("repo"), path.alias("path"),
        F.sha1(F.concat(repo, path, F.col("lsn").cast("string"),
                        F.lit(str(seed)))).alias("commit"),
        F.lit("python").alias("lang"),
        F.when(op != "delete", content).alias("content"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("lsn") % 86400).alias("ts"),
        null.alias("sc_kind"), null.alias("sc_column"),
        null.alias("sc_new_name"), null.alias("sc_dtype"))
    return df if edge_from is None else _edge_cases(df, seed, edge_from, every)


def poison_lsns(edge_from: int, every: int, max_lsn: int) -> list[int]:
    """The lsns of the poison rows injected up to `max_lsn`."""
    return list(range(edge_from + every // 4, max_lsn + 1, every))


def _edge_cases(df, seed: int, edge_from: int, every: int):
    lsn = F.col("lsn")
    edge = lsn >= edge_from
    o = lsn - edge_from
    j = (o / every).cast("long")  # batch number
    add = o == every // 2
    rename = o == every // 2 + 1
    ddl = add | rename
    poison = edge & (o % every == every // 4)
    kind = j % 3  # null repo | null path | bad op
    null = F.lit(None).cast("string")
    df = df.select(
        "lsn",
        F.when(ddl, "schema_change")
         .when(poison & (kind == 2), "merge").otherwise(F.col("op")).alias("op"),
        F.when(ddl | (poison & (kind == 0)), null).otherwise(F.col("repo")).alias("repo"),
        F.when(ddl | (poison & (kind == 1)), null).otherwise(F.col("path")).alias("path"),
        *[F.when(ddl, null).otherwise(F.col(c)).alias(c)
          for c in ("commit", "lang", "content")],
        "ts",
        F.when(add, "add_column").when(rename, "rename_column").alias("sc_kind"),
        F.when(ddl, "extra_0").alias("sc_column"),
        F.when(rename, "extra_0r").alias("sc_new_name"),
        F.when(ddl, "string").alias("sc_dtype"))
    dups = df.filter(edge & ~ddl & (_h(seed, 6, 100) < DUP_PERCENT))
    return df.unionByName(dups)
