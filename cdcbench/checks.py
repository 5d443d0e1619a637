"""Untimed output checks: the final table must equal an independent
reference. A failed check returns an error string; the run counts it as a
failed operation and reports ``correct: false``."""

from __future__ import annotations

from pyspark.sql import functions as F

from nifi_spark import oracle

_MOD = (1 << 61) - 1


def _digest(df) -> tuple[int, int]:
    """(row count, order-independent hash of (repo, path, commit, sha2(content)))."""
    h = F.pmod(F.xxhash64("repo", "path", "commit", F.sha2("content", 256)),
               F.lit(_MOD)).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _watermark(ledger, want: int) -> list[str]:
    got = ledger.get("changelog")["last_applied_lsn"]
    return [] if got == want else [f"ledger watermark {got} != {want}"]


def check_binlog(spark, store, ledger, log_path: str, max_lsn: int) -> list[str]:
    """Table vs the last event per key by lsn (deletes dropped), computed
    straight from the changelog parquet with plain Spark. The feed has one
    event per lsn, so the winners are found on (key, lsn) alone and joined
    back by lsn: the contents are not shuffled."""
    ev = spark.read.parquet(log_path).filter(F.col("lsn") <= max_lsn)
    last = ev.groupBy("repo", "path").agg(F.max("lsn").alias("lsn")).select("lsn")
    ref = (ev.join(F.broadcast(last), "lsn").filter(F.col("op") != "delete")
             .select("repo", "path", "commit", "content"))
    want, got = _digest(ref), _digest(store.read(spark))
    errs = _watermark(ledger, max_lsn)
    if got != want:
        errs.append(f"table (rows, hash) {got} != reference {want}")
    return errs


def check_replay(spark, store, ledger, quarantine_path: str, log_path: str,
                 max_lsn: int, poison: list[int]) -> list[str]:
    """Table vs ``oracle.replay`` of the non-poison events up to `max_lsn`
    (columns, keys, commit, lang, per-row sha256 of content); the
    quarantine holds exactly the poison rows (by lsn: its writes are
    at-least-once, so a replayed batch may append them twice)."""
    errs = _watermark(ledger, max_lsn)
    feed = (spark.read.parquet(log_path).filter(F.col("lsn") <= max_lsn)
            .filter(~F.col("lsn").isin(poison)).toPandas())
    expected, _ = oracle.replay(feed)
    try:
        oracle.assert_equivalent(store.read(spark).toPandas(), expected)
    except AssertionError as e:
        errs.append(f"table != oracle.replay: {e}"[:500])
    got = {r["lsn"] for r in spark.read.parquet(quarantine_path)
           .select("lsn").distinct().collect()}
    if got != set(poison):
        errs.append(f"quarantine lsns {sorted(got)} != poison {poison}")
    return errs
