"""CdcPipeline — the micro-batch driver: tail → compact → merge → checkpoint.

One NiFi session-commit == one micro-batch here (SURVEY.md §3.1 mapping):

    read change slice (lsn > ledger watermark, pushdown to parquet scan)
      → split at schema_change boundaries, apply DDL serially between
        sub-batches (NiFi sidesteps this — every processor is schema-less;
        ConvertJSONToSQL.java:101-113 is its drift-policy ancestor)
      → normalize changes onto the store schema (narrow projection)
      → SnapshotTableStore.merge — a narrow winner agg over
        (key, lsn, op) of current∪changes does LWW per (repo,path), and a
        1:1 winner join fetches the full rows (map-side partial combine ⇒
        hot-repo skew tolerated; full-width rows never cross a wide
        shuffle)
        → dirty-bucket snapshot commit (atomic)
      → provenance records per stage/partition
      → OffsetLedger.commit (checksum'd) — AFTER the table commit

Crash matrix (tests/test_resume.py): crash before merge ⇒ nothing happened;
crash between merge and ledger ⇒ batch replays, `_last_lsn` LWW makes the
replay idempotent; crash after ledger ⇒ batch never replays. Exactly-once
final state in all three.

Duplicate (key,lsn) re-deliveries — NiFi's DetectDuplicate concern
(standard/DetectDuplicate.java:58-68) — are absorbed by two mechanisms:
cross-batch dups have lsn <= watermark and never pass the slice filter;
in-batch dups are dropped from the slice (`dedup_deliveries`) before the
merge's 1:1 winner join.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from nifi_spark.ledger import OffsetLedger, slice_checksum
from nifi_spark.provenance import ProvenanceWriter
from nifi_spark.storage import SnapshotTableStore


@dataclass
class BatchStats:
    batch_id: int
    lsn_from: int
    lsn_to: int
    events: int = 0
    data_events: int = 0
    schema_events: int = 0
    upserts: int = 0
    deletes: int = 0
    quarantined: int = 0
    sub_batches: int = 0
    table_version: int = -1


@dataclass
class CdcPipeline:
    spark: SparkSession
    changelog_path: str
    store: SnapshotTableStore
    ledger: OffsetLedger
    stream: str = "changelog"
    provenance: ProvenanceWriter | None = None
    checksum: bool = True
    eager_stats: bool = True  # False: skip the per-batch count job
    # (events = -1); the apply itself never needs the count
    cache_slice: bool = True  # persist the batch slice (MEMORY_AND_DISK)
    # across the schema-scan / merge passes; size batches to the cluster
    # (micro-batch bound = the NiFi back-pressure analog) or disable to
    # re-scan the (column-pruned) parquet per pass
    bulk_mode: bool = False  # steady-state bulk CDC: skip the per-batch
    # dirty-bucket probe (every bucket assumed dirty — see
    # SnapshotTableStore.merge)
    coalesce_ddl: bool = False  # True: apply all DDL up-front (perf mode,
    # valid while data events never reference evolved columns)
    ddl_in_stream: bool = True  # False: the feed carries no schema_change
    # events (steady-state bulk CDC where DDL arrives out-of-band — the
    # usual Debezium topology) — skips the per-batch schema-scan job, so a
    # bulk batch runs exactly one Spark job (the merge)
    quarantine_path: str | None = None  # poison-row routing: malformed
    # data events (null key, unknown op) append to this errors table
    # (with reason + batch id) instead of silently merging under a null
    # key or failing the batch — the PutSQL failure-relationship /
    # ProcessSession.penalize analog (standard/PutSQL.java:147-163,
    # ProcessSession.java:316). Like NiFi's failure relationship the
    # quarantine write is at-least-once: a crash-replayed batch re-appends
    # its poison rows; readers dedup on (lsn) if they need exactly-once.
    merge_strategy: str = "argmax"  # SnapshotTableStore.merge strategy:
    # 'argmax' (COW, shuffle-narrow) | 'delta'
    # (merge-on-read: per-bucket delta appends, bytes-written ∝ change
    # set — the steady-state small-batch shape; run store.compact()
    # periodically to restore the zero-agg read path)
    dedup_deliveries: bool = True  # at-least-once feeds can re-deliver the
    # same (key, lsn) inside one batch; the merge's 1:1 winner join
    # requires (key,lsn)-unique changes, so dedup the SLICE here (a
    # slice-sized exchange — strictly cheaper than deduping the merged
    # table). False for exactly-once feeds (a real binlog, where the LSN
    # is a unique log position) — then a batch has no dedup exchange at
    # all. DetectDuplicate analog, standard/DetectDuplicate.java:58-68.
    history: list[BatchStats] = field(default_factory=list)

    # ---------------- source ----------------
    def _read_slice(self, lsn_from_excl: int, lsn_to_incl: int) -> DataFrame:
        # Both predicates push down to the parquet scan (min/max row-group
        # pruning) — the QueryDatabaseTable incremental-fetch analog
        # (standard/QueryDatabaseTable.java:324-354: strict '>' on the
        # first watermark column).
        return (self.spark.read.parquet(self.changelog_path)
                .filter((F.col("lsn") > F.lit(lsn_from_excl))
                        & (F.col("lsn") <= F.lit(lsn_to_incl))))

    # ---------------- change normalization ----------------
    def _normalize_changes(self, data: DataFrame) -> DataFrame:
        """Project raw events onto the store schema + (op, lsn) — a pure
        narrow projection, NO shuffle.

        LWW compaction (one winner per key by LSN) happens exactly once,
        inside ``SnapshotTableStore.merge``'s winner agg over
        current∪changes. An earlier version pre-compacted here with its
        own groupBy — a second full shuffle on the same key that the
        merge agg then repeated; dropping it roughly halves shuffle
        volume per batch. Same-batch delete→re-insert and trailing-delete
        tombstones resolve in that single max-by-LSN reduce.
        """
        return data.select(
            *[F.col(c) if c in data.columns else F.lit(None).cast(t).alias(c)
              for c, t in self.store.schema_columns()],
            F.when(F.col("op") == "delete", "delete").otherwise("upsert").alias("op"),
            "lsn")

    # ---------------- one micro-batch ----------------
    def apply_until(self, lsn_to_incl: int) -> BatchStats:
        wm = self.ledger.get(self.stream)["last_applied_lsn"]
        batch_id = self.ledger.get(self.stream)["batch_id"] + 1
        stats = BatchStats(batch_id=batch_id, lsn_from=wm, lsn_to=lsn_to_incl)
        if lsn_to_incl <= wm:
            return stats

        sl = self._read_slice(wm, lsn_to_incl)
        if self.cache_slice:
            sl = sl.persist()
        try:
            stats.events = sl.count() if self.eager_stats else -1
            if self.provenance:
                self.provenance.emit(sl, "RECEIVE", batch_id, "tail")

            # schema-change boundaries (tiny driver-side list; NiFi's analog
            # is per-record — we split the batch instead)
            if self.ddl_in_stream:
                sc = (sl.filter(F.col("op") == "schema_change")
                        .select("lsn", "sc_kind", "sc_column", "sc_new_name",
                                "sc_dtype")
                        .sort("lsn").collect())
            else:
                sc = []
            # null-safe: a NULL op is a data (poison) row, not DDL — it
            # must reach the quarantine split, not vanish in a
            # three-valued-logic filter
            data = (sl.filter(~F.col("op").eqNullSafe("schema_change"))
                    if self.ddl_in_stream else sl)
            stats.schema_events = len(sc)

            if self.coalesce_ddl:
                for r in sc:
                    self.store.evolve(r.sc_kind, r.sc_column, r.sc_new_name,
                                      r.sc_dtype or "string", lsn=r.lsn)
                sc = []

            lo = wm
            boundaries = [r.lsn for r in sc] + [lsn_to_incl + 1]
            for i, b in enumerate(boundaries):
                sub = data.filter((F.col("lsn") > lo) & (F.col("lsn") < b))
                self._apply_data(sub, batch_id, stats)
                if i < len(sc):
                    r = sc[i]
                    self.store.evolve(r.sc_kind, r.sc_column, r.sc_new_name,
                                      r.sc_dtype or "string", lsn=r.lsn)
                lo = b - 1
                stats.sub_batches += 1

            cs = slice_checksum(data) if self.checksum else None
            stats.table_version = self.store.current_version()
            self.ledger.commit(self.stream, lsn_to_incl, batch_id, cs,
                               stats.table_version)
            self.history.append(stats)
            return stats
        finally:
            # always release the cached slice — a failed batch must not pin
            # storage for the life of the session
            if self.cache_slice:
                sl.unpersist()

    _VALID_OPS = ("insert", "update", "delete", "upsert")

    def _apply_data(self, sub: DataFrame, batch_id: int, stats: BatchStats) -> None:
        if self.quarantine_path:
            bad = (F.col("repo").isNull() | F.col("path").isNull()
                   | ~F.coalesce(F.col("op").isin(*self._VALID_OPS),
                                 F.lit(False)))
            reason = (F.when(F.col("repo").isNull() | F.col("path").isNull(),
                             "null_key")
                      .otherwise(F.concat(F.lit("bad_op:"),
                                          F.coalesce(F.col("op"),
                                                     F.lit("null")))))
            poison = (sub.filter(bad)
                      .withColumn("_reason", reason)
                      .withColumn("_batch_id", F.lit(batch_id).cast("long")))
            n_bad = poison.count() if self.eager_stats else -1
            if n_bad != 0:
                poison.write.mode("append").parquet(self.quarantine_path)
                if self.provenance:
                    self.provenance.emit(poison, "DROP", batch_id,
                                         "quarantine")
            if n_bad > 0:
                stats.quarantined += n_bad
            sub = sub.filter(~bad)
        changes = self._normalize_changes(sub)
        if self.dedup_deliveries:
            changes = changes.dropDuplicates(["repo", "path", "lsn"])
        if self.provenance:
            self.provenance.emit(changes, "JOIN", batch_id, "compact")
        res = self.store.merge(self.spark, changes,
                               strategy=self.merge_strategy,
                               assume_all_dirty=self.bulk_mode)
        if res["dirty_buckets"] and self.provenance:
            self.provenance.emit_counts(self.spark, "SEND", batch_id, "merge",
                                        len(res["dirty_buckets"]))

    # ---------------- full run / resume ----------------
    def run(self, bounds: list[int]) -> list[BatchStats]:
        """Apply batches up to each bound; already-applied bounds skip (resume)."""
        out = []
        for b in bounds:
            out.append(self.apply_until(b))
        return out

    def final_table(self) -> DataFrame:
        return self.store.read(self.spark)
