"""CdcPipeline — the micro-batch driver: tail → compact → merge → checkpoint.

One NiFi session-commit == one micro-batch here (SURVEY.md §3.1 mapping):

    read change slice (lsn > ledger watermark, pushdown to parquet scan;
    the changelog schema is inferred on the first read only, so later
    slices plan without a footer-lookup job)
      → ONE slice pass: a single aggregate per Spark partition, collected
        in Python — the RECEIVE record (lsn range, rows, bytes), the
        same over the poison rows (the DROP record and quarantine count),
        the ledger checksum's partial sums, the schema_change rows and
        the buckets the good data rows hash to: the merge's dirty set
        when the batch has no DDL sub-batch (a DDL batch's sub-batches
        keep the store's probe; bulk mode merges every bucket). It runs
        only when provenance, the checksum, eager_stats, DDL scanning or
        the quarantine needs it, so the bulk config (none of these) runs
        the merge's jobs alone
      → poison rows append to the quarantine once, if the pass counted any
      → split at schema_change boundaries, apply DDL serially between
        sub-batches (NiFi sidesteps this — every processor is schema-less;
        ConvertJSONToSQL.java:101-113 is its drift-policy ancestor); per
        sub-batch:
          normalize changes onto the store schema (narrow projection)
          → SnapshotTableStore.merge — a narrow winner agg over
            (key, lsn, op) of current∪changes does LWW per (repo,path),
            and a 1:1 winner join fetches the full rows (map-side partial
            combine ⇒ hot-repo skew tolerated; full-width rows never
            cross a wide shuffle) → dirty-bucket snapshot commit (atomic)
      → ONE provenance landing: the batch's RECEIVE, DROP, JOIN and SEND
        records as one parquet file (durable.Spool, no Spark job) — AFTER
        the table commits, like NiFi's session-commit provenance write
      → OffsetLedger.commit (checksum folded from the pass) — LAST

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

from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from nifi_spark.ledger import OffsetLedger, checksum_term, fold_checksum
from nifi_spark.ledger import slice_checksum  # noqa: F401 — kept importable
# here: the benchmark traces it under this module's name
from nifi_spark.provenance import (ProvenanceWriter, content_size,
                                   count_record, partition_aggs,
                                   partition_records)
from nifi_spark.storage import SnapshotTableStore, bucket_expr


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
    eager_stats: bool = True  # False: the count alone does not run the
    # slice pass; when nothing else needs it (no provenance, checksum, DDL
    # scan or quarantine) the batch skips it and reports events = -1
    cache_slice: bool = True  # persist the batch slice (MEMORY_AND_DISK)
    # across the slice pass, quarantine write and merges; size batches to
    # the cluster (micro-batch bound = the NiFi back-pressure analog) or
    # disable to re-scan the (column-pruned) parquet per pass
    bulk_mode: bool = False  # steady-state bulk CDC: every bucket is
    # merged as dirty, with no dirty-bucket probe or set (see
    # SnapshotTableStore.merge)
    coalesce_ddl: bool = False  # True: apply all DDL up-front (perf mode,
    # valid while data events never reference evolved columns)
    ddl_in_stream: bool = True  # False: the feed carries no schema_change
    # events (steady-state bulk CDC where DDL arrives out-of-band — the
    # usual Debezium topology) — no DDL scan in the slice pass, so a bulk
    # batch (no pass at all) runs exactly one Spark job (the merge)
    quarantine_path: str | None = None  # poison-row routing: malformed
    # data events (null key, unknown op) append to this errors table
    # (with reason + batch id) instead of silently merging under a null
    # key or failing the batch — the PutSQL failure-relationship /
    # ProcessSession.penalize analog (standard/PutSQL.java:147-163,
    # ProcessSession.java:316). Written once per batch, before the first
    # merge. Like NiFi's failure relationship the quarantine write is
    # at-least-once: a crash-replayed batch re-appends its poison rows;
    # readers dedup on (lsn) if they need exactly-once.
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
    _slice_schema: StructType | None = field(default=None, init=False,
                                             repr=False)

    # ---------------- source ----------------
    def _read_slice(self, lsn_from_excl: int, lsn_to_incl: int) -> DataFrame:
        # Both predicates push down to the parquet scan (min/max row-group
        # pruning) — the QueryDatabaseTable incremental-fetch analog
        # (standard/QueryDatabaseTable.java:324-354: strict '>' on the
        # first watermark column). The changelog schema is inferred (one
        # footer-lookup job) on the first read only; later reads pass it.
        reader = self.spark.read
        if self._slice_schema is not None:
            reader = reader.schema(self._slice_schema)
        df = reader.parquet(self.changelog_path)
        self._slice_schema = df.schema
        return df.filter((F.col("lsn") > F.lit(lsn_from_excl))
                         & (F.col("lsn") <= F.lit(lsn_to_incl)))

    # ---------------- change normalization ----------------
    def _normalize_changes(self, data: DataFrame) -> DataFrame:
        """Project raw events onto the store schema, cast to its types,
        + (op, lsn) — a pure narrow projection, NO shuffle.

        LWW compaction (one winner per key by LSN) happens exactly once,
        inside ``SnapshotTableStore.merge``'s winner agg over
        current∪changes. An earlier version pre-compacted here with its
        own groupBy — a second full shuffle on the same key that the
        merge agg then repeated; dropping it roughly halves shuffle
        volume per batch. Same-batch delete→re-insert and trailing-delete
        tombstones resolve in that single max-by-LSN reduce.
        """
        return data.select(
            *[(F.col(c) if c in data.columns else F.lit(None)).cast(t).alias(c)
              for c, t in self.store.schema_columns()],
            F.when(F.col("op") == "delete", "delete").otherwise("upsert").alias("op"),
            "lsn")

    # ---------------- one micro-batch ----------------
    _VALID_OPS = ("insert", "update", "delete", "upsert")

    def _slice_pass(self, sl: DataFrame, ddl: Column, bad: Column | None,
                    n_buckets: int | None) -> list:
        """The slice's one aggregate, per Spark partition: the RECEIVE
        record's numbers, the same over the poison rows (the DROP record,
        prefix `drop_`), the checksum's partial sum over the non-DDL rows,
        the schema_change rows and, given `n_buckets`, the buckets the
        data rows hash to (the merge's dirty set). One collected job
        instead of a count, a DDL scan, a quarantine count, a checksum
        job and the merge's dirty-bucket probe."""
        size = content_size(sl)
        aggs = partition_aggs(F.col("lsn"), size)
        if bad is not None:
            aggs += partition_aggs(F.col("lsn"), size, bad, prefix="drop_")
        if self.checksum:
            aggs.append(F.sum(F.when(~ddl, checksum_term())).alias("checksum"))
        if self.ddl_in_stream:
            aggs.append(F.collect_list(F.when(ddl, F.struct(
                "lsn", "sc_kind", "sc_column", "sc_new_name", "sc_dtype"))
            ).alias("ddl"))
        if n_buckets is not None:
            good = ~ddl if bad is None else ~ddl & ~bad
            aggs.append(F.collect_set(F.when(good, bucket_expr(n_buckets)))
                        .alias("buckets"))
        return (sl.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(*aggs).collect())

    def apply_until(self, lsn_to_incl: int) -> BatchStats:
        wm = self.ledger.get(self.stream)["last_applied_lsn"]
        batch_id = self.ledger.get(self.stream)["batch_id"] + 1
        stats = BatchStats(batch_id=batch_id, lsn_from=wm, lsn_to=lsn_to_incl)
        if lsn_to_incl <= wm:
            return stats
        prov = self.provenance if self.provenance and self.provenance.enabled \
            else None

        sl = self._read_slice(wm, lsn_to_incl)
        if self.cache_slice:
            sl = sl.persist()
        try:
            # null-safe: a NULL op is a data (poison) row, not DDL — it
            # must reach the quarantine split, not vanish in a
            # three-valued-logic filter
            ddl = (F.col("op").eqNullSafe("schema_change")
                   if self.ddl_in_stream else F.lit(False))
            data = sl.filter(~ddl) if self.ddl_in_stream else sl
            bad = (~ddl & (F.col("repo").isNull() | F.col("path").isNull()
                           | ~F.coalesce(F.col("op").isin(*self._VALID_OPS),
                                         F.lit(False)))
                   if self.quarantine_path else None)
            run_pass = bool(prov or self.checksum or self.eager_stats
                            or self.ddl_in_stream or bad is not None)
            nb = self.store._load_manifest()["n_buckets"]
            parts = (self._slice_pass(sl, ddl, bad,
                                      None if self.bulk_mode else nb)
                     if run_pass else [])
            stats.events = (sum(r["row_count"] for r in parts) if run_pass
                            else -1)
            # schema-change boundaries (tiny driver-side list; NiFi's analog
            # is per-record — we split the batch instead)
            sc = (sorted((d for r in parts for d in r["ddl"]),
                         key=lambda d: d.lsn) if self.ddl_in_stream else [])
            stats.schema_events = len(sc)
            records = (partition_records(parts, "RECEIVE", batch_id, "tail")
                       if prov else [])

            if bad is not None:
                stats.quarantined = sum(r["drop_row_count"] for r in parts)
                if stats.quarantined:
                    self._quarantine(data.filter(bad), batch_id)
                    if prov:
                        records += partition_records(
                            parts, "DROP", batch_id, "quarantine", "drop_")
                data = data.filter(~bad)

            if self.coalesce_ddl:
                for r in sc:
                    self.store.evolve(r.sc_kind, r.sc_column, r.sc_new_name,
                                      r.sc_dtype or "string", lsn=r.lsn)
                sc = []

            # the merge's dirty buckets: all of them in bulk mode, the
            # pass's set for a batch with no DDL sub-batch, else the probe
            if self.bulk_mode:
                dirty = range(nb)
            elif run_pass and not sc:
                dirty = {b for r in parts for b in r["buckets"]}
            else:
                dirty = None
            lo = wm
            boundaries = [r.lsn for r in sc] + [lsn_to_incl + 1]
            for i, b in enumerate(boundaries):
                sub = data.filter((F.col("lsn") > lo) & (F.col("lsn") < b))
                records += self._merge(sub, batch_id, prov, dirty)
                if i < len(sc):
                    r = sc[i]
                    self.store.evolve(r.sc_kind, r.sc_column, r.sc_new_name,
                                      r.sc_dtype or "string", lsn=r.lsn)
                lo = b - 1
                stats.sub_batches += 1

            stats.table_version = self.store.current_version()
            if prov:
                prov.land(records)
            cs = (fold_checksum(r["checksum"] for r in parts)
                  if self.checksum else None)
            self.ledger.commit(self.stream, lsn_to_incl, batch_id, cs,
                               stats.table_version)
            self.history.append(stats)
            return stats
        finally:
            # always release the cached slice — a failed batch must not pin
            # storage for the life of the session
            if self.cache_slice:
                sl.unpersist()

    def _quarantine(self, poison: DataFrame, batch_id: int) -> None:
        reason = (F.when(F.col("repo").isNull() | F.col("path").isNull(),
                         "null_key")
                  .otherwise(F.concat(F.lit("bad_op:"),
                                      F.coalesce(F.col("op"), F.lit("null")))))
        (poison.withColumn("_reason", reason)
         .withColumn("_batch_id", F.lit(batch_id).cast("long"))
         .write.mode("append").parquet(self.quarantine_path))

    def _merge(self, sub: DataFrame, batch_id: int,
               prov: ProvenanceWriter | None,
               dirty: Iterable[int] | None) -> list:
        """Merge one sub-batch into the `dirty` buckets (None: the
        store's probe finds them); returns its JOIN and SEND records."""
        changes = self._normalize_changes(sub)
        if self.dedup_deliveries:
            changes = changes.dropDuplicates(["repo", "path", "lsn"])
        records = (prov.aggregate(changes, "JOIN", batch_id, "compact")
                   if prov else [])
        res = self.store.merge(self.spark, changes,
                               strategy=self.merge_strategy, dirty=dirty)
        if res["dirty_buckets"] and prov:
            records.append(count_record("SEND", batch_id, "merge",
                                        len(res["dirty_buckets"])))
        return records

    # ---------------- full run / resume ----------------
    def run(self, bounds: list[int]) -> list[BatchStats]:
        """Apply batches up to each bound; already-applied bounds skip (resume)."""
        out = []
        for b in bounds:
            out.append(self.apply_until(b))
        return out

    def final_table(self) -> DataFrame:
        return self.store.read(self.spark)
