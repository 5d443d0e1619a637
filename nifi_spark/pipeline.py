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
        (bulk mode merges every bucket). It runs only when provenance,
        the checksum, eager_stats, DDL scanning or the quarantine needs
        it, so the bulk config (none of these) runs the merge's jobs alone
      → poison rows append to the quarantine once, if the pass counted any
      → the batch's DDL edits the loaded manifest, in lsn order, each
        change a schema that records the lsn it applies from
        (`schema_lsn`; NiFi sidesteps this — every processor is
        schema-less; ConvertJSONToSQL.java:101-113 is its drift-policy
        ancestor); it commits with the merge
      → normalize changes onto the final schema (narrow projection): each
        event's columns come from the schema in effect at its lsn,
        mapped by position (adds append, renames keep position), so the
        DDL splits the batch into schema segments without splitting the
        merge
      → ONE SnapshotTableStore.merge — a narrow winner agg over
        (key, lsn, op) of current∪changes does LWW per (repo,path), and
        a 1:1 winner join fetches the full rows (map-side partial
        combine ⇒ hot-repo skew tolerated; full-width rows never cross a
        wide shuffle) → dirty-bucket snapshot commit (atomic), the DDL
        in the same version. One merge equals a merge per schema segment
        because LWW is one `max` over `lww_order`, and max is associative
      → ONE provenance landing: the batch's RECEIVE, DROP, JOIN and SEND
        records as one parquet file (durable.Spool, no Spark job) — AFTER
        the table commits, like NiFi's session-commit provenance write
      → OffsetLedger.commit (checksum folded from the pass) — LAST

Crash matrix (tests/test_resume.py; a DDL batch's crash points in
tests/test_schema_evolution.py, tests/test_commit.py): crash before the
table commit ⇒ nothing happened, DDL included; crash between it and the
ledger ⇒ batch replays: `_last_lsn` LWW makes it idempotent, the
`last_schema_lsn` gate skips the applied DDL, and each event is still
projected from the schema at its lsn (`schema_lsn`); crash after ledger
⇒ batch never replays. Exactly-once final state in all three.

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
from nifi_spark.storage import SnapshotTableStore, bucket_expr, evolve_schema


@dataclass
class BatchStats:
    batch_id: int
    lsn_from: int
    lsn_to: int
    events: int = 0
    schema_events: int = 0
    quarantined: int = 0
    sub_batches: int = 0  # schema segments: schema_events + 1
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
    # across the slice pass, quarantine write and merge; size batches to
    # the cluster (micro-batch bound = the NiFi back-pressure analog) or
    # disable to re-scan the (column-pruned) parquet per pass
    bulk_mode: bool = False  # steady-state bulk CDC: every bucket is
    # merged as dirty, with no dirty-bucket probe or set (see
    # SnapshotTableStore.merge)
    ddl_in_stream: bool = True  # False: the feed carries no schema_change
    # events (steady-state bulk CDC where DDL arrives out-of-band — the
    # usual Debezium topology) — no DDL scan in the slice pass, so a bulk
    # batch (no pass at all) runs exactly one Spark job (the merge)
    quarantine_path: str | None = None  # poison-row routing: malformed
    # data events (null key, unknown op) append to this errors table
    # (with reason + batch id) instead of silently merging under a null
    # key or failing the batch — the PutSQL failure-relationship /
    # ProcessSession.penalize analog (standard/PutSQL.java:147-163,
    # ProcessSession.java:316). Written once per batch, before the
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
    def _normalize_changes(self, data: DataFrame, m: dict,
                           wm: int) -> DataFrame:
        """Project raw events onto manifest `m`'s current schema, cast to
        its types, + (op, lsn) — a pure narrow projection, NO shuffle.

        Position i takes the slice column named at position i in the
        schema in effect at the event's lsn (adds append and renames keep
        position, the rule `SnapshotTableStore._normalize` applies to
        files), or null when that schema has no position i or the slice
        no such column. The schema starts after the watermark `wm`
        (`schema_lsn`) cut the slice into segments, an event at a DDL's
        own lsn falling after the DDL; a segment's schema is the highest
        sid whose start is <= the segment's lower bound. A position whose
        source is the same in every segment is a plain column, so a batch
        without DDL gets the by-name projection and the same plan.

        LWW compaction (one winner per key by LSN) happens exactly once,
        inside ``SnapshotTableStore.merge``'s winner agg over
        current∪changes. An earlier version pre-compacted here with its
        own groupBy — a second full shuffle on the same key that the
        merge agg then repeated; dropping it roughly halves shuffle
        volume per batch. Same-batch delete→re-insert and trailing-delete
        tombstones resolve in that single max-by-LSN reduce.
        """
        starts = m.get("schema_lsn", {})

        def start(sid: str) -> float:
            return starts.get(sid, float("-inf"))

        cuts = sorted({start(s) for s in m["schemas"] if start(s) > wm})
        sids = [max(m["schemas"], key=lambda s: (start(s) <= lb, int(s)))
                for lb in [wm, *cuts]]

        def source(sid: str, i: int) -> str | None:
            cols = m["schemas"][sid]
            n = cols[i][0] if i < len(cols) else None
            return n if n in data.columns else None

        def val(n: str | None) -> Column:
            return F.col(n) if n else F.lit(None)

        out = []
        for i, (c, t) in enumerate(self.store.schema_columns(m)):
            names = [source(sid, i) for sid in sids]
            if len(set(names)) == 1:
                e = val(names[0])
            else:
                e = F.when(F.col("lsn") < cuts[0], val(names[0]).cast(t))
                for cut, n in zip(cuts[1:], names[1:]):
                    e = e.when(F.col("lsn") < cut, val(n).cast(t))
                e = e.otherwise(val(names[-1]).cast(t))
            out.append(e.cast(t).alias(c))
        return data.select(
            *out,
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
            m = self.store._load_manifest()
            nb = m["n_buckets"]
            parts = (self._slice_pass(sl, ddl, bad,
                                      None if self.bulk_mode else nb)
                     if run_pass else [])
            stats.events = (sum(r["row_count"] for r in parts) if run_pass
                            else -1)
            # the batch's schema changes (a tiny collected list; NiFi's
            # analog is per-record — here they cut the projection)
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

            # the DDL edits `m` (a replay's is a no-op) and commits with the
            # one merge, each event projected from its lsn's schema
            for r in sc:
                evolve_schema(m, r.sc_kind, r.sc_column, r.sc_new_name,
                              r.sc_dtype or "string", r.lsn)
            stats.sub_batches = len(sc) + 1
            # the merge's dirty buckets: all of them in bulk mode, else
            # the pass's set, else (no pass ran) the store's probe
            if self.bulk_mode:
                dirty = range(nb)
            elif run_pass:
                dirty = {b for r in parts for b in r["buckets"]}
            else:
                dirty = None
            records += self._merge(data, m, wm, batch_id, prov, dirty)

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

    def _merge(self, data: DataFrame, m: dict, wm: int, batch_id: int,
               prov: ProvenanceWriter | None,
               dirty: Iterable[int] | None) -> list:
        """Merge the batch's data rows (lsn > `wm`) into the `dirty`
        buckets (None: the store's probe finds them) under manifest `m`,
        with `m`'s edits; returns its JOIN and SEND records."""
        changes = self._normalize_changes(data, m, wm)
        if self.dedup_deliveries:
            changes = changes.dropDuplicates(["repo", "path", "lsn"])
        records = (prov.aggregate(changes, "JOIN", batch_id, "compact")
                   if prov else [])
        res = self.store.merge(self.spark, changes, strategy=self.merge_strategy,
                               dirty=dirty, base=m)
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
