"""SnapshotTableStore — a portable, Iceberg-style versioned lake table.

The sandbox has no Iceberg catalog, so the engine targets a clean storage
seam with the same semantics an Iceberg `MERGE INTO` would give:

* **Snapshot isolation + atomic commit**: a write lands in a data dir of
  its own attempt; the commit point is the exclusive create of the next
  `manifests/v{N}.json` (put-if-absent, as Delta Lake commits a log
  entry), and the newest manifest is the current version. Of two writers
  of one version the second raises `CommitConflict` (NiFi analog: the
  FlowFile-repo WAL update, StandardProcessSession.java:361-370).
* **Hash-bucketed layout**: rows live in `bucket = pmod(xxhash64(repo,path),
  n_buckets)` partitions. A merge only reads and rewrites *dirty* buckets —
  cost scales with the change set, not the table. At 100 TB you'd raise
  n_buckets so each bucket is a few GB; with a real Iceberg catalog the same
  pruning comes from partition transforms (`bucket(N, repo)`).
* **Schema evolution without rewrites**: manifests carry numbered schemas;
  files written under an old schema are mapped positionally (append-only
  adds + in-place renames ⇒ position is a stable field id, the same trick
  as Iceberg field-ids). add/rename rewrite no data file.
* **LWW merge with `_last_lsn`**: every stored row remembers the LSN that
  produced it, so replaying a batch after a crash between table-commit and
  ledger-write is idempotent (exactly-once end state; upgrades NiFi's
  at-least-once commit-then-state edge, QueryDatabaseTable.java:313-321).

The merge unions current rows of dirty buckets with the change set, finds
each key's winning LSN with a narrow hash aggregation over (key, lsn,
_src, op) only, and joins the winners back to fetch the full rows —
full-width rows never cross a wide shuffle. Partial (map-side)
aggregation keeps the winner selection skew-tolerant: a hot repo's rows
combine before the shuffle.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .durable import CommitConflict, atomic_write

_BASE = [("repo", "string"), ("path", "string"), ("commit", "string"),
         ("lang", "string"), ("content", "string")]
KEY = ["repo", "path"]


# packed LWW order keys must fit a long: lsn*4 + 3 < 2^63
LSN_BOUND = 1 << 61


def _ddl(cols) -> str:
    return ", ".join(f"`{n}` {t}" for n, t in cols)


def _file_columns(cur, *extra: str) -> list[Column]:
    """A data file's columns: the manifest schema `cur` cast to its
    types, then `_last_lsn` as a long, `extra` (delta files' `op`) and
    the `bucket` partition column. Every writer selects these, so a
    file's schema is its schema_id's manifest columns exactly and
    read() can hand it to the scan instead of inferring it."""
    return ([F.col(n).cast(t).alias(n) for n, t in cur]
            + [F.col("_last_lsn").cast("long").alias("_last_lsn")]
            + [F.col(e).cast("string").alias(e) for e in extra]
            + [F.col("bucket")])


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_buckets)).cast("int")


def lww_order(lsn: str, src: str, op: str) -> Column:
    """The last-writer-wins order as one long: `lsn*4 + _src*2 +
    is_delete`. Ordering by it is ordering by (lsn, _src): `_src` (0 =
    stored row, 1 = change) breaks a replay tie toward the change copy,
    and the low bit carries the op without changing the order of any
    (key, lsn, _src)-unique rows. A fixed-width long lets `max` run as
    a HashAggregate, where a struct key forces Sort → SortAggregate.

    An LSN outside [-2^61, 2^61) raises instead of wrapping (ANSI mode
    or not); a null LSN or op gives a null key, which never wins."""
    lsn_c = F.col(lsn).cast("long")
    guarded = (F.when((lsn_c < -LSN_BOUND) | (lsn_c >= LSN_BOUND),
                      F.raise_error(F.concat(
                          F.lit(f"LSN outside [-2^61, 2^61) in column {lsn}: "),
                          lsn_c.cast("string"))))
               .otherwise(lsn_c))
    return (guarded * 4 + F.col(src).cast("long") * 2
            + (F.col(op) == "delete").cast("long"))


def lww_latest(rows: DataFrame, cols: list[str], lsn: str) -> DataFrame:
    """Each key's last writer over `rows` (KEY, `cols`, `lsn`, `_src`,
    `op`): KEY plus `w`, the struct of `cols` of the row that is largest
    in `lww_order`. One `max_by` (map-side combine, so skew-safe); an
    LSN outside [-2^61, 2^61) raises."""
    row = F.struct(*[F.col(c) for c in cols])
    return rows.groupBy(*KEY).agg(
        F.max_by(row, lww_order(lsn, "_src", "op")).alias("w"))


def lww_winners(rows: DataFrame) -> DataFrame:
    """Each key's winning (lsn, _src) over `rows` (KEY, lsn, _src, op;
    other columns are pruned), keys whose winner is a delete dropped.
    One `max` over the packed `lww_order` long; unpacked with arithmetic
    shifts only — `/` would go through a double and `%` keeps the
    dividend's sign, which breaks negative LSNs."""
    w = lww_order("lsn", "_src", "op")
    return (rows.groupBy(*KEY).agg(F.max(w).alias("_w"))
            .filter(F.col("_w").bitwiseAND(1) == 0)
            .select(*KEY, F.shiftright("_w", 2).alias("lsn"),
                    F.shiftright("_w", 1).bitwiseAND(1).alias("_src")))


def evolve_schema(m: dict, kind: str, column: str, new_name: str | None = None,
                  dtype: str = "string", lsn: int | None = None) -> bool:
    """Apply one schema change, add_column | rename_column, to manifest
    `m` in place; False for a replay that changes nothing.

    Given `lsn` (pipeline-driven DDL), a replay of an applied schema
    event is skipped: name checks alone are NOT idempotent (add X →
    rename X→Xr, replayed, would re-add X and rename it into a second
    Xr). A rename onto a name the schema already has raises.

    `schema_lsn[sid]` records the lsn the new schema applies from:
    `lsn`, or out of band the table's `last_schema_lsn` then. Schema 0
    and sids missing from the map apply from the start. CdcPipeline
    projects each event from the schema in effect at its lsn, so a
    replay gives what the first run gave although its DDL already ran.
    """
    if lsn is not None and lsn <= m.get("last_schema_lsn", -1):
        return False  # crash-replay of an already-applied schema event
    cols = [list(c) for c in m["schemas"][str(m["current_schema_id"])]]
    names = [c[0] for c in cols]
    if kind == "add_column":
        if column in names:
            return False  # idempotent replay
        cols.append([column, dtype])
    elif kind == "rename_column":
        if column not in names:
            if new_name in names:
                return False  # replay after rename already applied
            raise KeyError(f"rename_column: no column {column!r}")
        if new_name in names:
            raise KeyError(f"rename_column: {new_name!r} already exists")
        cols[names.index(column)][0] = new_name
    else:
        raise ValueError(f"unknown schema change kind {kind!r}")
    sid = max(int(k) for k in m["schemas"]) + 1
    m["schemas"][str(sid)] = cols
    m["current_schema_id"] = sid
    # past the gate, `lsn` is newer than every applied schema event
    m.setdefault("schema_lsn", {})[str(sid)] = m["last_schema_lsn"] = (
        m.get("last_schema_lsn", -1) if lsn is None else lsn)
    return True


def _place_base(targets: list[int]):
    """A `_publish` placement: each target bucket's written file becomes
    its base file (deltas dropped); a target with no rows left goes."""
    def place(m: dict, written: dict[int, str]) -> None:
        for b in targets:
            m["buckets"].pop(str(b), None)
            if b in written:
                m["buckets"][str(b)] = {"path": written[b],
                                        "schema_id": m["current_schema_id"]}
    return place


class SnapshotTableStore:
    """Versioned parquet table with manifest-tracked buckets and schemas."""

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets
        # read()'s plans for one committed version: ((version,
        # committed_at), {(session, buckets, with_lsn): DataFrame}),
        # replaced as one tuple so a concurrent reader of another
        # version only ever fills its own dict
        self._plans: tuple = (None, {})

    # ---------------- manifests / the commit ----------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "manifests", f"v{version:06d}.json")

    def current_version(self) -> int:
        """The newest manifest's version; -1 for no table."""
        return max(self.versions(), default=-1)

    def _load_manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"table at {self.root} not initialized")
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _publish(self, m: dict, df: DataFrame | None = None, parts: int = 0,
                 place=None) -> int:
        """Commit `m` as the next version, the only code that makes one.
        Rows `df` (`_file_columns` + `bucket`) are first written, one
        file per bucket over `parts` tasks, to this attempt's own data
        dir, and `place(m, {bucket: rel_path})` puts them in `m`. The
        exclusive manifest create is the commit: a writer whose `m` is
        stale raises CommitConflict, its dir left to expire_snapshots."""
        v = m["version"] = m["version"] + 1
        if df is not None:
            rel = os.path.join("versions", f"v{v:06d}-{uuid.uuid4().hex[:12]}")
            out = os.path.join(self.root, rel)
            df.repartition(parts, "bucket").write.partitionBy("bucket").parquet(out)
            place(m, {int(d.split("=")[1]): os.path.join(rel, d)
                      for d in os.listdir(out) if d.startswith("bucket=")})
        m["committed_at"] = time.time()
        atomic_write(self._manifest_path(v), json.dumps(m), exclusive=True)
        return v

    def init(self, extra_schema: list[tuple[str, str]] | None = None) -> None:
        """Create the table at v0; raises CommitConflict if it exists."""
        if self.versions():
            raise CommitConflict(f"table at {self.root} already exists")
        os.makedirs(os.path.join(self.root, "manifests"), exist_ok=True)
        self._publish({
            "version": -1, "n_buckets": self.n_buckets,
            "schemas": {"0": [list(c) for c in
                              _BASE + list(extra_schema or [])]},
            "current_schema_id": 0,
            "buckets": {},  # bucket -> {path, schema_id}; absent = empty
            "last_schema_lsn": -1,  # idempotent DDL replay gate
        })

    # ---------------- schema ----------------
    def schema_columns(self, manifest: dict | None = None) -> list[tuple[str, str]]:
        m = manifest or self._load_manifest()
        return [tuple(c) for c in m["schemas"][str(m["current_schema_id"])]]

    def evolve(self, kind: str, column: str, new_name: str | None = None,
               dtype: str = "string", lsn: int | None = None) -> None:
        """Out-of-band schema change: `evolve_schema` on the current
        manifest, committed as a metadata-only version unless it changed
        nothing. CdcPipeline commits a batch's DDL with its merge."""
        m = self._load_manifest()
        if evolve_schema(m, kind, column, new_name, dtype, lsn):
            self._publish(m)

    # ---------------- read ----------------
    def _normalize(self, df: DataFrame, file_schema: list, cur: list,
                   extra: tuple[str, ...] = ("_last_lsn",)) -> DataFrame:
        """Map a file written under an older schema onto the current one.

        Positions are stable field ids (adds append, renames keep position),
        so physical column i ↦ current column i; newer columns backfill null.
        """
        sel = []
        for i, (name, dtype) in enumerate(cur):
            if i < len(file_schema):
                sel.append(F.col(file_schema[i][0]).alias(name))
            else:
                sel.append(F.lit(None).cast(dtype).alias(name))
        sel.extend(F.col(e) for e in extra)
        return df.select(*sel)

    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             with_lsn: bool = False, version: int | None = None) -> DataFrame:
        """Read the table; `version=N` time-travels to snapshot N (every
        manifest carries the FULL bucket map, so any retained version is
        readable directly — the Iceberg snapshot-read analog; NiFi's
        closest ancestor is provenance-journal archival,
        PersistentProvenanceRepository.java:156-175). Raises
        FileNotFoundError for versions dropped by expire_snapshots.

        The plan is built from the manifest alone: each schema group's
        scan gets its file schema (`schemas[sid]` + `_last_lsn long`,
        + `op string` for delta files — the writers cast to exactly
        that), so no Spark job infers a parquet footer. The built
        DataFrame is memoized per (session, version, buckets,
        with_lsn): the newest manifest is found and read on every call,
        so a commit by any store instance is seen at once, and the memo
        drops every plan of another version when the version moves.

        Buckets carrying merge-on-read deltas (strategy='delta' merges)
        are folded here: base ∪ delta rows reduce with LWW in the
        merge's `lww_order` (lsn, then base<delta) and delete tombstones
        drop — one extra aggregation, only over the delta-carrying
        buckets (the classic MOR read cost; `compact()` restores the
        zero-agg fast path). Tables with no deltas take the COW fast
        path unchanged."""
        m = self._load_manifest(version)
        at = (m["version"], m["committed_at"])
        plans_at, plans = self._plans
        if plans_at != at:
            plans = {}
            self._plans = (at, plans)
        key = (spark, None if buckets is None else tuple(buckets), with_lsn)
        df = plans.get(key)
        if df is None:
            df = plans[key] = self._plan(spark, m, buckets, with_lsn)
        return df

    def _scan(self, spark: SparkSession, m: dict, sid: str,
              paths: list[str], *extra: tuple[str, str]) -> DataFrame:
        """The files of schema `sid`, read under the manifest's schema."""
        cols = [*m["schemas"][sid], ("_last_lsn", "long"), *extra]
        return spark.read.schema(_ddl(cols)).parquet(*paths)

    def _plan(self, spark: SparkSession, m: dict, buckets: list[int] | None,
              with_lsn: bool) -> DataFrame:
        cur = self.schema_columns(m)
        cols = [n for n, _ in cur] + (["_last_lsn"] if with_lsn else [])
        entries = m["buckets"]
        if buckets is not None:
            entries = {str(b): entries[str(b)] for b in buckets if str(b) in entries}
        # group bucket paths by schema_id → one multi-path scan per group
        delta_by_sid: dict[str, list[str]] = {}
        delta_buckets: set[str] = set()
        for b, e in entries.items():
            if e.get("deltas"):
                delta_buckets.add(b)
                for d in e["deltas"]:
                    delta_by_sid.setdefault(str(d["schema_id"]), []).append(
                        os.path.join(self.root, d["path"]))
        # base files of delta-carrying buckets enter the fold; clean
        # buckets bypass the agg entirely
        base_clean: dict[str, list[str]] = {}
        base_delta: dict[str, list[str]] = {}
        for b, e in entries.items():
            if e.get("path"):
                tgt = base_delta if b in delta_buckets else base_clean
                tgt.setdefault(str(e["schema_id"]), []).append(
                    os.path.join(self.root, e["path"]))
        parts = []
        for sid, paths in base_clean.items():
            df = self._scan(spark, m, sid, paths)
            parts.append(self._normalize(df, m["schemas"][sid], cur))
        if delta_by_sid:
            names = [n for n, _ in cur]
            fold_in = None
            for sid, paths in base_delta.items():
                p = (self._normalize(self._scan(spark, m, sid, paths),
                                     m["schemas"][sid], cur)
                     .withColumn("op", F.lit("upsert"))
                     .withColumn("_src", F.lit(0)))
                fold_in = p if fold_in is None else fold_in.unionByName(p)
            for sid, paths in delta_by_sid.items():
                p = (self._normalize(self._scan(spark, m, sid, paths,
                                                ("op", "string")),
                                     m["schemas"][sid], cur,
                                     extra=("_last_lsn", "op"))
                     .withColumn("_src", F.lit(1)))
                fold_in = p if fold_in is None else fold_in.unionByName(p)
            # LWW fold: one max_by (map-side combine ⇒ skew-safe) in
            # the merge's lww_order; ties (crash-replayed delta ==
            # compacted base, identical payload by contract) resolve
            # to the delta copy via _src.
            folded = (lww_latest(fold_in, [*names, "_last_lsn", "op"],
                                 "_last_lsn")
                      .filter(F.col("w.op") != "delete")
                      .select(*[F.col(f"w.{c}").alias(c)
                                for c in [*names, "_last_lsn"]]))
            parts.append(folded)
        if not parts:
            empty = spark.createDataFrame([], schema=_ddl(
                [*cur, ("_last_lsn", "long")]))
            return empty.select(*cols)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*cols)

    # ---------------- maintenance ----------------
    def versions(self) -> list[int]:
        """Retained (readable) snapshot versions, ascending."""
        mdir = os.path.join(self.root, "manifests")
        names = os.listdir(mdir) if os.path.isdir(mdir) else []
        return sorted(int(f[1:-5]) for f in names
                      if f.startswith("v") and f.endswith(".json"))

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop old snapshots and GC unreferenced data (the Iceberg
        expire_snapshots + remove_orphan_files analog; reference analog:
        provenance journal rollover/archival,
        PersistentProvenanceRepository.java:156-175).

        Keeps the newest `keep_last` manifests (always including the
        current one). A version DIRECTORY is deleted only when no
        RETAINED manifest references any bucket inside it — buckets
        untouched for many merges legitimately live in old version dirs,
        so liveness is computed from the retained bucket maps, not from
        version age; that collects losing and crashed attempts too. A
        dir newer than the current version (its `vNNNNNN` prefix) may be
        an attempt in flight and stays.
        """
        import shutil
        cur = self.current_version()
        vs = self.versions()
        keep = set(vs[-keep_last:]) | {cur}
        live_dirs: set[str] = set()
        for v in keep:
            m = self._load_manifest(v)
            for e in m["buckets"].values():
                # a data path is versions/vNNNNNN-token/bucket=k
                paths = [e.get("path")] + [d["path"] for d in e.get("deltas", [])]
                live_dirs.update(p.split(os.sep)[1] for p in paths if p)
        removed_manifests, removed_dirs = [], []
        for v in vs:
            if v not in keep:
                os.remove(self._manifest_path(v))
                removed_manifests.append(v)
        vdir = os.path.join(self.root, "versions")
        if os.path.isdir(vdir):
            for d in os.listdir(vdir):
                if d not in live_dirs and int(d[1:7]) <= cur:
                    shutil.rmtree(os.path.join(vdir, d))
                    removed_dirs.append(d)
        return {"kept_versions": sorted(keep),
                "removed_manifests": removed_manifests,
                "removed_dirs": sorted(removed_dirs)}

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Rescale the bucket count — the Iceberg rewrite-data-files-
        with-new-partition-spec analog, and the maintenance operation a
        growing table needs at scale (a 100 TB table that started at 64
        buckets wants thousands so each bucket stays a few GB and merge
        parallelism matches the cluster).

        One full rewrite committed as a new snapshot: read the current
        version, re-hash every row into the new bucket space, write one
        file per new bucket, commit a manifest carrying the new
        n_buckets. Old snapshots remain time-travel-readable (each
        manifest carries its own bucket map); subsequent merges hash
        changes with the NEW bucket count automatically since they read
        n_buckets from the current manifest. Crash-safe like merge: the
        manifest is created only after the full write."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        m = self._load_manifest()
        full = (self._plan(spark, m, None, True)
                .withColumn("bucket", bucket_expr(new_n_buckets))
                .select(*_file_columns(self.schema_columns(m))))
        m["buckets"], m["n_buckets"] = {}, new_n_buckets
        v = self._publish(m, full, new_n_buckets,
                          _place_base(range(new_n_buckets)))
        return {"n_buckets": new_n_buckets,
                "buckets_written": len(m["buckets"]), "version": v}

    # ---------------- merge (the PutSQL / MERGE INTO analog) ----------------
    def merge(self, spark: SparkSession, changes: DataFrame,
              strategy: str = "argmax",
              dirty: Iterable[int] | None = None,
              base: dict | None = None) -> dict:
        """Apply a change set (store-schema columns + `op` ∈
        {'upsert','delete'} + `lsn`; multiple rows per key allowed — LWW
        by LSN happens here, exactly once).

        strategy:
        * 'argmax' (default) — shuffle-narrow plan: `lww_winners`
          aggregates only (repo, path, lsn, _src, op) to find each
          key's winning LSN — one HashAggregate `max` over the packed
          `lww_order` long `lsn*4 + _src*2 + is_delete`, combined
          map-side before its shuffle — then joins the winner list
          back against current∪changes to fetch the winning full rows.
          LSNs must lie in [-2^61, 2^61); one outside raises. The
          winner join is planned statically: a broadcast-hash join
          while the winner estimate is under the session's
          `autoBroadcastJoinThreshold` (64 MB in `get_spark`), AQE's
          shuffle join above it — same semantics either way, no
          driver count job.
        * 'delta' — merge-on-read: the batch (within-batch LWW
          compacted, delete tombstones KEPT) appends as per-bucket
          delta files; no base bucket is read or rewritten, so
          bytes-written ∝ change set, not table size — the scale-safe
          shape for steady-state small batches over wide key
          distributions, where copy-on-write's per-batch bucket rewrite
          amplifies writes by table_size/batch_size. read() folds
          base ∪ deltas in the same `lww_order`;
          `compact()` folds deltas back into base files.

        Replay ties: a replayed batch (crash between table commit and
        ledger write) re-delivers changes whose lsn equals the stored
        row's `_last_lsn`. Winner selection orders by (lsn, _src), where
        _src prefers the change copy (payloads are identical by
        contract), so the winner join matches exactly ONE wide row per
        key and the full-width rows take exactly one exchange (the
        per-bucket repartition before write). Changes must be
        (key, lsn)-unique — automatic for any real changelog, where the
        LSN is a log position; for at-least-once feeds that can
        re-deliver inside one batch, run operators.detect_duplicate
        upstream (CdcPipeline's delivery dedup does).

        dirty: the buckets the change set hashes to, when the caller
        already knows them — CdcPipeline collects them in its slice
        pass, and bulk mode passes every bucket (correct always: clean
        buckets are rewritten unchanged; profitable when micro-batches
        are large relative to n_buckets, where the probe would return
        "all" anyway). It must cover every bucket a change hashes to,
        or the changes outside it may be lost. Only `None` runs the
        probe, a `distinct` over the changes' buckets (two Spark jobs);
        an empty set commits only `base`'s edits.

        Every written file carries the manifest's columns in order and
        type (`_file_columns`), whatever types the change set has.

        base: the current manifest as the caller loaded and edited it
        (CdcPipeline applies the batch's DDL to it). The dirty buckets
        are read and written under it, and its edits commit in the
        merge's version, also when no bucket is dirty.

        Returns {dirty_buckets, version}.
        """
        if strategy not in ("argmax", "delta"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        m = self._load_manifest() if base is None else base
        nb = m["n_buckets"]

        # No cache: the dirty-bucket probe is a column-pruned scan of just
        # (repo, path) — cheaper than materializing full-width change rows,
        # and the only viable shape when the change slice exceeds memory.
        chg = (changes.withColumn("bucket", bucket_expr(nb))
               .withColumn("_src", F.lit(1)))
        if dirty is None:
            dirty = [r["bucket"] for r in
                     chg.select("bucket").distinct().collect()]
        dirty = sorted(dirty)
        if not dirty:
            if base is not None and base != self._load_manifest(m["version"]):
                self._publish(m)  # the caller's edits commit alone
            return {"dirty_buckets": [], "version": m["version"]}

        if strategy == "delta":
            return self._merge_delta(chg, dirty, m)

        current = (self._plan(spark, m, dirty, True)
                   .withColumn("op", F.lit("upsert"))
                   .withColumnRenamed("_last_lsn", "lsn")
                   .withColumn("bucket", bucket_expr(nb))
                   .withColumn("_src", F.lit(0)))
        unioned = current.unionByName(chg.select(*current.columns))

        # (lsn, _src) is unique per key: the store holds one row per
        # key (_src=0) and changes are (key,lsn)-unique (_src=1), so
        # a replay tie (change lsn == stored lsn) resolves to the
        # change copy and the winner join is 1:1 — no wide dedup.
        winners = lww_winners(unioned)
        winner = (unioned.join(winners, [*KEY, "lsn", "_src"])
                  .withColumnRenamed("lsn", "_last_lsn")
                  .drop("op", "_src"))

        # one output task per dirty bucket → exactly one file per bucket dir
        # (small-file control; MergeContent bin-packing analog).
        v = self._publish(m, winner.select(*_file_columns(self.schema_columns(m))),
                          len(dirty), _place_base(dirty))
        return {"dirty_buckets": dirty, "version": v}

    def _merge_delta(self, chg: DataFrame, dirty: list[int], m: dict) -> dict:
        """Merge-on-read append: within-batch LWW compaction (one
        batch-sized hash-agg — multiple ops per key in the batch reduce
        to the latest; delete tombstones survive as rows, read-time LWW
        needs them), then one delta file per dirty bucket. The base
        table is neither read nor rewritten."""
        cur = self.schema_columns(m)
        names = [n for n, _ in cur]
        compacted = (lww_latest(chg, [*names, "op", "bucket", "lsn"], "lsn")
                     .select(*[F.col(f"w.{c}").alias(c)
                               for c in [*names, "op", "bucket"]],
                             F.col("w.lsn").alias("_last_lsn")))

        def place(m: dict, written: dict[int, str]) -> None:
            sid = m["current_schema_id"]
            for b, p in sorted(written.items()):
                e = m["buckets"].setdefault(str(b), {"path": None, "schema_id": sid})
                e.setdefault("deltas", []).append({"path": p, "schema_id": sid})
        v = self._publish(m, compacted.select(*_file_columns(cur, "op")),
                          len(dirty), place)
        return {"dirty_buckets": dirty, "version": v}

    def compact(self, spark: SparkSession,
                buckets: list[int] | None = None) -> dict:
        """Fold merge-on-read deltas back into base files (the Iceberg
        rewrite-data-files analog for MOR tables). Only delta-carrying
        buckets are touched; results are invisible to readers — read()
        returns the identical table before and after (the rebucket
        invisibility contract). Commits a new snapshot; old versions
        stay time-travel-readable."""
        m = self._load_manifest()
        nb = m["n_buckets"]
        want = None if buckets is None else {int(b) for b in buckets}
        target = sorted(int(b) for b, e in m["buckets"].items()
                        if e.get("deltas")
                        and (want is None or int(b) in want))
        if not target:
            return {"compacted_buckets": [], "version": m["version"]}
        folded = (self._plan(spark, m, target, True)
                  .withColumn("bucket", bucket_expr(nb))
                  .select(*_file_columns(self.schema_columns(m))))
        v = self._publish(m, folded, len(target), _place_base(target))
        return {"compacted_buckets": target, "version": v}

