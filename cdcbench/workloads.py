"""The CDC workloads; each loads a different layer.

* ``bulk_backfill`` — closed loop: a seeded binlog applied in batches of
  800k events with the bulk config, after an untimed initial snapshot.
  ``storage.merge`` does almost all the work.
* ``trickle_rw`` — open loop at a fixed event rate over a preloaded table
  with the default config (provenance and quarantine on); full-snapshot
  reads after every apply. The feed carries the drift/replay edge cases:
  poison rows and duplicate deliveries in every batch, two DDLs in the
  last preload batch, whose resumes are measured. Per-batch fixed cost
  (jobs, provenance, checksum) dominates.

In both, one apply crashes after its table commit and a fresh pipeline
over the same table and ledger resumes (in ``trickle_rw`` three times),
and every apply is followed by snapshot reads, so every end-to-end metric
is measured on every workload.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.provenance import ProvenanceWriter
from nifi_spark.storage import SnapshotTableStore

import checks
import feeds

# bench_cdc_apply's bulk config: no checksum, count, cache, dirty-bucket
# probe, DDL scan or delivery dedup — a bulk batch is one merge job.
BULK = dict(checksum=False, eager_stats=False, cache_slice=False,
            bulk_mode=True, ddl_in_stream=False, dedup_deliveries=False)
STREAM = "changelog"


class Crash(Exception):
    """Injected after the table commit, in place of the ledger commit."""


@dataclass
class Samples:
    batch_s: list[float] = field(default_factory=list)
    lag_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    resume_s: list[float] = field(default_factory=list)
    events: int = 0  # applied by batches that did not crash
    apply_s: float = 0.0  # their apply call → ledger commit time
    apply_wall_s: float = 0.0  # every apply, crashes and resumes included
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    sub_batches: int = 0
    quarantined: int = 0
    read_files: int = 0
    applied: list[tuple[int, int]] = field(default_factory=list)  # (lo, hi]
    # of every apply_until call, crashed ones included


@dataclass(frozen=True)
class Target:
    """Where one table lives and how its pipeline is configured."""
    tag: str
    log_path: str
    bulk: bool
    n_buckets: int = 16


class Workload:
    name = ""
    READS = 3  # full-snapshot reads after an apply (trickle_rw's open
    # loop reads once, then again while it waits for its next batch)
    RESUMES = 1  # timed resumes of each crashed batch

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 nproc: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds, self.nproc = seed, seconds, nproc
        self.s = Samples()
        self.timers = {"fixtures.gen.s": 0.0, "setup.preload.s": 0.0,
                       "setup.warmup.s": 0.0}
        self.crash_at: set[int] = set()
        self.final: CdcPipeline | None = None
        self.info: dict = {}

    # ---------------- building blocks ----------------
    def _dir(self, target: Target) -> str:
        return os.path.join(self.work, target.tag)

    def open(self, target: Target, init: bool = False) -> CdcPipeline:
        """A pipeline over the target's on-disk table and ledger, with the
        crash hook and (when tracing) spans around each layer call."""
        d = self._dir(target)
        store = SnapshotTableStore(os.path.join(d, "table"), target.n_buckets)
        if init:
            store.init()
        ledger = OffsetLedger(os.path.join(d, "ledger"))
        if target.bulk:
            prov = None
            pipe = CdcPipeline(self.spark, target.log_path, store, ledger, **BULK)
        else:
            prov = ProvenanceWriter(os.path.join(d, "provenance"))
            pipe = CdcPipeline(self.spark, target.log_path, store, ledger,
                               provenance=prov,
                               quarantine_path=os.path.join(d, "quarantine"))
        commit = ledger.commit

        def crashing_commit(stream, last_applied_lsn, *args, **kwargs):
            if last_applied_lsn in self.crash_at:
                self.crash_at.discard(last_applied_lsn)
                raise Crash(last_applied_lsn)
            return commit(stream, last_applied_lsn, *args, **kwargs)

        ledger.commit = crashing_commit
        tr = self.tr
        tr.wrap(store, "merge", "storage.merge")
        tr.wrap(store, "evolve", "storage.evolve")
        tr.wrap(ledger, "commit", "ledger.commit")
        if prov:
            tr.wrap(prov, "emit", "provenance.emit")
            tr.wrap(prov, "emit_counts", "provenance.emit_counts")
        tr.wrap(pipe, "apply_until", "pipeline.apply_until")
        return pipe

    def _fail(self, what: str) -> None:
        self.s.failed += 1
        self.s.errors.append(f"{what}: {traceback.format_exc(limit=3)}"[-800:])
        traceback.print_exc(file=sys.stderr)

    def apply(self, pipe: CdcPipeline, target: Target, lo: int, hi: int,
              due: float) -> CdcPipeline:
        """Apply (lo, hi]; on an injected crash, resume. Returns the
        pipeline to go on with."""
        s = self.s
        s.attempted += 1
        s.applied.append((lo, hi))
        t0 = time.time()
        try:
            st = pipe.apply_until(hi)
        except Crash:
            s.apply_wall_s += time.time() - t0
            return self.resume(target, lo, hi)
        except Exception:
            s.apply_wall_s += time.time() - t0
            self._fail(f"apply ({lo}, {hi}]")
            return pipe
        s.apply_wall_s += time.time() - t0
        committed = pipe.ledger.get(STREAM)["committed_at"]
        s.batch_s.append(committed - t0)
        s.lag_s.append(committed - due)
        s.events += hi - lo  # the feeds carry one event per lsn
        s.apply_s += committed - t0
        self._tally(st)
        return pipe

    def resume(self, target: Target, lo: int, hi: int) -> CdcPipeline | None:
        """A fresh pipeline over the target's table and ledger applies
        (lo, hi] again, after a crash between table and ledger commit.
        This runs RESUMES times: before each but the first, the ledger is
        put back where the crash left it, as if the crash had recurred."""
        ledger = OffsetLedger(os.path.join(self._dir(target), "ledger"))
        crashed = ledger.get(STREAM)
        pipe = None
        for i in range(self.RESUMES):
            if i:
                ledger.commit(STREAM, crashed["last_applied_lsn"], crashed["batch_id"],
                              crashed["checksum"], crashed["table_version"])
            pipe = self._resume_once(target, lo, hi)
        return pipe

    def _resume_once(self, target: Target, lo: int, hi: int) -> CdcPipeline | None:
        s = self.s
        s.attempted += 1
        s.applied.append((lo, hi))
        t0, pipe = time.time(), None
        try:
            pipe = self.open(target)
            st = pipe.apply_until(hi)
        except Exception:
            self._fail(f"resume ({lo}, {hi}]")
            return pipe
        finally:
            s.apply_wall_s += time.time() - t0
        s.resume_s.append(pipe.ledger.get(STREAM)["committed_at"] - t0)
        self._tally(st)
        return pipe

    def _tally(self, st) -> None:
        self.s.sub_batches += st.sub_batches
        self.s.quarantined += max(st.quarantined, 0)

    def read(self, store: SnapshotTableStore) -> None:
        """One full-snapshot read: count + sum(length(content))."""
        self.s.attempted += 1
        t0 = time.time()
        try:
            with self.tr.span("storage.read"):
                df = store.read(self.spark)
                df.agg(F.count(F.lit(1)), F.sum(F.length("content"))).collect()
        except Exception:
            self._fail("read")
            return
        self.s.read_s.append(time.time() - t0)
        if self.tr.enabled:
            self.s.read_files += len(df.inputFiles())

    def run_check(self) -> None:
        self.s.attempted += 1
        try:
            errs = self.check()
        except Exception:
            self._fail("check")
            return
        if errs:
            self.s.failed += 1
            self.s.errors.extend(errs)

    def change_bytes(self, lo: int, hi: int) -> int:
        """Logical bytes of the change events in (lo, hi]."""
        size = sum(F.coalesce(F.octet_length(c), F.lit(0))
                   for c in ("repo", "path", "commit", "lang", "content"))
        r = (self.spark.read.parquet(self.log)
             .filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
             .agg(F.sum(size)).collect()[0][0])
        return int(r or 0)

    # ---------------- per-workload ----------------
    def setup(self) -> None: ...
    def measure(self) -> None: ...
    def check(self) -> list[str]: ...


class BulkBackfill(Workload):
    name = "bulk_backfill"
    WARM = feeds.N_KEYS  # events in the untimed warm-up batch: the feed's
    # initial snapshot, so every measured merge and read sees a full table
    CRASH = 100_000  # events in the first measured batch, which crashes
    # before its ledger commit and is resumed
    BATCH = 800_000  # events per sampled batch: large enough that the
    # change set, not the per-job overhead, sets the merge cost
    BATCHES = 2  # sampled batches, at least

    def setup(self) -> None:
        self.log = os.path.join(self.work, "binlog")
        sampled = max(self.BATCHES, math.ceil(self.seconds / 4))
        t = time.time()
        (feeds.binlog(self.spark, self.WARM + self.CRASH + sampled * self.BATCH,
                      self.seed, snapshot=True).write.parquet(self.log))
        self.timers["fixtures.gen.s"] = time.time() - t
        first = self.WARM + self.CRASH - 1
        self.bounds = [first] + [first + self.BATCH * (i + 1) for i in range(sampled)]
        t = time.time()
        self.target = Target("main", self.log, bulk=True, n_buckets=self.nproc)
        self.final = self.open(self.target, init=True)
        self.final.apply_until(self.WARM - 1)
        for _ in range(self.READS):
            self.read(self.final.store)
        self.s = Samples()
        self.timers["setup.warmup.s"] = time.time() - t

    def measure(self) -> None:
        """Closed loop: every event is due when the measured phase starts.
        The crashed batch and its resume, then BATCH-event batches until at
        least BATCHES of them and the run length are done; READS reads
        after each."""
        start, lo, n = time.time(), self.WARM - 1, 0
        self.crash_at.add(self.bounds[0])
        for hi in self.bounds:
            if n > self.BATCHES and time.time() - start >= self.seconds:
                break
            self.final = self.apply(self.final, self.target, lo, hi, due=start)
            for _ in range(self.READS):
                self.read(self.final.store)
            lo, n = hi, n + 1
        self.wm = lo
        self.info.update(batch_events=self.BATCH, batches=n)

    def check(self) -> list[str]:
        return checks.check_binlog(self.spark, self.final.store,
                                   self.final.ledger, self.log, self.wm)


class TrickleRW(Workload):
    name = "trickle_rw"
    PRELOAD = 18_000  # events applied in set-up, in two default-config
    # applies; the ledger commit of the second (the last BATCH events)
    # crashes, and the measured phase starts with its resumes
    BATCH = 6_000  # events per apply; one poison row and ~1 % duplicate
    # deliveries in each, and in the crashed preload batch two DDLs as well
    RESUMES = 3  # a resume is the slowest apply of the run, and one sample
    # of it spread past a quarter of its median between runs
    RATE = 1000  # events/s arriving: a batch fills in 6 s and the seed
    # code applies one in ~3-4.5 s, so the consumer keeps up
    MIN_BATCHES = 3

    def setup(self) -> None:
        self.log = os.path.join(self.work, "binlog")
        self.edge_from = self.PRELOAD - self.BATCH
        total = self.PRELOAD + self.BATCH * (
            self.MIN_BATCHES + 2 + math.ceil(self.RATE * self.seconds / self.BATCH))
        t = time.time()
        (feeds.binlog(self.spark, total, self.seed, edge_from=self.edge_from,
                      every=self.BATCH).write.parquet(self.log))
        self.timers["fixtures.gen.s"] = time.time() - t
        t = time.time()
        self.target = Target("main", self.log, bulk=False)
        pipe = self.open(self.target, init=True)
        pipe.apply_until(self.edge_from - 1)
        self.crash_at.add(self.PRELOAD - 1)
        try:
            pipe.apply_until(self.PRELOAD - 1)
        except Crash:
            pass
        self.timers["setup.preload.s"] = time.time() - t
        t = time.time()
        for _ in range(self.READS):
            self.read(pipe.store)
        self.s = Samples()
        self.timers["setup.warmup.s"] = time.time() - t

    def measure(self) -> None:
        """The resumes of the crashed preload batch and READS reads; then
        the open loop, started so that its first batch is due at once, for
        the rest of the run length (at least MIN_BATCHES batches): while the
        next BATCH events are not all due, read the snapshot as long as one
        more read fits, as a consumer polling the table would; then apply
        them and read the snapshot once."""
        pipe = self.resume(self.target, self.edge_from - 1, self.PRELOAD - 1)
        for _ in range(self.READS):
            self.read(pipe.store)
        start, lo, n = time.time(), self.PRELOAD - 1, 0
        t0 = start - (self.BATCH - 1) / self.RATE  # when event lo + 1 was due
        fill = (self.BATCH - 1) / self.RATE  # from then until the batch is due
        while n < self.MIN_BATCHES or time.time() - start < self.seconds:
            while self.s.read_s and time.time() + self.s.read_s[-1] < t0 + fill:
                self.read(pipe.store)
            time.sleep(max(0.0, t0 + fill - time.time()))
            pipe = self.apply(pipe, self.target, lo, lo + self.BATCH, due=t0)
            self.read(pipe.store)
            lo, t0, n = lo + self.BATCH, t0 + self.BATCH / self.RATE, n + 1
        # events due but not applied when the open loop ends
        backlog = math.floor((time.time() - t0) * self.RATE)
        self.final, self.wm = pipe, lo
        self.info.update(rate_ev_s=self.RATE, batch_events=self.BATCH,
                         batches=n, backlog_at_end=max(0, backlog))

    def check(self) -> list[str]:
        return checks.check_replay(
            self.spark, self.final.store, self.final.ledger,
            self.final.quarantine_path, self.log, self.wm,
            feeds.poison_lsns(self.edge_from, self.BATCH, self.wm))


WORKLOADS = {w.name: w for w in (BulkBackfill, TrickleRW)}
