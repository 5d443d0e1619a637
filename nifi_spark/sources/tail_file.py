"""TailFile — literal rolling-file tail source (byte offset + CRC32
recovery + rollover glob rescan + partial-line carry).

NiFi ancestor: TailFile (standard/TailFile.java:446-527 state
recovery, :640-760 onTrigger rotation checks + chunk FlowFile naming,
:780-845 readLines complete-line scan, :870-915 getRolledOffFiles
ordering, :1040-1160 recoverRolledFiles checksum-gated remainder
consumption). Parity target: TestTailFile.java.

Semantics carried over exactly:

* State is (filename, position, timestamp, length, checksum) where
  `checksum` is the CRC32 of bytes [0, position) — position only ever
  lands on COMPLETE line boundaries (a partial trailing line is left
  in the file for the next poll; `readLines`' rePos contract).
* Recovery re-reads the first `position` bytes of the tailed file and
  compares CRC32: match → resume at position; mismatch or shorter
  file → the file was replaced, start from 0 (TailFile.java:490-526).
* Rollover: files matching `rolling_pattern` (with ``${filename}``
  substituted by the tailed file's base name) whose mtime >= the state
  timestamp, ordered (mtime, name). The FIRST one is checksum-probed:
  if its first `position` bytes match, only its remainder is consumed
  (the partially-read pre-rotation file); every other match is
  consumed fully. After each rolled file, timestamp = its mtime + 1 so
  it is never consumed again (TailFile.java:1053-1110).
* Rotation of the tail file itself: rollover occurred, or
  (ts <= mtime and length > cur_len), or (ts < mtime and
  length >= cur_len) → reset to position 0 (TailFile.java:673-689).
* Chunk naming: ``<base>.<start>-<end>.<ext>`` for tail chunks,
  the rolled file's own name for rollover ingests
  (TailFile.java:723-731).

Spark-first shape: like the listen bridge (sources/listen.py), the
tail loop is a SINGLE-NODE control-plane concern — one file on one
host. poll() lands each consumed chunk as an immutable, atomically
renamed parquet spool file; the data plane reads the spool as an
ordinary (or streaming) parquet table and fans out from there
(split_text / parse_syslog / the CDC path). One bridge per log host,
one Spark reader over the union of spools — the same scale story as
every listener in this repo. State commits AFTER the spool rename
(the reference commits the session before persisting state), so a
crash between the two replays at-least-once, never loses.
"""

from __future__ import annotations

import fnmatch
import json
import os
import re
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool, atomic_write

_SPOOL_SCHEMA = ("batch_id bigint, filename string, original_path string, "
                 "start_pos bigint, end_pos bigint, content string, "
                 "mime_type string")


def _chunk_name(tail_name: str, start: int, end: int) -> str:
    """<base>.<start>-<end>.<ext> (TailFile.java:723-731)."""
    base, dot, ext = tail_name.rpartition(".")
    if dot:
        return f"{base}.{start}-{end}.{ext}"
    return f"{tail_name}.{start}-{end}"


def _crc_prefix(path: str, n: int) -> int:
    crc = 0
    remaining = n
    with open(path, "rb") as f:
        while remaining > 0:
            block = f.read(min(65536, remaining))
            if not block:
                break
            crc = zlib.crc32(block, crc)
            remaining -= len(block)
    return crc & 0xFFFFFFFF


class TailFileSource:
    """Tail one rolling file into a parquet spool.

    `state_path` is the atomic-JSON recovery state (the StateManager
    analog); construct a NEW instance over the same state/spool after a
    crash and it resumes with the reference's checksum gate."""

    def __init__(self, tail_path: str, spool_dir: str, *,
                 rolling_pattern: str | None = None,
                 state_path: str | None = None,
                 charset: str = "utf-8"):
        self.tail_path = os.path.abspath(tail_path)
        self.spool_dir = spool_dir
        self.rolling_pattern = rolling_pattern
        self.charset = charset
        # underscore prefix keeps the state file invisible to Spark's
        # file index when the spool is read as a parquet table
        self.state_path = state_path or os.path.join(spool_dir,
                                                     "_tail_state.json")
        self._spool = Spool(spool_dir)
        st = self._load_state()
        self.position = int(st.get("position", 0))
        self.timestamp = int(st.get("timestamp", 0))   # mtime_ns watermark
        self.length = int(st.get("length", 0))
        self.checksum = st.get("checksum")             # None | int
        # recovery checksum gate (TailFile.java:490-526): only when the
        # stored state is for THIS path and carries a checksum
        if st and st.get("filename") == self.tail_path \
                and self.checksum is not None:
            self._expected_recovery_checksum = int(self.checksum)
        else:
            self._expected_recovery_checksum = None
            if st.get("filename") != self.tail_path:
                self.position, self.length, self.checksum = 0, 0, None

    # ------------------------------------------------------------ state

    def _load_state(self) -> dict:
        try:
            with open(self.state_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _persist(self) -> None:
        state = {"filename": self.tail_path, "position": self.position,
                 "timestamp": self.timestamp, "length": self.length,
                 "checksum": self.checksum}
        atomic_write(self.state_path, json.dumps(state))

    # ------------------------------------------------------------ spool

    def _land(self, filename: str, start: int, end: int,
              content: bytes) -> None:
        import pyarrow as pa
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid], pa.int64()),
            "filename": pa.array([filename], pa.string()),
            "original_path": pa.array([self.tail_path], pa.string()),
            "start_pos": pa.array([start], pa.int64()),
            "end_pos": pa.array([end], pa.int64()),
            "content": pa.array([content.decode(self.charset,
                                                errors="replace")],
                                pa.string()),
            "mime_type": pa.array(["text/plain"], pa.string()),
        })
        self._spool.land(table)

    # --------------------------------------------------------- rollover

    def _rolled_off_files(self) -> list[str]:
        """getRolledOffFiles (TailFile.java:870-915): glob matches with
        mtime >= the state timestamp, excluding the tail file itself,
        ordered (mtime, name)."""
        if not self.rolling_pattern:
            return []
        directory = os.path.dirname(self.tail_path) or "."
        tail_name = os.path.basename(self.tail_path)
        base = tail_name.rpartition(".")[0] or tail_name
        pattern = self.rolling_pattern.replace("${filename}", base)
        out = []
        for name in os.listdir(directory):
            if not fnmatch.fnmatch(name, pattern):
                continue
            p = os.path.join(directory, name)
            if p == self.tail_path or not os.path.isfile(p):
                continue
            mtime = os.stat(p).st_mtime_ns
            if mtime < self.timestamp:
                continue
            out.append((mtime, name, p))
        return [p for _, _, p in sorted(out)]

    def _recover_rolled(self) -> bool:
        """recoverRolledFiles (TailFile.java:1040-1160). Returns True
        when a rollover was detected."""
        rolled = self._rolled_off_files()
        if not rolled:
            return False
        expected = self._expected_recovery_checksum
        if expected is None and self.checksum is not None:
            expected = int(self.checksum)
        first = rolled[0]
        if expected is not None and self.position > 0 \
                and os.path.getsize(first) >= self.position:
            if _crc_prefix(first, self.position) == expected:
                # the file we were reading pre-rotation: remainder only
                with open(first, "rb") as f:
                    f.seek(self.position)
                    remainder = f.read()
                mtime = os.stat(first).st_mtime_ns
                if remainder:
                    self._land(os.path.basename(first), self.position,
                               self.position + len(remainder), remainder)
                self.position, self.checksum = 0, None
                self.length = os.path.getsize(first)
                self.timestamp = mtime + 1
                self._persist()
                rolled = rolled[1:]
        for path in rolled:
            with open(path, "rb") as f:
                data = f.read()
            mtime = os.stat(path).st_mtime_ns
            if data:
                self._land(os.path.basename(path), 0, len(data), data)
            self.position, self.checksum = 0, None
            self.length = len(data)
            self.timestamp = mtime + 1
            self._persist()
        return True

    # ------------------------------------------------------------- poll

    def poll(self) -> int:
        """One onTrigger (TailFile.java:593-760): recover rolled files,
        detect rotation, consume complete lines from the tail file.
        Returns bytes consumed this poll (rolled-file ingests included
        in the spool but not the return count, matching the reference's
        one-chunk-FlowFile-per-trigger accounting)."""
        # recovery gate on the current file (first poll after restart)
        if self._expected_recovery_checksum is not None:
            ok = (os.path.isfile(self.tail_path)
                  and os.path.getsize(self.tail_path) >= self.position
                  and _crc_prefix(self.tail_path, self.position)
                  == self._expected_recovery_checksum)
            if not ok and not self._rolled_off_files():
                # replaced file and nothing rolled: restart from 0
                self.position, self.checksum = 0, None
            self._expected_recovery_checksum = None

        rollover = self._recover_rolled()

        if not os.path.isfile(self.tail_path):
            self._persist()
            return 0
        st = os.stat(self.tail_path)
        mtime, cur_len = st.st_mtime_ns, st.st_size
        if rollover or (self.timestamp <= mtime
                        and self.length > cur_len) \
                or (self.timestamp < mtime and self.length >= cur_len):
            self.position, self.checksum = 0, None   # rotated: restart

        if cur_len == self.position:
            self._persist()
            return 0

        with open(self.tail_path, "rb") as f:
            f.seek(self.position)
            data = f.read()
        # complete-line scan (readLines, TailFile.java:780-845): emit up
        # to the last \n; a bare-\r line is complete only once the NEXT
        # byte arrives and is not \n (the reference's seenCR carry)
        cut = data.rfind(b"\n") + 1
        for m in re.finditer(rb"\r(?=[^\n])", data):
            cut = max(cut, m.start() + 1)
        if cut == 0:
            self._persist()
            return 0                                  # only a partial line
        chunk = data[:cut]
        start = self.position
        end = start + cut
        self._land(_chunk_name(os.path.basename(self.tail_path),
                               start, end), start, end, chunk)
        prev = int(self.checksum) if self.checksum is not None else 0
        self.checksum = zlib.crc32(chunk, prev) & 0xFFFFFFFF
        self.position = end
        self.timestamp = max(self.timestamp, mtime)
        self.length = cur_len
        self._persist()
        return cut

    # ------------------------------------------------------------- read

    def read(self, spark: SparkSession) -> DataFrame:
        """The landed chunk table (one row per consumed chunk/rolled
        file). `lines(...)` explodes to one row per text line."""
        return spark.read.schema(_SPOOL_SCHEMA).parquet(self.spool_dir)

    def read_stream(self, spark: SparkSession,
                    max_files_per_trigger: "int | None" = None
                    ) -> DataFrame:
        reader = spark.readStream.schema(_SPOOL_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        return reader.parquet(self.spool_dir)

    @staticmethod
    def lines(chunks: DataFrame) -> DataFrame:
        """Explode chunk content to one row per complete line (the
        SplitText composition every log pipeline runs next). Line order
        is reconstructible from (start_pos + offset); trailing
        newline-produced empties are dropped."""
        arr = F.split(F.regexp_replace("content", r"\r\n|\r", "\n"),
                      "\n")
        return (chunks
                .select("batch_id", "filename", "start_pos",
                        F.posexplode(arr).alias("line_idx", "line"))
                .filter(F.col("line") != ""))


class MultiTailFileSource:
    """TailFile 'Multiple files' mode (TailFile.java MODE_MULTIFILE;
    TestTailFile.testMultipleFiles*): a base directory plus a filename
    REGEX (matched against the '/'-separated path relative to the
    base, optionally recursive) — every matching file is tailed with
    its own independent (position, checksum) state and the shared
    rolling pattern; new matching files are discovered on each poll.
    `max_age_ns` reproduces the Changing-name strategy's maximum-age
    guard: files whose mtime is older than `now_ns() - max_age_ns` are
    not picked up (the active dated log is the young one). Each tailed
    file spools into its own subdirectory of `spool_dir` (batch ids
    never collide); `read()` unions them recursively."""

    def __init__(self, base_dir: str, file_regex: str, spool_dir: str,
                 *, rolling_pattern: str | None = None,
                 recursive: bool = False,
                 max_age_ns: "int | None" = None,
                 now_ns=None, charset: str = "utf-8"):
        import hashlib
        self.base_dir = os.path.abspath(base_dir)
        self.file_regex = re.compile(file_regex)
        self.spool_dir = spool_dir
        self.rolling_pattern = rolling_pattern
        self.recursive = recursive
        self.max_age_ns = max_age_ns
        self.now_ns = now_ns or (lambda: __import__("time").time_ns())
        self.charset = charset
        self._hash = lambda p: hashlib.md5(p.encode()).hexdigest()[:12]
        os.makedirs(spool_dir, exist_ok=True)
        self._tails: dict[str, TailFileSource] = {}
        # resume every previously-tailed file from its persisted state
        for name in os.listdir(spool_dir):
            marker = os.path.join(spool_dir, name, "_tail_path.txt")
            if os.path.isfile(marker):
                path = open(marker).read()
                self._tails[path] = TailFileSource(
                    path, os.path.join(spool_dir, name),
                    rolling_pattern=rolling_pattern, charset=charset)

    def _discover(self) -> list[str]:
        out = []
        if self.recursive:
            walk = ((root, files) for root, _, files
                    in os.walk(self.base_dir))
        else:
            walk = [(self.base_dir,
                     [f for f in os.listdir(self.base_dir)
                      if os.path.isfile(
                          os.path.join(self.base_dir, f))])]
        for root, files in walk:
            for f in files:
                p = os.path.join(root, f)
                rel = os.path.relpath(p, self.base_dir).replace(
                    os.sep, "/")
                if not self.file_regex.fullmatch(rel):
                    continue
                if self.max_age_ns is not None and \
                        os.stat(p).st_mtime_ns < \
                        self.now_ns() - self.max_age_ns:
                    continue
                out.append(p)
        return sorted(out)

    def poll(self) -> int:
        """Discover new matches, then poll every tailed file. Returns
        total bytes consumed this pass. A tailed file that has
        disappeared (deleted, or rotated with no new file yet) polls
        as empty and stays registered — its rolled remainder is
        recovered when the pattern matches."""
        for path in self._discover():
            if path not in self._tails:
                sub = os.path.join(self.spool_dir, "t_" + self._hash(path))
                os.makedirs(sub, exist_ok=True)
                atomic_write(os.path.join(sub, "_tail_path.txt"), path)
                self._tails[path] = TailFileSource(
                    path, sub, rolling_pattern=self.rolling_pattern,
                    charset=self.charset)
        return sum(t.poll() for t in self._tails.values())

    def read(self, spark: SparkSession) -> DataFrame:
        return (spark.read.schema(_SPOOL_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(self.spool_dir))

    lines = staticmethod(TailFileSource.lines)
