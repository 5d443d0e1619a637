"""GetSplunk / PutSplunk analogs (nifi-splunk-bundle).

NiFi ancestors:
- GetSplunk.java — incremental export search against the Splunk REST
  API. The managed time-range state machine is reproduced exactly
  (:268-320): strategy ``Provided`` uses the property values verbatim;
  ``Managed from Current`` runs nothing on the first trigger (earliest
  == latest == now → save state and return); ``Managed from
  Beginning`` runs the first query with NO earliest bound; every
  subsequent run uses earliest = previous latest + 1 ms and latest =
  now, formatted ``yyyy-MM-dd'T'HH:mm:ss.SSSZ`` in the configured zone
  (UTC here). State keys are the reference's ``earliestTime`` /
  ``latestTime``; changing Query / Time-Field Strategy / Time-Range
  Strategy / Earliest / Latest / Hostname clears state
  (onPropertyModified:221-236 → a config fingerprint in state).
  Time Field Strategy picks the export args: ``Event Time`` →
  earliest_time/latest_time, ``Index Time`` → index_earliest/
  index_latest (:323-339). Result attributes: splunk.query,
  splunk.earliest.time, splunk.latest.time (:355-358).
- PutSplunk.java — TCP/UDP event sink: no delimiter → the whole
  content is one message; with a delimiter → split on it, drop empty
  messages, and on TCP append ``\\n`` to any message not already
  ending in one (getMessage:230-246). ``\\n``/``\\r``/``\\t`` in the
  delimiter property un-escape first (:150-152).

The wall clock is injected (``now_ms``) and the REST transport is
``transport(url, method, body) -> (status, bytes)`` — the same seams
as every connector here. ``SplunkServer`` is an in-process export
endpoint over a deterministic event table for tests and the gate;
drains land parquet spool files read back as a DataFrame.
"""

from __future__ import annotations

import json
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool
from ..ledger import KVState

DATE_TIME_FORMAT_NOTE = "yyyy-MM-dd'T'HH:mm:ss.SSSZ"  # GetSplunk.java:156
EARLIEST_TIME_KEY = "earliestTime"
LATEST_TIME_KEY = "latestTime"
QUERY_ATTR = "splunk.query"
EARLIEST_TIME_ATTR = "splunk.earliest.time"
LATEST_TIME_ATTR = "splunk.latest.time"

MANAGED_BEGINNING = "Managed from Beginning"
MANAGED_CURRENT = "Managed from Current"
PROVIDED = "Provided"
EVENT_TIME = "Event Time"
INDEX_TIME = "Index Time"


class SplunkError(IOError):
    pass


def format_time(ms: int) -> str:
    """Java SimpleDateFormat yyyy-MM-dd'T'HH:mm:ss.SSSZ at UTC —
    the trailing Z pattern letter renders +0000."""
    import datetime as dt
    d = dt.datetime.fromtimestamp(ms // 1000, dt.timezone.utc)
    return f"{d:%Y-%m-%dT%H:%M:%S}.{ms % 1000:03d}+0000"


def parse_time(s: str) -> int:
    """Inverse of format_time (the reference parses previous state
    with the same SimpleDateFormat)."""
    import datetime as dt
    m = re.fullmatch(
        r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})\.(\d{3})"
        r"([+-]\d{4})", s)
    if not m:
        raise SplunkError(f"bad time literal {s!r}")
    y, mo, d, h, mi, sec, ms, tz = m.groups()
    off = (int(tz[1:3]) * 60 + int(tz[3:5])) * (1 if tz[0] == "+" else -1)
    base = dt.datetime(int(y), int(mo), int(d), int(h), int(mi),
                       int(sec), tzinfo=dt.timezone.utc)
    return (int(base.timestamp()) - off * 60) * 1000 + int(ms)


class SplunkServer:
    """In-process export endpoint: a deterministic event table
    [(time_ms, raw)] served at POST {base}/services/search/jobs/export
    with form-encoded search args — the endpoint and arg names the
    Splunk SDK's Service.export uses. Filters by earliest_time /
    latest_time (or index_earliest / index_latest), inclusive bounds
    like Splunk's closed time modifiers; output_mode json → one
    ``{"preview":false,"result":{_time,_raw}}`` object per line
    (export streaming shape), raw → raw events newline-joined."""

    def __init__(self, events: "list[tuple[int, str]]"):
        self.events = sorted(events)
        self.requests: list[dict] = []

    def transport(self, url: str, method: str = "GET",
                  body: bytes | None = None):
        parsed = urllib.parse.urlparse(url)
        if not parsed.path.endswith("/services/search/jobs/export"):
            return 404, b"Not Found"
        if method != "POST":
            return 405, b"Method Not Allowed"
        args = dict(urllib.parse.parse_qsl((body or b"").decode()))
        self.requests.append(args)
        if "search" not in args:
            return 400, b"missing search"
        lo_k, hi_k = "earliest_time", "latest_time"
        if "index_earliest" in args or "index_latest" in args:
            lo_k, hi_k = "index_earliest", "index_latest"
        lo = parse_time(args[lo_k]) if args.get(lo_k) else None
        hi = parse_time(args[hi_k]) if args.get(hi_k) else None
        hits = [(t, raw) for t, raw in self.events
                if (lo is None or t >= lo) and (hi is None or t <= hi)]
        mode = args.get("output_mode", "json")
        if mode == "raw":
            payload = "\n".join(raw for _t, raw in hits)
        elif mode == "csv":
            lines = ['"_time","_raw"'] + [
                f'"{format_time(t)}","{raw}"' for t, raw in hits]
            payload = "\n".join(lines)
        else:  # json export stream
            payload = "\n".join(
                json.dumps({"preview": False,
                            "result": {"_time": format_time(t),
                                       "_raw": raw}},
                           separators=(",", ":"), sort_keys=True)
                for t, raw in hits)
        return 200, payload.encode()


class GetSplunkSource:
    """GetSplunk's managed time-range drain over an injectable
    transport, landing each non-empty export into a parquet spool
    file with the reference's three splunk.* attributes."""

    def __init__(self, spool_dir: str, state: KVState, *,
                 base_url: str, query: str = "search * | head 100",
                 time_range_strategy: str = PROVIDED,
                 time_field_strategy: str = EVENT_TIME,
                 earliest_time: str | None = None,
                 latest_time: str | None = None,
                 output_mode: str = "json", key: str = "get_splunk"):
        assert time_range_strategy in (MANAGED_BEGINNING,
                                       MANAGED_CURRENT, PROVIDED)
        assert time_field_strategy in (EVENT_TIME, INDEX_TIME)
        self.spool_dir = spool_dir
        self.state = state
        self.key = key
        self.base_url = base_url.rstrip("/")
        self.query = query
        self.range_strategy = time_range_strategy
        self.field_strategy = time_field_strategy
        self.earliest_prop = earliest_time
        self.latest_prop = latest_time
        self.output_mode = output_mode
        self._spool = Spool(spool_dir)

    def _fingerprint(self) -> str:
        # onPropertyModified: query/field-strategy/range-strategy/
        # earliest/latest/hostname changes reset state
        return "|".join(str(x) for x in (
            self.query, self.field_strategy, self.range_strategy,
            self.earliest_prop, self.latest_prop, self.base_url))

    def drain(self, transport, *, now_ms: int) -> int:
        """One onTrigger. Returns rows landed (0 on the managed-
        current first trigger, which only seeds state)."""
        st = self.state.get(self.key)
        if st and st.get("config") != self._fingerprint():
            st = {}   # resetState → stateManager.clear
        earliest: str | None = None
        latest: str | None = None
        if self.range_strategy == PROVIDED:
            earliest, latest = self.earliest_prop, self.latest_prop
        else:
            prev_latest = st.get(LATEST_TIME_KEY)
            if not prev_latest:
                if self.range_strategy == MANAGED_CURRENT:
                    earliest = format_time(now_ms)
                latest = format_time(now_ms)
                if latest == earliest:
                    # first trigger seeds state only (GetSplunk:306)
                    self.state.put(self.key, {
                        EARLIEST_TIME_KEY: earliest or "",
                        LATEST_TIME_KEY: latest,
                        "config": self._fingerprint()})
                    return 0
            else:
                earliest = format_time(parse_time(prev_latest) + 1)
                latest = format_time(now_ms)
        args = {"search": self.query, "output_mode": self.output_mode}
        if self.field_strategy == EVENT_TIME:
            lo_k, hi_k = "earliest_time", "latest_time"
        else:
            lo_k, hi_k = "index_earliest", "index_latest"
        if earliest:
            args[lo_k] = earliest
        if latest:
            args[hi_k] = latest
        status, body = transport(
            self.base_url + "/services/search/jobs/export", "POST",
            urllib.parse.urlencode(sorted(args.items())).encode())
        if status != 200:
            raise SplunkError(f"export returned {status}")
        rows = [ln for ln in body.decode().split("\n") if ln]
        n = self._land(rows, earliest, latest)
        if self.range_strategy != PROVIDED:
            self.state.put(self.key, {
                EARLIEST_TIME_KEY: earliest or "",
                LATEST_TIME_KEY: latest or "",
                "config": self._fingerprint()})
        return n

    def _land(self, rows: "list[str]", earliest: str | None,
              latest: str | None) -> int:
        if not rows:
            return 0
        import pyarrow as pa
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(rows), pa.int64()),
            "row_seq": pa.array(range(len(rows)), pa.int64()),
            "payload": pa.array(rows, pa.string()),
            "splunk_query": pa.array([self.query] * len(rows)),
            "splunk_earliest_time": pa.array([earliest or ""] * len(rows)),
            "splunk_latest_time": pa.array([latest or ""] * len(rows)),
        })
        self._spool.land(table)
        return len(rows)

    def read(self, spark: SparkSession) -> DataFrame:
        return (spark.read.parquet(self.spool_dir)
                .withColumn("event_seq",
                            F.col("batch_id") * 1_000_000
                            + F.col("row_seq")))


def unescape_delimiter(d: str | None) -> str | None:
    """PutSplunk:150-152."""
    if d is None:
        return None
    return d.replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t")


def put_splunk(content: bytes, send, *, protocol: str = "TCP",
               delimiter: str | None = None,
               charset: str = "utf-8") -> int:
    """PutSplunk content → messages: whole-content when no delimiter;
    else split on the (un-escaped) delimiter, skip empty messages;
    TCP messages gain a trailing newline when missing. Returns
    messages sent."""
    if not content:
        return 0
    tcp = protocol.upper() == "TCP"

    def fix(buf: bytes) -> bytes:
        if tcp and (not buf or buf[-1:] != b"\n"):
            return buf + b"\n"
        return buf

    d = unescape_delimiter(delimiter)
    if d is None:
        send(fix(content))
        return 1
    n = 0
    for part in content.split(d.encode(charset)):
        if not part:
            continue   # "If the message has no data, ignore it"
        send(fix(part))
        n += 1
    return n
