"""ConsumeIMAP analog — an IMAP4rev1 fetch subset (client AND server)
draining a folder to parquet spool.

NiFi ancestor: ConsumeIMAP.java + AbstractEmailProcessor.java:94-151
(Folder property, Should Delete Messages → \\Deleted flag + expunge,
one FlowFile per fetched message). The reference rides
spring-integration/javax.mail; here the IMAP dialogue subset a
fetch-and-delete consumer needs is implemented: tagged commands with
untagged ``*`` responses, LOGIN, SELECT (EXISTS count + UIDVALIDITY/
UIDNEXT), FETCH n (RFC822) with the literal ``{n}\\r\\n`` syntax,
STORE +FLAGS (\\Deleted), EXPUNGE, LOGOUT — plus the UID command
family and SEARCH: ``UID FETCH/STORE`` address messages by the
expunge-stable uid (uid sets ``1,3:5,7:*`` parsed per RFC 3501 §9
sequence-set grammar), ``SEARCH``/``UID SEARCH`` evaluate an
AND-conjoined criteria subset (ALL, DELETED, UNDELETED, ``TEXT s``,
``HEADER field value``) over the selected folder. The uid-driven
fetch loop is what robust consumers actually run (sequence numbers
shift under concurrent expunge; uids don't). UIDVALIDITY is
per-session here, which RFC 3501 permits — clients discard cached
uids when it changes.

Also implemented: ``IDLE`` (RFC 2177 — the server enters idle on the
``+`` continuation, appends whatever the injectable ``idle_feed``
delivers, pushes the untagged ``EXISTS``/``RECENT`` news burst — or a
``* OK`` heartbeat when there is none — then honors ``DONE``; the
client side is ``imap_idle_consume``, the push-notification loop that
fetches ONLY uids above its high-water mark after each wakeup) and
``BODYSTRUCTURE`` (RFC 3501 §7.4.2 — the parenthesized MIME structure
built from the stdlib email parser: nested multiparts, parameter
lists, encoding, octet size, text line counts, and message/rfc822
parts carrying the encapsulated message's ENVELOPE (address
structures with the sender/reply-to default-from-From rule), inner
body structure, and line count; ``imap_fetch_structs`` is the
client). No declared BODYSTRUCTURE boundary remains.

Transport injectable as always; `imap_loopback` runs the server on a
socketpair thread.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..durable import Spool

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, folder string, "
                 "content string")


class ImapError(IOError):
    pass


def _parse_uid_set(spec: str, max_uid: int) -> "list[int]":
    """RFC 3501 sequence-set: '1', '1:3', '1,3:5', '2:*' -> sorted
    uid list (bounded by max_uid; '*' = max_uid)."""
    out: set[int] = set()
    for part in spec.split(","):
        if ":" in part:
            a, b = part.split(":", 1)
            lo = max_uid if a == "*" else int(a)
            hi = max_uid if b == "*" else int(b)
            if lo > hi:
                lo, hi = hi, lo
            out.update(range(lo, hi + 1))
        else:
            out.add(max_uid if part == "*" else int(part))
    return sorted(u for u in out if 1 <= u <= max_uid)


def _tokenize_quoted(text: str) -> "list[str]":
    """Split on spaces, honoring double-quoted strings."""
    toks, buf, inq = [], [], False
    for ch in text:
        if inq:
            if ch == '"':
                inq = False
                toks.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        elif ch == '"':
            inq = True
        elif ch == " ":
            if buf:
                toks.append("".join(buf))
                buf = []
        else:
            buf.append(ch)
    if buf:
        toks.append("".join(buf))
    return toks


def _search_match(msg: bytes, idx: int, deleted: "set[int]",
                  criteria: "list[str]") -> bool:
    """AND-conjoined subset of RFC 3501 §6.4.4: ALL, DELETED,
    UNDELETED, TEXT <s>, HEADER <field> <value>."""
    k = 0
    while k < len(criteria):
        c = criteria[k].upper()
        if c == "ALL":
            k += 1
        elif c == "DELETED":
            if idx not in deleted:
                return False
            k += 1
        elif c == "UNDELETED":
            if idx in deleted:
                return False
            k += 1
        elif c == "TEXT":
            if k + 1 >= len(criteria):
                raise ImapError("TEXT needs an argument")
            if criteria[k + 1].encode() not in msg:
                return False
            k += 2
        elif c == "HEADER":
            if k + 2 >= len(criteria):
                raise ImapError("HEADER needs field + value")
            field, value = criteria[k + 1], criteria[k + 2]
            head = msg.split(b"\r\n\r\n", 1)[0]
            hit = False
            for ln in head.split(b"\r\n"):
                if b":" not in ln:
                    continue
                name, _, val = ln.partition(b":")
                if (name.decode("utf-8", "replace").strip().lower()
                        == field.lower()
                        and value.lower()
                        in val.decode("utf-8", "replace").lower()):
                    hit = True
                    break
            if not hit:
                return False
            k += 3
        else:
            raise ImapError(f"unsupported SEARCH key {c}")
    return True


def _bs_quote(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _bs_params(part) -> str:
    items = part.get_params(header="content-type") or []
    ps = [(k.upper(), v) for k, v in items[1:]]        # [0] is the type
    if not ps:
        return "NIL"
    return ("(" + " ".join(f"{_bs_quote(k)} {_bs_quote(v)}"
                           for k, v in ps) + ")")


def _bs_addr(value: "str | None") -> str:
    """RFC 3501 address-structure list for one header value:
    ((name adl mailbox host) ...) or NIL."""
    if not value:
        return "NIL"
    from email.utils import getaddresses
    addrs = [a for a in getaddresses([value]) if a[1] or a[0]]
    if not addrs:
        return "NIL"
    out = []
    for name, addr in addrs:
        mailbox, _, host = addr.partition("@")
        out.append("(" + " ".join([
            _bs_quote(name) if name else "NIL",
            "NIL",
            _bs_quote(mailbox) if mailbox else "NIL",
            _bs_quote(host) if host else "NIL"]) + ")")
    return "(" + "".join(out) + ")"


def _envelope(m) -> str:
    """RFC 3501 §7.4.2 ENVELOPE: (date subject from sender reply-to to
    cc bcc in-reply-to message-id); sender/reply-to MUST default from
    the from field when absent."""
    def g(h: str) -> str:
        v = m.get(h)
        return _bs_quote(v) if v else "NIL"

    frm = m.get("From")
    return "(" + " ".join([
        g("Date"), g("Subject"),
        _bs_addr(frm),
        _bs_addr(m.get("Sender") or frm),
        _bs_addr(m.get("Reply-To") or frm),
        _bs_addr(m.get("To")), _bs_addr(m.get("Cc")),
        _bs_addr(m.get("Bcc")),
        g("In-Reply-To"), g("Message-ID")]) + ")"


def _bs_part(part) -> str:
    if part.get_content_type() == "message/rfc822":
        # §7.4.2: after the basic fields, message/rfc822 carries the
        # ENVELOPE of the encapsulated message, its body structure, and
        # its size in text lines. (The stdlib parser models rfc822
        # parts as a one-element multipart, so this branch must come
        # before is_multipart().)
        sub = part.get_payload(0)
        raw = sub.as_bytes()
        cid = part.get("Content-ID")
        enc = (part.get("Content-Transfer-Encoding") or "7BIT").upper()
        fields = ['"MESSAGE"', '"RFC822"', _bs_params(part),
                  _bs_quote(cid) if cid else "NIL", "NIL",
                  _bs_quote(enc), str(len(raw)),
                  _envelope(sub), _bs_part(sub),
                  str(raw.count(b"\n"))]
        return "(" + " ".join(fields) + ")"
    if part.is_multipart():
        kids = "".join(_bs_part(p) for p in part.get_payload())
        return (f"({kids} {_bs_quote(part.get_content_subtype().upper())}"
                f" {_bs_params(part)} NIL NIL)")
    body = part.get_payload(decode=False) or ""
    octets = len(body.encode("utf-8", "surrogateescape"))
    cid = part.get("Content-ID")
    enc = (part.get("Content-Transfer-Encoding") or "7BIT").upper()
    fields = [_bs_quote(part.get_content_maintype().upper()),
              _bs_quote(part.get_content_subtype().upper()),
              _bs_params(part),
              _bs_quote(cid) if cid else "NIL",
              "NIL",                                   # description
              _bs_quote(enc), str(octets)]
    if part.get_content_maintype() == "text":
        fields.append(str(body.count("\n")))
    return "(" + " ".join(fields) + ")"


def bodystructure(msg: bytes) -> str:
    """RFC 3501 §7.4.2 BODYSTRUCTURE for a raw RFC822 message:
    `(type subtype (params) id description encoding octets [lines])`
    for discrete parts, `((child)(child) subtype (params) NIL NIL)`
    for multiparts, built from the stdlib email parser."""
    import email
    return _bs_part(email.message_from_bytes(msg))


# ----------------------------------------------------------- server


def serve_imap(read_line, write, *, user: str, password: str,
               folders: dict[str, list[bytes]],
               idle_feed=None) -> list[int]:
    """Serve ONE session; `folders` maps folder name → message list
    (mutated: EXPUNGE removes \\Deleted-flagged messages). Returns the
    expunged indexes (0-based, pre-expunge) of the last SELECTed
    folder."""
    def untagged(text: str) -> None:
        write(f"* {text}\r\n".encode())

    def tagged(tag: str, text: str) -> None:
        write(f"{tag} {text}\r\n".encode())

    untagged("OK nifi-spark IMAP4rev1 ready")
    authed = False
    selected: "str | None" = None
    deleted: set[int] = set()
    expunged: list[int] = []
    uids: dict[str, list[int]] = {}
    uidnext: dict[str, int] = {}

    def emit_fetch(i: int, msg: bytes, *, with_uid: bool) -> None:
        uid_part = f"UID {uids[selected][i]} " if with_uid else ""
        write(f"* {i + 1} FETCH ({uid_part}RFC822 {{{len(msg)}}}\r\n"
              .encode())
        write(msg)
        write(b")\r\n")
    while True:
        line = read_line()
        if not line:
            return expunged
        parts = line.rstrip(b"\r\n").decode("utf-8",
                                            errors="replace").split(" ")
        if len(parts) < 2:
            continue
        tag, verb = parts[0], parts[1].upper()
        args = parts[2:]
        if verb == "LOGIN":
            if len(args) == 2 and args[0] == user and args[1] == password:
                authed = True
                tagged(tag, "OK LOGIN completed")
            else:
                tagged(tag, "NO LOGIN failed")
        elif verb == "LOGOUT":
            untagged("BYE nifi-spark closing")
            tagged(tag, "OK LOGOUT completed")
            return expunged
        elif not authed:
            tagged(tag, "NO not authenticated")
        elif verb == "SELECT":
            name = args[0].strip('"')
            if name not in folders:
                tagged(tag, "NO no such folder")
                continue
            selected = name
            deleted = set()
            if name not in uids:
                uids[name] = list(range(1, len(folders[name]) + 1))
                uidnext[name] = len(folders[name]) + 1
            untagged(f"{len(folders[name])} EXISTS")
            untagged("OK [UIDVALIDITY 1] UIDs valid")
            untagged(f"OK [UIDNEXT {uidnext[name]}] next uid")
            tagged(tag, "OK [READ-WRITE] SELECT completed")
        elif selected is None:
            tagged(tag, "NO no folder selected")
        elif verb == "FETCH":
            i = int(args[0]) - 1
            box = folders[selected]
            if not (0 <= i < len(box)):
                tagged(tag, "NO no such message")
                continue
            if "BODYSTRUCTURE" in " ".join(args[1:]).upper():
                write(f"* {i + 1} FETCH (BODYSTRUCTURE "
                      f"{bodystructure(box[i])})\r\n".encode())
            else:
                emit_fetch(i, box[i], with_uid=False)
            tagged(tag, "OK FETCH completed")
        elif verb == "IDLE":
            write(b"+ idling\r\n")
            news = list(idle_feed()) if idle_feed is not None else []
            box = folders[selected]
            fuids = uids[selected]
            for msg in news:
                box.append(msg)
                fuids.append(uidnext[selected])
                uidnext[selected] += 1
            if news:
                untagged(f"{len(box)} EXISTS")
                untagged(f"{len(news)} RECENT")
            else:
                untagged("OK still here")
            done = read_line()
            if done.strip().upper() != b"DONE":
                tagged(tag, "BAD expected DONE")
            else:
                tagged(tag, "OK IDLE terminated")
        elif verb == "STORE":
            i = int(args[0]) - 1
            if "+FLAGS" in [a.upper() for a in args] \
                    and any("\\Deleted" in a for a in args):
                deleted.add(i)
                untagged(f"{i + 1} FETCH (FLAGS (\\Deleted))")
            tagged(tag, "OK STORE completed")
        elif verb == "SEARCH":
            box = folders[selected]
            try:
                crit = _tokenize_quoted(" ".join(args)) or ["ALL"]
                hits = [str(i + 1) for i, m in enumerate(box)
                        if _search_match(m, i, deleted, crit)]
            except ImapError as exc:
                tagged(tag, f"BAD {exc}")
                continue
            untagged(("SEARCH " + " ".join(hits)).rstrip())
            tagged(tag, "OK SEARCH completed")
        elif verb == "UID" and args:
            sub = args[0].upper()
            box = folders[selected]
            fuids = uids[selected]
            if sub == "SEARCH":
                try:
                    crit = (_tokenize_quoted(" ".join(args[1:]))
                            or ["ALL"])
                    hits = [str(fuids[i]) for i, m in enumerate(box)
                            if _search_match(m, i, deleted, crit)]
                except ImapError as exc:
                    tagged(tag, f"BAD {exc}")
                    continue
                untagged(("SEARCH " + " ".join(hits)).rstrip())
                tagged(tag, "OK UID SEARCH completed")
            elif sub == "FETCH" and len(args) >= 2:
                want = set(_parse_uid_set(
                    args[1], uidnext[selected] - 1))
                structs = "BODYSTRUCTURE" in " ".join(args[2:]).upper()
                for i, u in enumerate(fuids):
                    if u in want:
                        if structs:
                            write(f"* {i + 1} FETCH (UID {u} "
                                  f"BODYSTRUCTURE "
                                  f"{bodystructure(box[i])})\r\n"
                                  .encode())
                        else:
                            emit_fetch(i, box[i], with_uid=True)
                tagged(tag, "OK UID FETCH completed")
            elif sub == "STORE" and len(args) >= 2:
                want = set(_parse_uid_set(
                    args[1], uidnext[selected] - 1))
                rest = [a.upper() for a in args[2:]]
                if "+FLAGS" in rest and any("\\DELETED" in a
                                            for a in rest):
                    for i, u in enumerate(fuids):
                        if u in want:
                            deleted.add(i)
                            untagged(f"{i + 1} FETCH (UID {u} "
                                     "FLAGS (\\Deleted))")
                tagged(tag, "OK UID STORE completed")
            else:
                tagged(tag, "BAD unsupported UID subcommand")
        elif verb == "EXPUNGE":
            box = folders[selected]
            fuids = uids[selected]
            for i in sorted(deleted, reverse=True):
                if 0 <= i < len(box):
                    del box[i]
                    del fuids[i]
                    untagged(f"{i + 1} EXPUNGE")
            expunged = sorted(deleted)
            deleted = set()
            tagged(tag, "OK EXPUNGE completed")
        else:
            tagged(tag, "BAD unsupported command")


# ----------------------------------------------------------- client


def imap_fetch(read_line, write, *, user: str, password: str,
               folder: str = "INBOX", delete: bool = True,
               use_uid: bool = False) -> list[bytes]:
    """ConsumeIMAP's receive loop: LOGIN, SELECT folder, FETCH every
    message (RFC822 literal), with `delete` STORE +FLAGS (\\Deleted)
    + EXPUNGE (Should Delete Messages = true), LOGOUT.

    `use_uid=True` runs the robust variant real consumers prefer:
    UID SEARCH ALL enumerates expunge-stable uids, then UID FETCH /
    UID STORE address each message by uid — immune to sequence-number
    shifts under concurrent expunge."""
    seq = 0

    def send(cmd: str) -> str:
        nonlocal seq
        seq += 1
        tag = f"a{seq:03d}"
        write(f"{tag} {cmd}\r\n".encode())
        return tag

    def read_until_tagged(tag: str) -> list[bytes]:
        lines: list[bytes] = []
        while True:
            ln = read_line()
            if not ln:
                raise ImapError("connection dropped")
            if ln.startswith(tag.encode() + b" "):
                status = ln.decode().split(" ", 2)[1]
                if status != "OK":
                    raise ImapError(f"server said {ln.decode().strip()}")
                return lines
            lines.append(ln)

    greeting = read_line()
    if not greeting.startswith(b"* OK"):
        raise ImapError(f"bad greeting {greeting!r}")
    read_until_tagged(send(f"LOGIN {user} {password}"))
    exists = 0
    for ln in read_until_tagged(send(f'SELECT "{folder}"')):
        m = re.match(rb"\* (\d+) EXISTS", ln)
        if m:
            exists = int(m.group(1))
    if use_uid:
        handles: list[tuple[str, str]] = []
        for ln in read_until_tagged(send("UID SEARCH ALL")):
            m = re.match(rb"\* SEARCH(.*)", ln)
            if m:
                handles = [("UID ", u) for u in
                           m.group(1).decode().split()]
    else:
        handles = [("", str(i)) for i in range(1, exists + 1)]
    messages: list[bytes] = []
    for prefix, h in handles:
        tag = send(f"{prefix}FETCH {h} RFC822")
        # untagged FETCH with a literal: * i FETCH ([UID u ]RFC822 {n}
        ln = read_line()
        m = re.search(rb"\{(\d+)\}\r\n$", ln)
        if not m:
            raise ImapError(f"expected literal, got {ln!r}")
        n = int(m.group(1))
        body = b""
        while len(body) < n:
            chunk = read_line()
            if not chunk:
                raise ImapError("dropped mid-literal")
            body += chunk
        messages.append(body[:n])
        read_until_tagged(tag)           # the ')' line + tagged OK
        if delete:
            read_until_tagged(
                send(f"{prefix}STORE {h} +FLAGS (\\Deleted)"))
    if delete and handles:
        read_until_tagged(send("EXPUNGE"))
    read_until_tagged(send("LOGOUT"))
    return messages


class _Dialogue:
    """Minimal tagged-command plumbing shared by the auxiliary
    clients (imap_fetch keeps its own inline copy)."""

    def __init__(self, read_line, write):
        self.read_line, self.write, self.seq = read_line, write, 0
        greeting = read_line()
        if not greeting.startswith(b"* OK"):
            raise ImapError(f"bad greeting {greeting!r}")

    def send(self, cmd: str) -> str:
        self.seq += 1
        tag = f"x{self.seq:03d}"
        self.write(f"{tag} {cmd}\r\n".encode())
        return tag

    def run(self, cmd: str) -> list[bytes]:
        return self.until_tagged(self.send(cmd))

    def until_tagged(self, tag: str) -> list[bytes]:
        lines: list[bytes] = []
        while True:
            ln = self.read_line()
            if not ln:
                raise ImapError("connection dropped")
            if ln.startswith(tag.encode() + b" "):
                if ln.decode().split(" ", 2)[1] != "OK":
                    raise ImapError(ln.decode().strip())
                return lines
            lines.append(ln)

    def login_select(self, user: str, password: str,
                     folder: str) -> int:
        self.run(f"LOGIN {user} {password}")
        exists = 0
        for ln in self.run(f'SELECT "{folder}"'):
            m = re.match(rb"\* (\d+) EXISTS", ln)
            if m:
                exists = int(m.group(1))
        return exists

    def fetch_literal(self, cmd: str) -> bytes:
        """Send a FETCH whose reply is `* i FETCH (... {n}` + n raw
        bytes + `)` + tagged OK; return the literal."""
        tag = self.send(cmd)
        ln = self.read_line()
        m = re.search(rb"\{(\d+)\}\r\n$", ln)
        if not m:
            raise ImapError(f"expected literal, got {ln!r}")
        n = int(m.group(1))
        body = b""
        while len(body) < n:
            chunk = self.read_line()
            if not chunk:
                raise ImapError("dropped mid-literal")
            body += chunk
        self.until_tagged(tag)
        return body[:n]


def imap_fetch_structs(read_line, write, *, user: str, password: str,
                       folder: str = "INBOX") -> list[str]:
    """Fetch the BODYSTRUCTURE of every message in `folder` (RFC 3501
    §7.4.2) without touching flags — the MIME-introspection read path.
    Returns the parenthesized structure strings in mailbox order."""
    d = _Dialogue(read_line, write)
    n = d.login_select(user, password, folder)
    out: list[str] = []
    for i in range(1, n + 1):
        for ln in d.run(f"FETCH {i} (BODYSTRUCTURE)"):
            m = re.match(rb"\* \d+ FETCH \(BODYSTRUCTURE (.*)\)\r\n$",
                         ln, re.DOTALL)
            if m:
                out.append(m.group(1).decode())
    d.run("LOGOUT")
    return out


def imap_idle_consume(read_line, write, *, user: str, password: str,
                      folder: str = "INBOX",
                      rounds: int = 1) -> list[list[bytes]]:
    """RFC 2177 push loop: per round, enter IDLE, wait for the server's
    untagged news burst (`n EXISTS` + `RECENT`, or an `* OK` heartbeat
    meaning no news), send DONE, then UID-FETCH only uids above the
    high-water mark. Returns one message list per idle round — the
    shape a push-notified ConsumeIMAP drain produces."""
    d = _Dialogue(read_line, write)
    d.login_select(user, password, folder)
    last_uid = 0
    # baseline: uids present before the first idle round are skipped
    for ln in d.run("UID SEARCH ALL"):
        m = re.match(rb"\* SEARCH(.*)", ln)
        if m and m.group(1).split():
            last_uid = max(int(u) for u in m.group(1).split())
    out: list[list[bytes]] = []
    for _ in range(rounds):
        tag = d.send("IDLE")
        cont = d.read_line()
        if not cont.startswith(b"+"):
            raise ImapError(f"expected continuation, got {cont!r}")
        burst = d.read_line()
        if re.match(rb"\* \d+ EXISTS", burst):
            d.read_line()                       # the RECENT line
        d.write(b"DONE\r\n")
        d.until_tagged(tag)
        fresh: list[int] = []
        for ln in d.run("UID SEARCH ALL"):
            m = re.match(rb"\* SEARCH(.*)", ln)
            if m:
                fresh = [int(u) for u in m.group(1).split()
                         if int(u) > last_uid]
        batch = [d.fetch_literal(f"UID FETCH {u} RFC822")
                 for u in fresh]
        if fresh:
            last_uid = max(fresh)
        out.append(batch)
    d.run("LOGOUT")
    return out


def imap_loopback(*, user: str, password: str,
                  folders: dict[str, list[bytes]], idle_feed=None):
    """serve_imap on a socketpair thread → (connect, join)."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: list = []
    errs: list[BaseException] = []

    def run():
        try:
            f = b.makefile("rb")
            result.extend(serve_imap(f.readline, b.sendall, user=user,
                                     password=password, folders=folders,
                                     idle_feed=idle_feed))
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def connect():
        f = a.makefile("rb")
        return f.readline, a.sendall

    def join(timeout: float = 30.0) -> list[int]:
        t.join(timeout)
        a.close()
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("imap server did not finish")
        return result

    return connect, join


class ConsumeIMAPSource:
    """Drain-to-spool bridge (pop3.py pattern, folder-addressed)."""

    _MAX_PER_BATCH = 1_000_000

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        self._spool = Spool(spool_dir)

    def drain(self, connect, *, user: str, password: str,
              folder: str = "INBOX", delete: bool = True,
              use_uid: bool = False) -> int:
        import pyarrow as pa

        read_line, write = connect()
        msgs = imap_fetch(read_line, write, user=user,
                          password=password, folder=folder,
                          delete=delete, use_uid=use_uid)
        if not msgs:
            return 0
        bid = self._spool.next_id
        table = pa.table({
            "batch_id": pa.array([bid] * len(msgs), pa.int64()),
            "msg_idx": pa.array(range(len(msgs)), pa.int64()),
            "folder": pa.array([folder] * len(msgs), pa.string()),
            "content": pa.array([m.decode("utf-8", errors="replace")
                                 for m in msgs], pa.string()),
        })
        self._spool.land(table)
        return len(msgs)

    def read(self, spark: SparkSession) -> DataFrame:
        df = spark.read.schema(_SPOOL_SCHEMA).parquet(self.spool_dir)
        return (df.withColumn("msg_seq",
                              F.col("batch_id") * self._MAX_PER_BATCH
                              + F.col("msg_idx"))
                .withColumn("mime_type", F.lit("message/rfc822")))
