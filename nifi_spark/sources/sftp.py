"""SFTP family — GetSFTP / PutSFTP / FetchSFTP / ListSFTP analogs over
a real SSH File Transfer Protocol v3 packet layer.

NiFi ancestors: GetSFTP/PutSFTP/FetchSFTP/ListSFTP delegate to
SFTPTransfer (nifi-standard-processors/.../util/SFTPTransfer.java:80-420
— jsch ChannelSftp: ls, get, put, rename, rm with the same dot-rename /
delete-original semantics as the FTP twins). The protocol here is the
SFTPv3 wire format (draft-ietf-secsh-filexfer-02): length-prefixed
packets, INIT/VERSION negotiation, request-id correlation, string-coded
handles, the ATTRS structure (size/uidgid/permissions/acmodtime flag
groups), OPEN with pflags, READ/WRITE at explicit offsets, OPENDIR/
READDIR with SSH_FX_EOF termination, REMOVE/MKDIR/RMDIR/RENAME/REALPATH
/STAT, and SSH_FX_* status codes.

The SSH-2 transport underneath (key exchange, encryption, channel mux)
is the DECLARED SEAM: server and client speak over any injectable
``(read(n) -> bytes, write(bytes))`` duplex pair — tests use
``sftp_loopback`` (socketpair), production would hand in an SSH
channel. This mirrors the repo's transport convention (http.py,
cql.py, pop3.py).

Bridge functions reuse sources/ftp.py's reference-semantics shapes
(dot-rename upload, drain-and-delete download, lag-guarded watermark
listing, per-name fetch with not.found routing).
"""

from __future__ import annotations

import os
import posixpath
import stat as statmod
import struct
import time

from ..durable import read_exact

# packet types (draft-ietf-secsh-filexfer-02 §3)
FXP_INIT, FXP_VERSION = 1, 2
FXP_OPEN, FXP_CLOSE, FXP_READ, FXP_WRITE = 3, 4, 5, 6
FXP_LSTAT, FXP_FSTAT, FXP_SETSTAT = 7, 8, 9
FXP_OPENDIR, FXP_READDIR = 11, 12
FXP_REMOVE, FXP_MKDIR, FXP_RMDIR = 13, 14, 15
FXP_REALPATH, FXP_STAT, FXP_RENAME = 16, 17, 18
FXP_STATUS, FXP_HANDLE, FXP_DATA, FXP_NAME, FXP_ATTRS = 101, 102, 103, \
    104, 105

# status codes (§7)
FX_OK, FX_EOF, FX_NO_SUCH_FILE, FX_PERMISSION_DENIED, FX_FAILURE, \
    FX_BAD_MESSAGE, FX_NO_CONNECTION, FX_CONNECTION_LOST, \
    FX_OP_UNSUPPORTED = range(9)

# pflags (§6.3)
FXF_READ, FXF_WRITE, FXF_APPEND, FXF_CREAT, FXF_TRUNC, FXF_EXCL = \
    0x01, 0x02, 0x04, 0x08, 0x10, 0x20

# ATTRS flags (§5)
ATTR_SIZE, ATTR_UIDGID, ATTR_PERMISSIONS, ATTR_ACMODTIME = \
    0x01, 0x02, 0x04, 0x08

VERSION = 3


class SftpError(IOError):
    def __init__(self, code: int, text: str = ""):
        super().__init__(f"SSH_FX status {code}: {text}")
        self.code = code


# ------------------------------------------------------------ wire fmt


def _u32(v: int) -> bytes:
    return struct.pack(">I", v)


def _u64(v: int) -> bytes:
    return struct.pack(">Q", v)


def _s(b: bytes) -> bytes:
    return _u32(len(b)) + b


class _R:
    def __init__(self, buf: bytes):
        self.b, self.p = buf, 0

    def u8(self) -> int:
        self.p += 1
        return self.b[self.p - 1]

    def u32(self) -> int:
        v = struct.unpack_from(">I", self.b, self.p)[0]
        self.p += 4
        return v

    def u64(self) -> int:
        v = struct.unpack_from(">Q", self.b, self.p)[0]
        self.p += 8
        return v

    def s(self) -> bytes:
        n = self.u32()
        v = self.b[self.p:self.p + n]
        self.p += n
        return v


def pack_attrs(st: "os.stat_result | None") -> bytes:
    if st is None:
        return _u32(0)
    flags = ATTR_SIZE | ATTR_PERMISSIONS | ATTR_ACMODTIME
    return (_u32(flags) + _u64(st.st_size) + _u32(st.st_mode)
            + _u32(int(st.st_atime)) + _u32(int(st.st_mtime)))


def parse_attrs(r: _R) -> dict:
    flags = r.u32()
    a: dict = {}
    if flags & ATTR_SIZE:
        a["size"] = r.u64()
    if flags & ATTR_UIDGID:
        a["uid"], a["gid"] = r.u32(), r.u32()
    if flags & ATTR_PERMISSIONS:
        a["permissions"] = r.u32()
    if flags & ATTR_ACMODTIME:
        a["atime"], a["mtime"] = r.u32(), r.u32()
    return a


def write_packet(write, ptype: int, payload: bytes) -> None:
    write(_u32(1 + len(payload)) + bytes([ptype]) + payload)


def read_packet(read) -> "tuple[int, bytes] | None":
    head = read_exact(read, 4, eof_ok=True)
    if head is None:
        return None
    (n,) = struct.unpack(">I", head)
    body = read_exact(read, n, eof_ok=True)
    if not body:
        return None
    return body[0], body[1:]


# --------------------------------------------------------------- server


class SftpServer:
    """SFTPv3 server over a real directory; ``serve(read, write)``
    handles one channel until EOF. Paths are jailed to the root."""

    def __init__(self, root: str):
        self.root = os.path.realpath(root)
        self._handles: dict[bytes, dict] = {}
        self._hseq = 0

    def _resolve(self, path: bytes) -> str:
        virt = posixpath.normpath("/" + path.decode("utf-8", "replace"))
        real = os.path.realpath(
            os.path.join(self.root, virt.lstrip("/")))
        if real != self.root and not real.startswith(self.root + os.sep):
            raise SftpError(FX_PERMISSION_DENIED, "path escapes root")
        return real

    def serve(self, read, write) -> int:
        pkt = read_packet(read)
        if pkt is None:
            return 0
        ptype, payload = pkt
        if ptype != FXP_INIT:
            raise SftpError(FX_BAD_MESSAGE, "expected INIT")
        client_ver = _R(payload).u32()
        write_packet(write, FXP_VERSION, _u32(min(VERSION, client_ver)))
        n = 0
        while True:
            pkt = read_packet(read)
            if pkt is None:
                return n
            ptype, payload = pkt
            r = _R(payload)
            rid = r.u32()
            try:
                self._dispatch(ptype, rid, r, write)
            except SftpError as e:
                self._status(write, rid, e.code, str(e))
            except FileNotFoundError:
                self._status(write, rid, FX_NO_SUCH_FILE, "no such file")
            except OSError as e:
                self._status(write, rid, FX_FAILURE, str(e))
            n += 1

    @staticmethod
    def _status(write, rid: int, code: int, msg: str = "") -> None:
        write_packet(write, FXP_STATUS,
                     _u32(rid) + _u32(code) + _s(msg.encode())
                     + _s(b"en"))

    def _new_handle(self, payload: dict) -> bytes:
        self._hseq += 1
        h = b"h%d" % self._hseq
        self._handles[h] = payload
        return h

    def _dispatch(self, ptype: int, rid: int, r: _R, write) -> None:
        if ptype == FXP_OPEN:
            path = self._resolve(r.s())
            pflags = r.u32()
            parse_attrs(r)
            if pflags & FXF_WRITE:
                if (pflags & FXF_EXCL) and os.path.exists(path):
                    raise SftpError(FX_FAILURE, "exists")
                mode = "r+b" if not (pflags & FXF_TRUNC) and \
                    os.path.exists(path) else "wb"
                if pflags & FXF_APPEND:
                    mode = "ab"
                if (pflags & FXF_CREAT) and not os.path.exists(path):
                    open(path, "wb").close()
                    mode = "r+b"
                fh = open(path, mode)
            else:
                fh = open(path, "rb")
            h = self._new_handle({"file": fh, "path": path})
            write_packet(write, FXP_HANDLE, _u32(rid) + _s(h))
        elif ptype == FXP_CLOSE:
            h = r.s()
            entry = self._handles.pop(h, None)
            if entry and "file" in entry:
                entry["file"].close()
            self._status(write, rid, FX_OK)
        elif ptype == FXP_READ:
            h, off, ln = r.s(), r.u64(), r.u32()
            fh = self._handles[h]["file"]
            fh.seek(off)
            data = fh.read(ln)
            if not data:
                self._status(write, rid, FX_EOF, "eof")
            else:
                write_packet(write, FXP_DATA, _u32(rid) + _s(data))
        elif ptype == FXP_WRITE:
            h, off, data = r.s(), r.u64(), r.s()
            fh = self._handles[h]["file"]
            fh.seek(off)
            fh.write(data)
            self._status(write, rid, FX_OK)
        elif ptype in (FXP_STAT, FXP_LSTAT):
            st = os.stat(self._resolve(r.s()))
            write_packet(write, FXP_ATTRS, _u32(rid) + pack_attrs(st))
        elif ptype == FXP_FSTAT:
            fh = self._handles[r.s()]["file"]
            st = os.fstat(fh.fileno())
            write_packet(write, FXP_ATTRS, _u32(rid) + pack_attrs(st))
        elif ptype == FXP_OPENDIR:
            path = self._resolve(r.s())
            if not os.path.isdir(path):
                raise SftpError(FX_NO_SUCH_FILE, "no such directory")
            names = sorted(os.listdir(path))
            h = self._new_handle({"dir": path, "names": names, "pos": 0})
            write_packet(write, FXP_HANDLE, _u32(rid) + _s(h))
        elif ptype == FXP_READDIR:
            entry = self._handles[r.s()]
            names, pos = entry["names"], entry["pos"]
            if pos >= len(names):
                self._status(write, rid, FX_EOF, "eof")
                return
            batch = names[pos:pos + 64]
            entry["pos"] = pos + len(batch)
            out = _u32(rid) + _u32(len(batch))
            for name in batch:
                st = os.stat(os.path.join(entry["dir"], name))
                longname = name          # jsch only needs the name
                out += _s(name.encode()) + _s(longname.encode()) \
                    + pack_attrs(st)
            write_packet(write, FXP_NAME, out)
        elif ptype == FXP_REMOVE:
            path = self._resolve(r.s())
            if not os.path.isfile(path):
                raise SftpError(FX_NO_SUCH_FILE, "no such file")
            os.unlink(path)
            self._status(write, rid, FX_OK)
        elif ptype == FXP_MKDIR:
            os.makedirs(self._resolve(r.s()), exist_ok=True)
            self._status(write, rid, FX_OK)
        elif ptype == FXP_RMDIR:
            os.rmdir(self._resolve(r.s()))
            self._status(write, rid, FX_OK)
        elif ptype == FXP_RENAME:
            frm, to = self._resolve(r.s()), self._resolve(r.s())
            if not os.path.exists(frm):
                raise SftpError(FX_NO_SUCH_FILE, "no such file")
            os.replace(frm, to)
            self._status(write, rid, FX_OK)
        elif ptype == FXP_REALPATH:
            virt = posixpath.normpath(
                "/" + r.s().decode("utf-8", "replace"))
            write_packet(write, FXP_NAME,
                         _u32(rid) + _u32(1) + _s(virt.encode())
                         + _s(virt.encode()) + _u32(0))
        else:
            self._status(write, rid, FX_OP_UNSUPPORTED,
                         f"type {ptype}")


# --------------------------------------------------------------- client


class SftpClient:
    """SFTPv3 client over an injectable duplex channel."""

    def __init__(self, read, write):
        self._read, self._write = read, write
        self._rid = 0
        write_packet(write, FXP_INIT, _u32(VERSION))
        pkt = read_packet(read)
        if pkt is None or pkt[0] != FXP_VERSION:
            raise SftpError(FX_NO_CONNECTION, "no VERSION")
        self.server_version = _R(pkt[1]).u32()

    def _rpc(self, ptype: int, payload: bytes) -> tuple[int, _R]:
        self._rid += 1
        write_packet(self._write, ptype, _u32(self._rid) + payload)
        pkt = read_packet(self._read)
        if pkt is None:
            raise SftpError(FX_CONNECTION_LOST, "closed")
        rtype, body = pkt
        r = _R(body)
        rid = r.u32()
        if rid != self._rid:
            raise SftpError(FX_BAD_MESSAGE, f"rid {rid} != {self._rid}")
        return rtype, r

    def _expect_status(self, ptype: int, payload: bytes,
                       ok=(FX_OK,)) -> int:
        rtype, r = self._rpc(ptype, payload)
        if rtype != FXP_STATUS:
            raise SftpError(FX_BAD_MESSAGE, f"type {rtype}")
        code = r.u32()
        if code not in ok:
            raise SftpError(code, r.s().decode("utf-8", "replace"))
        return code

    # -- file ops
    def open(self, path: str, pflags: int) -> bytes:
        rtype, r = self._rpc(FXP_OPEN,
                             _s(path.encode()) + _u32(pflags) + _u32(0))
        if rtype == FXP_STATUS:
            code = r.u32()
            raise SftpError(code, r.s().decode("utf-8", "replace"))
        return r.s()

    def close(self, handle: bytes) -> None:
        self._expect_status(FXP_CLOSE, _s(handle))

    def read_file(self, path: str, *, chunk: int = 65536) -> bytes:
        h = self.open(path, FXF_READ)
        out = b""
        try:
            while True:
                rtype, r = self._rpc(
                    FXP_READ, _s(h) + _u64(len(out)) + _u32(chunk))
                if rtype == FXP_STATUS:
                    code = r.u32()
                    if code == FX_EOF:
                        return out
                    raise SftpError(code,
                                    r.s().decode("utf-8", "replace"))
                out += r.s()
        finally:
            self.close(h)

    def write_file(self, path: str, data: bytes, *,
                   chunk: int = 65536) -> None:
        h = self.open(path, FXF_WRITE | FXF_CREAT | FXF_TRUNC)
        try:
            for off in range(0, len(data), chunk):
                self._expect_status(
                    FXP_WRITE,
                    _s(h) + _u64(off) + _s(data[off:off + chunk]))
        finally:
            self.close(h)

    def listdir(self, path: str) -> list[dict]:
        rtype, r = self._rpc(FXP_OPENDIR, _s(path.encode()))
        if rtype == FXP_STATUS:
            code = r.u32()
            raise SftpError(code, r.s().decode("utf-8", "replace"))
        h = r.s()
        out: list[dict] = []
        try:
            while True:
                rtype, r = self._rpc(FXP_READDIR, _s(h))
                if rtype == FXP_STATUS:
                    if r.u32() == FX_EOF:
                        return out
                    raise SftpError(FX_FAILURE, "readdir")
                for _ in range(r.u32()):
                    name = r.s().decode("utf-8", "replace")
                    r.s()                              # longname
                    a = parse_attrs(r)
                    a["name"] = name
                    out.append(a)
        finally:
            self.close(h)

    def stat(self, path: str) -> dict:
        rtype, r = self._rpc(FXP_STAT, _s(path.encode()))
        if rtype == FXP_STATUS:
            code = r.u32()
            raise SftpError(code, r.s().decode("utf-8", "replace"))
        return parse_attrs(r)

    def remove(self, path: str) -> None:
        self._expect_status(FXP_REMOVE, _s(path.encode()))

    def mkdir(self, path: str) -> None:
        self._expect_status(FXP_MKDIR, _s(path.encode()) + _u32(0))

    def rmdir(self, path: str) -> None:
        self._expect_status(FXP_RMDIR, _s(path.encode()))

    def rename(self, frm: str, to: str) -> None:
        self._expect_status(FXP_RENAME,
                            _s(frm.encode()) + _s(to.encode()))

    def realpath(self, path: str) -> str:
        rtype, r = self._rpc(FXP_REALPATH, _s(path.encode()))
        if rtype != FXP_NAME:
            raise SftpError(FX_BAD_MESSAGE, f"type {rtype}")
        r.u32()
        return r.s().decode("utf-8", "replace")


def sftp_loopback(server: SftpServer):
    """Serve one SFTP channel over a socketpair thread; returns
    (client, join)."""
    import socket
    import threading

    a, b = socket.socketpair()
    errs: list[BaseException] = []
    done: list[int] = []

    def run():
        try:
            done.append(server.serve(b.recv, b.sendall))
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    client = SftpClient(lambda n: a.recv(n), a.sendall)

    def join(timeout: float = 30.0) -> int:
        a.close()
        t.join(timeout)
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("sftp server did not finish")
        return done[0] if done else 0

    return client, join


# --------------------------------------------------------------- bridges


def put_sftp(client: SftpClient, files: list[tuple[str, bytes]],
             remote_dir: str = "", *, dot_rename: bool = True) -> int:
    """PutSFTP: dot-rename upload (SFTPTransfer.put's temp-name +
    rename into place)."""
    n = 0
    for name, data in files:
        target = posixpath.join(remote_dir, name) if remote_dir else name
        if dot_rename:
            tmp = posixpath.join(posixpath.dirname(target) or "",
                                 "." + posixpath.basename(target))
            client.write_file(tmp, data)
            client.rename(tmp, target)
        else:
            client.write_file(target, data)
        n += 1
    return n


def get_sftp(client: SftpClient, remote_dir: str = ".", *,
             delete: bool = True,
             suffix: "str | None" = None) -> list[dict]:
    """GetSFTP: drain-and-delete a remote directory (dot files
    skipped, directories skipped)."""
    out: list[dict] = []
    for e in client.listdir(remote_dir or "."):
        name = e["name"]
        if name.startswith(".") or name in (".", ".."):
            continue
        if statmod.S_ISDIR(e.get("permissions", 0)):
            continue
        if suffix and not name.endswith(suffix):
            continue
        path = posixpath.join(remote_dir, name) \
            if remote_dir not in ("", ".") else name
        out.append({"name": name, "content": client.read_file(path),
                    "mtime": float(e.get("mtime", 0))})
        if delete:
            client.remove(path)
    out.sort(key=lambda e: e["name"])
    return out


def fetch_sftp(client: SftpClient, names: list[str],
               remote_dir: str = "") -> tuple[list[dict], list[str]]:
    """FetchSFTP: per-name fetch with not.found routing."""
    found: list[dict] = []
    missing: list[str] = []
    for name in names:
        path = posixpath.join(remote_dir, name) if remote_dir else name
        try:
            found.append({"name": name,
                          "content": client.read_file(path)})
        except SftpError as e:
            if e.code == FX_NO_SUCH_FILE:
                missing.append(name)
            else:
                raise
    return found, missing


def list_sftp(client: SftpClient, remote_dir: str,
              after_mtime: float, *, lag_seconds: float = 0.1,
              now: "float | None" = None) -> tuple[list[dict], float]:
    """ListSFTP: mtime-watermark listing under the
    AbstractListProcessor lag contract."""
    boundary = (time.time() if now is None else now) - lag_seconds
    out: list[dict] = []
    wm = after_mtime
    for e in client.listdir(remote_dir or "."):
        name = e["name"]
        if name.startswith(".") or statmod.S_ISDIR(
                e.get("permissions", 0)):
            continue
        mt = float(e.get("mtime", 0))
        if mt > after_mtime and mt <= boundary:
            out.append({"name": name, "mtime": mt,
                        "size": int(e.get("size", 0))})
            wm = max(wm, mt)
    out.sort(key=lambda e: (e["mtime"], e["name"]))
    return out, wm
