"""nifi_spark.durable: atomic writes, the spool, framed reads, and a
grep gate that keeps every commit-by-rename inside the module."""

from __future__ import annotations

import io
import os
import re

import pytest

from nifi_spark.sources.listen import ListenUDPSource

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "nifi_spark")
LANDED = re.compile(r"batch_\d{8}\.parquet$")


def feed(items):
    it = iter(items)
    return lambda: next(it, None)


def test_torn_spool_temp_is_invisible_and_swept(spark, tmp_path,
                                                monkeypatch):
    """A crash between writing a spool batch and renaming it strands a
    temp file. Readers must not see it, even truncated, and reopening
    the spool must remove it."""
    spool = str(tmp_path / "spool")
    src = ListenUDPSource(spool)
    assert src.drain(feed([("h", b"a"), ("h", b"b")])) == 2

    def crash(*_):
        raise OSError("crash before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash before rename"):
            src.drain(feed([("h", b"c")]))
    stranded = [f for f in os.listdir(spool) if not LANDED.match(f)]
    assert len(stranded) == 1
    with open(os.path.join(spool, stranded[0]), "r+b") as f:
        f.truncate(7)                         # torn mid-write

    rows = spark.read.parquet(spool).collect()
    assert sorted(r["raw"] for r in rows) == ["a", "b"]

    src2 = ListenUDPSource(spool)
    assert sorted(os.listdir(spool)) == ["batch_00000000.parquet"]
    assert src2.drain(feed([("h", b"c")])) == 1
    assert sorted(r["raw"] for r in src2.read(spark).collect()) == \
        ["a", "b", "c"]


def test_atomic_write_replaces_and_leaves_no_temp(tmp_path):
    from nifi_spark.durable import atomic_write
    p = str(tmp_path / "state.json")
    atomic_write(p, '{"a": 1}')
    atomic_write(p, '{"a": 2}')
    with open(p) as f:
        assert f.read() == '{"a": 2}'
    assert os.listdir(tmp_path) == ["state.json"]


def _dir(path, name):
    os.makedirs(path / name)
    (path / name / "f").write_text(name)


def _listing(path):
    return {d: (path / d / "f").read_text() for d in os.listdir(path)}


@pytest.mark.parametrize("crash_at", [1, 2, 3])
def test_recover_dir_swap_after_crash(tmp_path, monkeypatch, crash_at):
    """Crash before the old dir moves aside (1), after it (2) and
    before the old copy is deleted (3): recovery leaves exactly the
    new copy at the target when the swap got past step 1, else the
    old one plus the untouched staged dir."""
    import shutil

    from nifi_spark import durable
    _dir(tmp_path, "base")
    _dir(tmp_path, "staged")
    calls = []

    def crashing(real):
        def fn(*a, **k):
            calls.append(a)
            if len(calls) == crash_at:
                raise OSError("crash")
            return real(*a, **k)
        return fn

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crashing(os.rename))
        m.setattr(shutil, "rmtree", crashing(shutil.rmtree))
        with pytest.raises(OSError, match="crash"):
            durable.swap_dir(str(tmp_path / "staged"),
                             str(tmp_path / "base"))
    durable.recover_dir_swap(str(tmp_path / "staged"),
                             str(tmp_path / "base"))
    want = ({"base": "base", "staged": "staged"} if crash_at == 1
            else {"base": "staged"})
    assert _listing(tmp_path) == want


class _Boom(IOError):
    pass


def test_read_exact_short_read_raises_callers_error():
    from nifi_spark.durable import read_exact
    assert read_exact(io.BytesIO(b"abcdef").read, 4) == b"abcd"
    with pytest.raises(_Boom, match=r"\(2/4 bytes\)"):
        read_exact(io.BytesIO(b"ab").read, 4, _Boom)
    with pytest.raises(EOFError):
        read_exact(io.BytesIO(b"").read, 4)


def test_read_exact_eof_ok():
    from nifi_spark.durable import read_exact
    assert read_exact(io.BytesIO(b"").read, 4, _Boom, eof_ok=True) is None
    with pytest.raises(_Boom):                # mid-frame EOF still fails
        read_exact(io.BytesIO(b"ab").read, 4, _Boom, eof_ok=True)


def test_no_rename_commit_outside_durable():
    """Every tmp-then-rename commit goes through nifi_spark.durable.
    The exceptions are renames a protocol server performs for its
    client (FTP RNFR/RNTO, SFTP RENAME)."""
    allowed = {"sources/ftp.py": 1, "sources/sftp.py": 1}
    found = {}
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if not name.endswith(".py") or rel == "durable.py":
                continue
            with open(path) as f:
                n = len(re.findall(r"\bos\.(?:rename|replace)\(", f.read()))
            if n:
                found[rel] = n
    assert found == allowed
