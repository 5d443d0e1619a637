"""`__spark_entry__`'s temp directories are removed when the process
exits: every one comes from `__spark_entry__._workdir`."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")


def test_entry_makes_temp_dirs_only_through_workdir():
    with open(ENTRY) as f:
        src = f.read()
    assert src.count("mkdtemp(") == 1  # the one inside _workdir


def test_workdirs_removed_at_exit(tmp_path):
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "import __spark_entry__ as e; d = e._workdir('probe_'); "
            "open(d + '/f', 'w').write('x'); print(d)")
    out = subprocess.run([sys.executable, "-c", code, ROOT], check=True,
                         capture_output=True, text=True,
                         env=dict(os.environ, TMPDIR=str(tmp_path)))
    d = out.stdout.strip().splitlines()[-1]
    assert d.startswith(str(tmp_path)) and not os.path.exists(d)
