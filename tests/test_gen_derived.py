"""tools/gen_derived.py rejects what it does not know: with no flag it
rewrites the committed testdata_derived/ inputs, so a mistyped flag must
fail before anything is written."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DERIVED = os.path.join(REPO, "testdata_derived")


def _mtimes() -> dict[str, int]:
    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(DERIVED) for f in files}


def test_unknown_flag_exits_nonzero_and_writes_nothing():
    before = _mtimes()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_derived.py"),
         "--bogus"], capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert "--bogus" in r.stderr
    assert _mtimes() == before
