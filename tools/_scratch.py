"""Session-scoped scratch root (VERDICT r15 "what's wrong" #2): some
registry query builders mkdtemp fixture dirs (file-source streaming
stand-ins, checkpoint-restart fixtures, binary-source scans). pytest
(tests/conftest.py), bench.py and the audit / correctness tools route
those under one per-process root removed at exit, or every run strews
fixture dirs across /tmp.

Usage: `from tools._scratch import activate; activate()` before the
first mkdtemp. The returned root also suits spark.local.dir and
-Djava.io.tmpdir. The atexit removal runs after pytest's fixture
teardown and after hooks registered later, such as the session's.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile


def activate(prefix: str = "tool_scratch_") -> str:
    root = tempfile.mkdtemp(prefix=prefix)
    os.environ["TMPDIR"] = root
    tempfile.tempdir = root
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root
