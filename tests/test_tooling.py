"""Every script command the docs quote names a file that exists, and every
tool byte-compiles, so the docs cannot keep citing a deleted tool."""

from __future__ import annotations

import glob
import os
import py_compile
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]
COMMAND = re.compile(r"\bpython3? ([\w./-]+\.py)\b")


def test_docs_quote_existing_scripts():
    cited = []
    for doc in DOCS:
        with open(os.path.join(REPO, doc)) as fh:
            cited += [(doc, m) for m in COMMAND.findall(fh.read())]
    assert {"bench.py", "tools/check_correctness.py"} <= {p for _, p in cited}
    missing = [c for c in cited if not os.path.isfile(os.path.join(REPO, c[1]))]
    assert not missing, missing


def test_tools_and_bench_byte_compile(tmp_path):
    scripts = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    for path in scripts + [os.path.join(REPO, "bench.py")]:
        out = tmp_path / (os.path.basename(path) + "c")
        py_compile.compile(path, cfile=str(out), doraise=True)
