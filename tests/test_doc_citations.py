"""Every file the docs cite exists: each backticked ``*.py``, ``*.json`` or
``*.md`` name in README.md and the verify skill must be the path suffix
of a tracked file, so deleting a file also means rewording its citations.
No Spark session."""

import os
import re
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", ".claude/skills/verify/SKILL.md"]
# Files a run writes, untracked by design.
WRITTEN = {"bench_out.json"}

_CODE = re.compile(r"```.*?```|`[^`]+`", re.S)
_NAME = re.compile(r"(?<![\w./*-])([\w./*-]+\.(?:py|json|md))(?![\w/*-])(:\d)?")


def _cited(text: str):
    for code in _CODE.findall(text):
        for name, line in _NAME.findall(code):
            # `path:line` cites the reference crate; globs and absolute
            # paths are not repo files.
            if line or "*" in name or name.startswith("/") or name in WRITTEN:
                continue
            yield name


def test_cited_files_are_tracked():
    try:
        out = subprocess.run(["git", "ls-files"], cwd=ROOT, capture_output=True,
                             text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    tracked = out.split()
    missing = []
    for doc in DOCS:
        with open(os.path.join(ROOT, doc)) as f:
            for name in _cited(f.read()):
                if not any(p == name or p.endswith("/" + name) for p in tracked):
                    missing.append(f"{doc}: {name}")
    assert not missing, missing
