"""The live docs name only files that exist: every ``scripts_*.py`` and
``tests/*.py`` path cited by README.md and the verify skill must be in
the tree, so deleting a script or a test module fails here until its
mentions go too. Dated records (BENCH_NOTES.md, OPTIMIZATION_r*.md,
SCALEPROBE.md) keep the names they were written with and are not
checked; SURVEY.md cites the reference repo's ``tests/`` paths."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
LIVE_DOCS = ("README.md", ".claude/skills/verify/SKILL.md")
PATH_RE = re.compile(r"\b(?:scripts_\w+\.py|tests/\w+\.py)")


def test_live_docs_name_only_existing_files():
    cited = {
        (doc, path)
        for doc in LIVE_DOCS
        for path in PATH_RE.findall((ROOT / doc).read_text())
    }
    assert cited  # the pattern still matches the docs' spelling
    missing = sorted(c for c in cited if not (ROOT / c[1]).is_file())
    assert not missing, missing
