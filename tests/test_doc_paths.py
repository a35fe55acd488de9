"""The live docs name only things that exist: every ``scripts_*.py`` and
``tests/*.py`` path cited by README.md and the verify skill must be in
the tree, and every streaming sink name they cite must be exported by
``ralf_spark.streaming``, so deleting a script, a test module or a sink
fails here until its mentions go too. Dated records (BENCH_NOTES.md,
OPTIMIZATION_r*.md, SCALEPROBE.md) keep the names they were written with
and are not checked; SURVEY.md cites the reference repo's ``tests/``
paths."""

from __future__ import annotations

import itertools
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
LIVE_DOCS = ("README.md", ".claude/skills/verify/SKILL.md")
PATH_RE = re.compile(r"\b(?:scripts_\w+\.py|tests/\w+\.py)")
#: an identifier whose parts may be brace alternations, e.g.
#: ``foreach_batch_{hll,kmv}_append``
NAME_RE = re.compile(r"(?:\w|\{[\w,]+\})+")
BRACE_RE = re.compile(r"\{([\w,]+)\}")


def _expand(name: str) -> list[str]:
    """``a_{x,y}_b`` -> ``["a_x_b", "a_y_b"]``; a plain name -> itself."""
    fixed = BRACE_RE.split(name)  # literal, alternation, literal, ...
    choices = [
        part.split(",") if i % 2 else [part] for i, part in enumerate(fixed)
    ]
    return ["".join(p) for p in itertools.product(*choices)]


def _sink_names(text: str) -> set[str]:
    """The streaming sink names cited in ``text``: ``foreach_batch_*``,
    ``*_upsert_batch`` and ``*_log_state``, brace forms expanded. A
    wildcard form such as ``*_log_state`` names no sink."""
    return {
        n
        for token in NAME_RE.findall(text)
        for n in _expand(token)
        if not n.startswith("_")
        and (
            n.startswith("foreach_batch_")
            or n.endswith(("_upsert_batch", "_log_state"))
        )
    }


def test_expand_brace_forms():
    assert _sink_names(
        "`foreach_batch_{hll,kmv}_append`, `*_log_state`, `x_upsert_batch`"
    ) == {
        "foreach_batch_hll_append", "foreach_batch_kmv_append",
        "x_upsert_batch",
    }


def test_live_docs_name_only_exported_sinks():
    import ralf_spark.streaming as streaming

    cited = {
        (doc, name)
        for doc in LIVE_DOCS
        for name in _sink_names((ROOT / doc).read_text())
    }
    assert cited  # the pattern still matches the docs' spelling
    missing = sorted(c for c in cited if c[1] not in streaming.__all__)
    assert not missing, missing


def test_live_docs_name_only_existing_files():
    cited = {
        (doc, path)
        for doc in LIVE_DOCS
        for path in PATH_RE.findall((ROOT / doc).read_text())
    }
    assert cited  # the pattern still matches the docs' spelling
    missing = sorted(c for c in cited if not (ROOT / c[1]).is_file())
    assert not missing, missing
