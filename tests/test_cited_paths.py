"""Every repo file a comment, docstring or string in the code names must
exist: a deleted doc, plan dump or script must not leave a citation
behind that sends a reader nowhere. Scans the package, the root harness
scripts and tests/ for ``*.md`` and ``*.py`` names and ``plans/...``
paths; a name resolves when some repo path equals it or ends with it, and
a glob (``*``, ``{a,b}``) when some repo path matches it."""

from __future__ import annotations

import fnmatch
import itertools
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_streams_dexcom_spark"
CITE = re.compile(
    r"(?<![\w./-])((?:[\w*{},.-]+/)*[\w*{},-]+\.(?:md|py)\b"
    r"|plans/[\w*{},./-]+)"
)


def _repo_paths() -> set[str]:
    """Every file and directory under the repo root, relative to it."""
    paths: set[str] = set()
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__"))]
        rel = os.path.relpath(d, ROOT)
        for name in dirs + files:
            paths.add(os.path.normpath(os.path.join(rel, name)))
    return paths


def _sources() -> list[str]:
    roots = [
        os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py")
    ]
    for top in (PACKAGE, "tests"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            roots += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(roots)


def _expand_braces(pattern: str) -> list[str]:
    parts = re.split(r"\{([^{}]*)\}", pattern)
    choices = [
        p.split(",") if i % 2 else [p] for i, p in enumerate(parts)
    ]
    return ["".join(c) for c in itertools.product(*choices)]


def _exists(cited: str, paths: set[str]) -> bool:
    for pattern in _expand_braces(cited):
        if any(
            fnmatch.fnmatchcase(p, pattern)
            or fnmatch.fnmatchcase(p, "*/" + pattern)
            for p in paths
        ):
            return True
    return False


def test_cited_repo_paths_exist():
    paths = _repo_paths()
    missing = []
    for src in _sources():
        with open(src, encoding="utf-8") as f:
            text = f.read()
        for m in CITE.finditer(text):
            cited = m.group(1).rstrip("./")
            if not _exists(cited, paths):
                line = text.count("\n", 0, m.start()) + 1
                missing.append(f"{os.path.relpath(src, ROOT)}:{line}: {cited}")
    assert not missing, "\n".join(missing)
