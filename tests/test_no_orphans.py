"""Orphan guard: every public function and class in the package must be
referenced by code outside ``tests/``.

Pure ``ast`` over the repository's Python files — no Spark session. A
reference is a ``Name``, an ``Attribute`` or an ``ImportFrom`` alias with
the definition's name. These do not count: anything under ``tests/``, the
re-export imports in ``__init__.py`` files, and a name used inside its own
definition (recursion). Matching is by name, so a same-named symbol
elsewhere keeps a definition alive; the guard catches code that nothing
reaches, not every dead path.
"""

from __future__ import annotations

import ast
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "flink_streaming_twitter_spark"

EXEMPT = {
    "hash_sample": "reference oracle that tests/test_sampling.py checks weighted_mix against",
}


def _python_files() -> list[Path]:
    try:
        listed = subprocess.run(
            ["git", "ls-files", "--cached", "--others", "--exclude-standard", "*.py"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        listed = [
            str(p.relative_to(REPO))
            for p in REPO.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        ]
    return [REPO / p for p in listed if (REPO / p).is_file()]


def _definitions(rel: str, tree: ast.Module) -> list[tuple[str, str, int, int]]:
    """(name, file, first line, last line) of each public top-level
    function/class."""
    return [
        (node.name, rel, node.lineno, node.end_lineno)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    ]


def _references(rel: str, tree: ast.Module) -> list[tuple[str, str, int]]:
    is_init = rel.endswith("__init__.py")
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, rel, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, rel, node.lineno))
        elif isinstance(node, ast.ImportFrom) and not is_init:
            refs.extend((a.name, rel, node.lineno) for a in node.names)
    return refs


def test_every_public_package_name_has_a_caller_outside_tests():
    defs, refs = [], []
    for path in _python_files():
        rel = path.relative_to(REPO).as_posix()
        if rel.startswith("tests/"):
            continue
        tree = ast.parse(path.read_text(), filename=rel)
        if rel.startswith(f"{PACKAGE}/"):
            defs.extend(_definitions(rel, tree))
        refs.extend(_references(rel, tree))
    assert defs, "no package definitions found"

    spans: dict[str, list[tuple[str, int, int]]] = {}
    for name, rel, first, last in defs:
        spans.setdefault(name, []).append((rel, first, last))
    used = {
        name
        for name, rel, line in refs
        if name in spans
        and not any(rel == r and first <= line <= last for r, first, last in spans[name])
    }
    orphans = sorted(
        f"{rel}:{first} {name}"
        for name, rel, first, _last in defs
        if name not in used and name not in EXEMPT
    )
    assert not orphans, "public names with no caller outside tests/:\n" + "\n".join(orphans)
    stale = sorted(set(EXEMPT) - set(spans))
    assert not stale, f"exemptions for names that no longer exist: {stale}"
