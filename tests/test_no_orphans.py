"""Orphan guards: every public function and class in the package, and
every UPPER_CASE module constant in the package and ``examples/``, must
be referenced by code outside ``tests/``; every option (defaulted
parameter) of a public package or ``examples/`` function must be set by
some call outside ``tests/``; and no package ``__init__.py`` imports
anything.

Pure ``ast`` over the repository's Python files — no Spark session. A
reference is a ``Name``, an ``Attribute`` or an ``ImportFrom`` alias with
the definition's name. These do not count: anything under ``tests/``
and a name used inside its own definition (recursion). Matching is by
name, so a same-named symbol elsewhere keeps a definition alive; the
guard catches code that nothing reaches, not every dead path.
"""

from __future__ import annotations

import ast
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "flink_streaming_twitter_spark"

EXEMPT = {
    "hash_sample": "reference oracle that tests/test_sampling.py checks weighted_mix against",
    "TAIL_EXEMPTIONS": (
        "rotation declaration of the driver contract; tests/test_entry_contract.py reads it"
    ),
    "DIFF_ANCHOR": (
        "rotation declaration of the driver contract; tests/test_entry_contract.py reads it"
    ),
}

EXEMPT_OPTIONS = {
    "kafka_tweet_stream.starting_offsets": (
        "deployment setting: where a fresh consumer group starts reading the topic"
    ),
    "hash_sample.n_buckets": "part of the sampling oracle that EXEMPT keeps",
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
    """(name, file, first line, last line) of each top-level definition
    the guard checks: public functions and classes of the package, and
    UPPER_CASE constants (a leading underscore included) of the package
    and ``examples/``."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if rel.startswith(f"{PACKAGE}/") and not node.name.startswith("_"):
                out.append((node.name, rel, node.lineno, node.end_lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                (t.id, rel, node.lineno, node.end_lineno)
                for target in targets
                for t in ast.walk(target)
                if isinstance(t, ast.Name) and t.id.isupper()
            ]
    return out


def _references(rel: str, tree: ast.Module) -> list[tuple[str, str, int]]:
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, rel, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, rel, node.lineno))
        elif isinstance(node, ast.ImportFrom):
            refs.extend((a.name, rel, node.lineno) for a in node.names)
    return refs


def test_every_public_package_name_has_a_caller_outside_tests():
    defs, refs = [], []
    for path in _python_files():
        rel = path.relative_to(REPO).as_posix()
        if rel.startswith("tests/"):
            continue
        tree = ast.parse(path.read_text(), filename=rel)
        if rel.startswith((f"{PACKAGE}/", "examples/")):
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
    assert not orphans, "names with no caller outside tests/:\n" + "\n".join(orphans)
    stale = sorted(set(EXEMPT) - set(spans))
    assert not stale, f"exemptions for names that no longer exist: {stale}"


def test_package_init_files_import_nothing():
    """A package ``__init__.py`` that imports re-exports names no caller
    reads (every caller imports the submodule), loads its siblings on any
    import of the package, and hides edges from the rotation check's
    import closure (tests/test_entry_contract.py resolves imports as if
    no ``__init__.py`` had any). So each one is empty, or a docstring and
    plain assignments."""
    inits = sorted((REPO / PACKAGE).rglob("__init__.py"))
    assert inits, "no package __init__.py found"
    importing = sorted(
        f"{path.relative_to(REPO).as_posix()}:{node.lineno}"
        for path in inits
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.Import, ast.ImportFrom))
    )
    assert not importing, "package __init__.py files that import:\n" + "\n".join(importing)


def _options(tree: ast.Module) -> list[tuple[str, str, int | None, int]]:
    """(function, parameter, position or None if keyword-only, line) of
    each defaulted parameter of a public top-level function."""
    out = []
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if node.name.startswith("_"):
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        out += [(node.name, p.arg, i, node.lineno) for i, p in enumerate(positional) if i >= first]
        out += [
            (node.name, p.arg, None, node.lineno)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
    return out


def _calls(tree: ast.Module):
    """(callee name, positional argument count, keyword names) of each call."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            func = node.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            if name:
                yield name, len(node.args), {k.arg for k in node.keywords}


def test_every_option_has_a_caller():
    """An option that no call sets is a constant with extra steps. Only
    calls outside ``tests/`` count, the rule the orphan guard above
    applies to names: a test that pins a variant no job, gate entry,
    tool or benchmark runs keeps a configuration alive for the test
    alone. Options of the package and of ``examples/`` are checked;
    matching is by callee name, like the orphan guard above."""
    options, keywords, positional = [], set(), {}
    for path in _python_files():
        rel = path.relative_to(REPO).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        if rel.startswith((f"{PACKAGE}/", "examples/")):
            options += [(rel, *o) for o in _options(tree)]
        if rel.startswith("tests/"):
            continue
        for name, n_args, kws in _calls(tree):
            keywords.update((name, k) for k in kws)
            positional[name] = max(positional.get(name, 0), n_args)
    assert options, "no package options found"

    unset = sorted(
        f"{rel}:{line} {fn}({param})"
        for rel, fn, param, index, line in options
        if (fn, param) not in keywords
        and not (index is not None and positional.get(fn, 0) > index)
        and f"{fn}.{param}" not in EXEMPT_OPTIONS
    )
    assert not unset, "options that no call sets:\n" + "\n".join(unset)
    stale = sorted(set(EXEMPT_OPTIONS) - {f"{fn}.{param}" for _r, fn, param, _i, _l in options})
    assert not stale, f"option exemptions for parameters that no longer exist: {stale}"


# modules outside the package whose functions perfbench/ drives; each is
# imported from its own directory (perfbench puts both on sys.path)
BENCHMARKED_MODULES = {
    "corpus_prep_app": REPO / "examples",
    "twitter_stream_app": REPO / "examples",
    "bench": REPO,
}


def _benchmark_calls():
    """(file:line, module, name, positional count, keyword names) of each
    call in ``perfbench/*.py`` to a name imported from the package or a
    module of BENCHMARKED_MODULES."""
    for path in sorted((REPO / "perfbench").glob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        imported = {
            a.asname or a.name: (node.module, a.name)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            and node.module
            and (node.module.split(".")[0] == PACKAGE or node.module in BENCHMARKED_MODULES)
            for a in node.names
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                if node.func.id in imported:
                    assert not any(isinstance(a, ast.Starred) for a in node.args)
                    assert all(k.arg for k in node.keywords)
                    yield (
                        f"{rel}:{node.lineno}",
                        *imported[node.func.id],
                        len(node.args),
                        [k.arg for k in node.keywords],
                    )


def test_benchmark_calls_bind_to_current_signatures():
    """Every call the benchmark makes into the package, the two apps and
    ``bench`` must still bind to the callee's signature (positional
    count and keyword names), so removing or renaming an option cannot
    silently break ``perfbench/run.py`` — its ``--trace 1`` path runs
    only under the benchmark. Imports the modules; starts no Spark
    session."""
    import importlib
    import inspect
    import sys

    for directory in {str(d) for d in BENCHMARKED_MODULES.values()}:
        if directory not in sys.path:
            sys.path.insert(0, directory)
    calls = list(_benchmark_calls())
    assert calls, "no benchmark calls into the package found"
    unbound = []
    for where, module, name, n_args, keywords in calls:
        fn = getattr(importlib.import_module(module), name)
        try:
            inspect.signature(fn).bind(*[None] * n_args, **dict.fromkeys(keywords))
        except TypeError as e:
            unbound.append(f"{where} {module}.{name}: {e}")
    assert not unbound, "benchmark calls that no longer bind:\n" + "\n".join(unbound)
