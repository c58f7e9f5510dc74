"""Driver-contract invariants for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows_with_stable_schema(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["w_start", "w_end", "top_event_type", "top_cnt"]
    assert df.count() > 0


def test_every_query_has_oracle_or_is_documented(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 20
    # total oracle coverage (round 3): EVERY queries() entry has a DuckDB
    # twin — a new query without one should fail here, not ship rows-only
    assert set(oracles) == set(qs)
    # every query is callable with (spark, sf_dir)
    for _name, fn in qs.items():
        assert callable(fn)


def test_queries_run_at_smallest_sf(spark, sf_dir):
    # spot-run a representative subset end-to-end at sf0.001
    qs = entry_mod.queries()
    for name in ["qb_trending_single", "tpch_q1_pricing_summary", "dedup_exact", "text_quality"]:
        df = qs[name](spark, sf_dir)
        assert df.count() >= 0  # materializes without error


ENTRY_MODULE_HEAD = [
    "qa_trending_two_stage",
    "qb_trending_single",
    "qc_running_total",
    "qd_counts_per_window",
    "q_json_extract",
    "q_value_by_window",
    "q_tokenize_topk",
    "stream_qb_counts",
    "stream_dedup_keys",
    "stream_qa_trending",
    "stream_interval_pairs",
    "stream_session_counts",
]


def test_rotation_names_fall_inside_gate_window():
    """The driver verifies only the FIRST 50 queries() entries, and the
    window accounting used to be hand-counted comments (ADVICE r3): pin
    that every name the current rotation plan promises to verify —
    the 12 entry-module queries (incl. the 5 streaming drains) plus
    extensions.VERIFIED_WINDOW — actually lands inside the window.
    Adding a query to any family dict can no longer silently push a
    promised entry out of the verified window."""
    from flink_streaming_twitter_spark.plans.extensions import VERIFIED_WINDOW

    window = list(entry_mod.queries().keys())[:50]
    promised = ENTRY_MODULE_HEAD + list(VERIFIED_WINDOW)
    assert len(promised) == 50 == len(set(promised))
    assert window == promised


def _exec_fingerprint(src: str) -> str:
    """A module source's EXECUTABLE shape: the AST dump with docstrings
    stripped and no attribute positions — identical fingerprints mean a
    diff touched only comments/docstrings/formatting, i.e. nothing the
    driver's correctness gate could observe."""
    import ast

    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) and (
            node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        ):
            node.body = node.body[1:] or [ast.Pass()]
    return ast.dump(tree, include_attributes=False)


def test_exec_fingerprint_ignores_docs_but_not_code():
    """The rotation rule's doc-only exclusion rests on this fingerprint:
    comment/docstring/formatting edits must not trip the changed-module
    check (they are gate-invisible), while ANY executable change must."""
    base = "def f(x):\n    '''doc v1'''\n    return x + 1  # note\n"
    doc_edit = "def f(x):\n    '''doc v2, reworded'''\n    # new comment\n    return x + 1\n"
    code_edit = "def f(x):\n    '''doc v1'''\n    return x + 2  # note\n"
    docstring_only_module = '"""module doc"""\n'
    assert _exec_fingerprint(base) == _exec_fingerprint(doc_edit)
    assert _exec_fingerprint(base) != _exec_fingerprint(code_edit)
    # a module whose body is ONLY a docstring must not crash (body
    # becomes a bare pass) and must equal any other doc-only module
    assert _exec_fingerprint(docstring_only_module) == _exec_fingerprint('"""other"""\n')


def _package_import_closure() -> dict[str, set[str]]:
    """module-file -> transitively imported package module-files (paths
    relative to the repo root), by AST over every .py in the package —
    the module→entry mapping the rotation rule needs, derived from the
    code itself instead of maintained by hand."""
    import ast
    import os

    pkg_root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pkg = "flink_streaming_twitter_spark"
    files: dict[str, str] = {}  # dotted module -> repo-relative path
    for dirpath, _dirs, names in os.walk(os.path.join(pkg_root, pkg)):
        for n in names:
            if not n.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, n), pkg_root)
            mod = rel[: -len(".py")].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            files[mod] = rel

    def resolve(importer: str, node) -> list[str]:
        out = []
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == pkg or a.name.startswith(pkg + "."):
                    out.append(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative: from .x / from ..operators import y
                base = importer.split(".")
                # importer is a module; its package is all but the last
                # part. An __init__.py would resolve against its parent
                # instead, but none imports anything
                # (tests/test_no_orphans.py::test_package_init_files_import_nothing)
                base = base[: len(base) - node.level]
                stem = ".".join(base + ([node.module] if node.module else []))
            elif node.module and (
                node.module == pkg or node.module.startswith(pkg + ".")
            ):
                stem = node.module
            else:
                return out
            out.append(stem)
            # `from X import y` where y is itself a submodule
            for a in node.names:
                out.append(f"{stem}.{a.name}")
        return [m for m in out if m in files]

    edges: dict[str, set[str]] = {m: set() for m in files}
    for mod, rel in files.items():
        with open(os.path.join(pkg_root, rel)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                edges[mod].update(resolve(mod, node))

    closure = _transitive_closure(edges)
    return {files[m]: {files[d] for d in closure[m]} for m in files}


def _transitive_closure(edges: dict[str, set[str]]) -> dict[str, set[str]]:
    """Reflexive-transitive closure by ITERATION TO A FIXPOINT, not
    memoized recursion (ADVICE r10): a recursive reach() that caches its
    provisional {mod} set as the cycle guard under-reports closures
    whenever an import cycle appears — in a cycle A<->B, reach(B) is
    computed against the incomplete closure[A]={A} and gets CACHED
    missing A's other transitive deps, so the rotation gate could
    silently miss affected entries. The fixpoint loop is immune to
    cycles by construction (members of a cycle converge to one shared
    complete closure) and trivially cheap at package scale (~40 modules,
    a handful of sweeps)."""
    closure = {m: {m} | edges[m] for m in edges}
    changed = True
    while changed:
        changed = False
        for m in closure:
            new = set().union(*(closure[d] for d in closure[m]))
            if not new <= closure[m]:
                closure[m] |= new
                changed = True
    return closure


def test_import_closure_handles_cycles_completely():
    """The fixpoint property the rotation gate rests on, pinned on a
    synthetic cyclic graph: every member of an import cycle must carry
    the cycle's FULL transitive closure (the memoized-recursion bug gave
    B a cached closure missing A's other deps)."""
    closure = _transitive_closure({"a": {"b"}, "b": {"a", "c"}, "c": set()})
    assert closure["a"] == {"a", "b", "c"}
    assert closure["b"] == {"a", "b", "c"}
    assert closure["c"] == {"c"}
    # diamond + self-loop stay exact, not just cycle-safe
    closure = _transitive_closure({"a": {"b", "c"}, "b": {"d"}, "c": {"d"}, "d": {"d"}})
    assert closure["a"] == {"a", "b", "c", "d"}


def test_changed_modules_are_window_resident_or_exempt():
    """The r9 lesson (VERDICT r9 'What's wrong' #1/#2): the standing
    changed-files-first rotation rule was enforced only by prose, and a
    late-round edit (q_approx_percentiles' coalesce fix) silently shipped
    tail-resident. Now the rule is code: diff the package against
    extensions.DIFF_ANCHOR (the previous round's verdict commit),
    keep only files whose EXECUTABLE AST changed (doc-only edits are
    gate-invisible), map them to queries() entries through the
    transitive import closure of each entry's implementing module, and
    require every affected entry to be in the verified window or in the
    code-level exemptions tuple with a stated reason."""
    import os
    import subprocess

    from flink_streaming_twitter_spark.plans.extensions import (
        DIFF_ANCHOR,
        TAIL_EXEMPTIONS,
        VERIFIED_WINDOW,
    )

    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        # a checkout without history (a `git archive` copy, even one
        # unpacked inside another repo's work tree) has nothing to diff
        # against; inside its own repo the anchor check below holds
        top = subprocess.run(
            ["git", "rev-parse", "--show-toplevel"],
            cwd=repo, capture_output=True, text=True,
        )
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(repo):
            pytest.skip("not a git work tree — diff-based rotation check needs the repo history")
        # the anchor must be a real ancestor — a typo'd/rebased anchor
        # would silently diff against nothing and vacuously pass
        assert (
            subprocess.run(
                ["git", "merge-base", "--is-ancestor", DIFF_ANCHOR, "HEAD"],
                cwd=repo, capture_output=True,
            ).returncode
            == 0
        ), f"DIFF_ANCHOR {DIFF_ANCHOR} is not an ancestor of HEAD"
        changed_files = subprocess.run(
            ["git", "diff", "--name-only", DIFF_ANCHOR, "--",
             "flink_streaming_twitter_spark"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("git/anchor unavailable — diff-based rotation check needs the repo history")

    semantically_changed: set[str] = set()
    for rel in changed_files:
        cur_path = os.path.join(repo, rel)
        if not os.path.exists(cur_path):  # deleted module: treat as changed
            semantically_changed.add(rel)
            continue
        old = subprocess.run(
            ["git", "show", f"{DIFF_ANCHOR}:{rel}"],
            cwd=repo, capture_output=True, text=True,
        )
        if old.returncode != 0:  # new file since the anchor
            semantically_changed.add(rel)
            continue
        with open(cur_path) as f:
            if _exec_fingerprint(old.stdout) != _exec_fingerprint(f.read()):
                semantically_changed.add(rel)

    closure = _package_import_closure()
    affected = set()
    for name, fn in entry_mod.queries().items():
        root = fn.__module__.replace(".", os.sep) + ".py"
        if root not in closure:  # package module (__init__) form
            root = fn.__module__.replace(".", os.sep) + os.sep + "__init__.py"
        if semantically_changed & closure.get(root, {root}):
            affected.add(name)

    window = set(ENTRY_MODULE_HEAD) | set(VERIFIED_WINDOW)
    exempt = {name for name, _reason in TAIL_EXEMPTIONS}
    assert all(reason.strip() for _name, reason in TAIL_EXEMPTIONS)
    assert not (exempt & set(VERIFIED_WINDOW)), "an entry can't be both exempt and in-window"
    assert exempt <= set(entry_mod.queries()), "exemptions must name real queries() entries"
    unaccounted = affected - window - exempt
    assert not unaccounted, (
        f"entries affected by this round's semantic diff but neither "
        f"window-resident nor exempt: {sorted(unaccounted)} "
        f"(changed files: {sorted(semantically_changed)})"
    )
