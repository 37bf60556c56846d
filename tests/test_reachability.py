"""Every top-level package def and name binding is reached from a user
path, not only from tests.

An AST scan, Spark-free. The defs are the package's top-level functions,
classes and simple name bindings (``X = ...``, ``X: T = ...``, ``a, b =
...``). The roots are the package's other module-level code (a binding's
value runs on import, so it counts), ``bench.py``, ``__spark_entry__.py``,
``perfbench/`` and ``scripts/``, plus ``KEEP`` below. From the roots,
each reached def adds the names its body uses, until nothing new is
reached. Names are matched by identifier (``Name`` ids and ``Attribute``
attrs), so a comment or a docstring that mentions a def does not reach
it, and neither does an import that nothing uses.

A def this test reports is reachable only from ``tests/``: delete it
with the tests whose only subject it is, or wire it into a user path.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "cloud_based_bi_etl_automation_for_real_estate_company_spark"

# Paper-path entry points that a deployment calls and no script runs yet.
KEEP = {
    "fetch_paginated": "REST backfill of the reference's CRM API pages",
    "with_retries": "retry wrapper for the REST backfill",
    "ingest_batch": "batch webhook ingest (the reference's webhook_app insert)",
    "route_events": "routing sink of the webhook events",
    "quarantine": "quarantine sink for malformed webhook bodies",
    "write_jdbc": "the reference's SQL sink",
    "bulk_load_csv": "the reference's CSV bulk load",
    "incremental_sync": "incremental lead-state sync",
    "run_backfill_merge": "backfill job: REST pages merged into silver",
    "streaming_lead_state": "streaming lead-state machine",
    "goal_progress": "gold A5 goal gauge (the reference's META dashboards)",
    # one compaction verb per store family of operators/stores.py, run
    # in a deployment's quiet window
    "compact_bm25_store": "BM25/MLT postings compaction",
    "compact_minhash_store": "minhash signature store compaction",
    "compact_paragraph_store": "paragraph-hash store compaction",
    "compact_soft_store": "soft-dedup store compaction and relabel",
    "compact_ks_store": "KS/W1 centroid store compaction",
}


def _names(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out


def _bound(stmt: ast.stmt) -> list[str]:
    """The names a top-level simple binding defines ([] for any other
    statement, and for dunders, which the import system reads)."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return [n for n in names if not n.startswith("__")]


def _defs(tree: ast.Module) -> list[tuple[str, ast.stmt]]:
    """(name, statement) of every top-level def, class and binding."""
    out = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((stmt.name, stmt))
        out += [(name, stmt) for name in _bound(stmt)]
    return out


def _module_level(tree: ast.Module) -> list[ast.AST]:
    """Statements that run on import, minus imports, def bodies and the
    names a binding defines (a def's decorators and defaults and a
    binding's value run on import, so they count)."""
    out: list[ast.AST] = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out += stmt.decorator_list + stmt.args.defaults
            out += [d for d in stmt.args.kw_defaults if d is not None]
        elif isinstance(stmt, ast.ClassDef):
            out += stmt.decorator_list + stmt.bases
        elif _bound(stmt):
            out += [stmt.value] if stmt.value is not None else []
        else:
            out.append(stmt)
    return out


def _reach(keep) -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """Every top-level package def by name, and the names reached from
    the user-path roots plus ``keep``."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set(keep)
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = str(path.relative_to(ROOT))
        for name, stmt in _defs(tree):
            defs.setdefault(name, []).append((rel, stmt))
        roots |= _names(_module_level(tree))
    entry_files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    entry_files += sorted((ROOT / "perfbench").glob("*.py"))
    entry_files += sorted((ROOT / "scripts").glob("*.py"))
    for path in entry_files:
        tree = ast.parse(path.read_text(), str(path))
        roots |= _names(
            [s for s in tree.body if not isinstance(s, (ast.Import, ast.ImportFrom))]
        )

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo += [n for n in _names([node]) if n in defs and n not in reached]
    return defs, reached


def unreached() -> list[tuple[str, str, int]]:
    """(module path, def name, line count) of every top-level package def
    or binding that no root reaches."""
    defs, reached = _reach(KEEP)
    return sorted(
        (rel, name, node.end_lineno - node.lineno + 1)
        for name, found in defs.items()
        if name not in reached
        for rel, node in found
    )


def test_every_package_def_is_reached_from_a_user_path():
    dead = unreached()
    listing = "\n".join(f"  {rel}: {name} ({n} lines)" for rel, name, n in dead)
    assert not dead, f"{len(dead)} package names reachable only from tests:\n{listing}"


def test_keep_list_names_existing_defs():
    names = {
        name
        for path in PKG.rglob("*.py")
        for name, _ in _defs(ast.parse(path.read_text()))
    }
    assert set(KEEP) <= names, sorted(set(KEEP) - names)


def test_keep_list_entries_are_otherwise_unreached():
    """A KEEP entry that a user path reaches shields nothing: drop it."""
    _, reached = _reach(())
    assert not set(KEEP) & reached, sorted(set(KEEP) & reached)


if __name__ == "__main__":
    dead = unreached()
    for rel, name, n in dead:
        print(f"{rel}: {name} ({n})")
    print(len(dead), "names,", sum(n for *_, n in dead), "lines")
