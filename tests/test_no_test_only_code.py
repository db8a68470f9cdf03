"""No package code that only its tests call.

Every top-level def, class and constant of the package must be reachable
by name from a non-test entry point: the jobs, the oracle harness, the
two benches and the repo benchmark. The scan reads the AST only (no
Spark, no imports). A name counts as referenced wherever reachable code
spells it, as an identifier or an attribute, so the scan over-approximates
reachability: what it reports unreachable has no caller outside the tests.
Import statements are not references; `import x as y` makes a `y` count
as an `x`.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "timezone_boundary_builder_spark"
ENTRY_POINTS = [
    *sorted((REPO / "jobs").glob("*.py")),
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
    *sorted(p for p in (REPO / "perfbench").glob("*.py") if not p.name.startswith("test_")),
]

# Unreachable on purpose: name -> why it stays.
ALLOWED = {
    "__all__": "export lists, read by star imports and tools, not by name",
    "__version__": "package metadata",
    "MAX_RES": "documents the finest resolution the 64-bit cell id layout holds",
    "MemoryConditionalPutBackend": "an in-memory fake that stands in for an object store",
    "RELATION_GOLDEN": "fixture data",
    "SOURCE_UNION_GOLDEN": "fixture data",
}


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _spelled(node: ast.AST) -> set:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _top_level_names(stmt: ast.stmt) -> list:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def unreachable() -> dict:
    """{name: [module, ...]} of the package's top-level names that no
    entry point reaches, directly or through reachable package code."""
    trees = {p: _parse(p) for p in sorted(PACKAGE.rglob("*.py"))}
    entries = [_parse(p) for p in ENTRY_POINTS]
    alias = {
        a.asname: a.name.split(".")[-1]
        for t in [*trees.values(), *entries]
        for n in ast.walk(t)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }

    defs, where, roots = {}, {}, set()
    for path, tree in trees.items():
        for stmt in tree.body:
            names = _top_level_names(stmt)
            for name in names:
                defs.setdefault(name, []).append(stmt)
                where.setdefault(name, []).append(str(path.relative_to(REPO)))
            if not names:  # module-level code runs on import
                roots |= _spelled(stmt)
    for tree in entries:
        roots |= _spelled(tree)

    reached, pending = set(), {alias.get(n, n) for n in roots}
    while pending:
        name = pending.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for stmt in defs[name]:
            pending |= {alias.get(n, n) for n in _spelled(stmt)} - reached
    return {n: where[n] for n in sorted(set(defs) - reached)}


def test_every_package_name_is_reachable_from_an_entry_point():
    found = unreachable()
    test_only = {n: m for n, m in found.items() if n not in ALLOWED}
    assert not test_only, (
        "package code no job, query or bench reaches (delete it, or move a "
        f"test-only reference into tests/): {test_only}"
    )
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"allowlisted names that are now reachable: {stale}"
