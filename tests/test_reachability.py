"""Package reachability guard: every package module is imported, eagerly or
lazily, from an entry point (the registry, the client, the driver entry,
the benchmarks or the gate scripts), or is listed in ``UNREACHED`` with the
reason it stays. A second check keeps every package import under ``tests/``
resolvable, which ``--collect-only`` cannot see for lazy in-test imports.

Static only: the walk reads source with ``ast``; it imports nothing and
starts no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "convex_batch_processor_spark"

ROOTS = [
    PKG,
    f"{PKG}.queries",
    f"{PKG}.client",
    "__spark_entry__",
    "bench",
    "perfbench.run",
    "tests.oracle_check",
    "tests.determinism_check",
    "tests.scale_check",
    "tests.benchlib",
    "tests.stale_green_check",
]

# Package modules no root reaches, each with the reason it stays. The set is
# exact: a newly unreached module fails the test, and so does deleting a
# listed module without taking it off this list.
_FLOOR = "reached only by its default-tier tests (ROADMAP direction 4)"
UNREACHED = {
    "streaming.cdc": _FLOOR,
    "streaming.verstore": _FLOOR,
    "streaming.joins": _FLOOR,
    "sources.formats": _FLOOR,
    "operators.skew": _FLOOR,
    "plans": "package of plans.explain",
    "plans.explain": "plan-assertion helper for test_plans and test_warehouse_ops",
}


def _file(mod: str) -> Path | None:
    base = REPO.joinpath(*mod.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _imports(mod: str) -> list[tuple[str, list[str]]]:
    """(module, imported names) for every import statement in ``mod``'s
    file, lazy in-function ones included; relative imports resolved."""
    path = _file(mod)
    pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
    out = []
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out.extend((a.name, []) for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = pkg.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            out.append((base, [a.name for a in node.names]))
    return out


def _loaded(name: str) -> list[str]:
    """Repo modules that importing ``name`` loads: it and its parents."""
    parts = name.split(".")
    prefixes = (".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return [m for m in prefixes if _file(m)]


def _closure() -> set[str]:
    seen, todo = set(), list(ROOTS)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        for base, names in _imports(mod):
            # `from pkg import sub` loads pkg.sub when sub is a module
            for name in [base] + [f"{base}.{n}" for n in names]:
                todo.extend(m for m in _loaded(name) if m not in seen)
    return seen


def _package_modules() -> set[str]:
    mods = set()
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        mods.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return mods


def _bound_names(tree: ast.Module) -> set[str]:
    """Names a module binds at its top level."""
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


def test_every_package_module_is_reached_or_listed():
    prefix = f"{PKG}."
    unreached = {
        m.removeprefix(prefix) for m in _package_modules() - _closure()
    }
    assert unreached == set(UNREACHED), (
        f"newly unreached: {sorted(unreached - set(UNREACHED))}; "
        f"listed but reached or gone: {sorted(set(UNREACHED) - unreached)}"
    )


def test_package_imports_under_tests_resolve():
    missing = []
    for path in sorted((REPO / "tests").glob("*.py")):
        mod = f"tests.{path.stem}"
        for base, names in _imports(mod):
            if base != PKG and not base.startswith(f"{PKG}."):
                continue
            target = _file(base)
            if target is None:
                missing.append(f"{path.name}: {base}")
                continue
            bound = _bound_names(_parse(target))
            missing.extend(
                f"{path.name}: {base}.{n}"
                for n in names
                if n != "*" and n not in bound and not _file(f"{base}.{n}")
            )
    assert not missing, missing
