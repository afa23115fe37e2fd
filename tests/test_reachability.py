"""Package reachability guard: every package module is imported, eagerly or
lazily, from an entry point (the registry, the client, the driver entry,
the benchmarks or the gate scripts), or is listed in ``UNREACHED`` with the
reason it stays. Within the reached modules, every undecorated top-level
function and class is named somewhere in the reached code outside its own
body, or is listed in ``UNREFERENCED`` with the reason it stays. A third
check keeps every package import under ``tests/`` resolvable, which
``--collect-only`` cannot see for lazy in-test imports.

Static only: the walk reads source with ``ast``; it imports nothing and
starts no Spark session.
"""

from __future__ import annotations

import ast
from collections import Counter
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
UNREACHED = {
    "plans": "package of plans.explain",
    "plans.explain": "plan-assertion helper for test_plans and test_warehouse_ops",
}

# Undecorated top-level functions and classes of reached modules that no
# reached code names, each with the reason it stays. Exact, like UNREACHED.
_REFERENCE = "unfused reference that test_multimodal_fused checks the fused decoders against"
UNREFERENCED = {
    "operators.graph.connected_components_star": (
        "drop-in fallback that connected_components' non-convergence error names"
    ),
    **{
        f"llmops.multimodal.{name}": _REFERENCE
        for name in (
            "attach_wav_payload", "decode_audio_features",
            "attach_bmp_payload", "decode_image_features",
            "attach_avi_payload", "decode_video_frames",
            "attach_png_payload", "decode_png_features",
            "attach_gif_payload", "decode_gif_features",
            "attach_warc_payload", "decode_warc_records",
        )
    },
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


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring constants of a module and its defs."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _names(node: ast.AST, docstrings: set[int]) -> Counter:
    """Identifiers ``node`` names: names, attributes, ``from`` imports and
    identifier-shaped string constants (docstrings excluded)."""
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in docstrings
        ):
            out[n.value] += 1
    return out


def test_every_package_function_is_referenced_or_listed():
    trees = {mod: _parse(_file(mod)) for mod in _closure()}
    named = Counter()
    for tree in trees.values():
        named.update(_names(tree, _docstrings(tree)))
    prefix = f"{PKG}."
    unreferenced = set()
    for mod in _package_modules() & trees.keys():
        tree = trees[mod]
        docstrings = _docstrings(tree)
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
                and named[node.name] == _names(node, docstrings)[node.name]
            ):
                unreferenced.add(f"{mod.removeprefix(prefix)}.{node.name}")
    assert unreferenced == set(UNREFERENCED), (
        f"newly unreferenced: {sorted(unreferenced - set(UNREFERENCED))}; "
        f"listed but referenced or gone: {sorted(set(UNREFERENCED) - unreferenced)}"
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
