"""Every package module is reached from the KG's entry points, and
reads every name it imports.

Walks `import` statements with `ast` (no module is executed, no Spark
session is started) from the four roots the KG is built and served
through, and asserts that each module under `rdf_converter_spark/` is
reached from them or is one of the named exceptions, each kept on
purpose with its reason. A module that nothing reaches is dead weight
for the graph: delete it with its tests, or add it here with a reason.
Likewise an imported name that its module never reads is a dead
import: delete it.
"""
from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "rdf_converter_spark"

ROOTS = (
    REPO / "job.py",
    REPO / "convert.py",
    REPO / PKG / "graph.py",
    REPO / PKG / "streaming" / "incremental.py",
)

EXCEPTIONS = {
    "rdf_converter_spark.operators.salt":
        "salted repartitioning for skewed keys, named by the north star",
    "rdf_converter_spark.operators.linker":
        "entity linking via a broadcast alias table, named by the north star",
    "rdf_converter_spark.sources.extract":
        "HTML-to-text extraction over web pages, named by the north star",
    "rdf_converter_spark.operators.r2rml":
        "R2RML mapping engine, the model for writing emission as data",
}

def _module_files() -> dict:
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _imports(name: str, path: Path, modules: dict) -> set:
    """Package modules that `path` (module `name`) imports, anywhere in
    its body, including the parent packages each import executes."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules:
                    found.add(prefix)
    return found


def reached_modules() -> set:
    modules = _module_files()
    todo = []
    for root in ROOTS:
        parts = root.relative_to(REPO).with_suffix("").parts
        name = ".".join(parts)
        # a root inside the package runs its parent packages too
        todo += [".".join(parts[:i]) for i in range(1, len(parts) + 1)
                 if ".".join(parts[:i]) in modules]
        todo += _imports(name, root, modules)
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo += _imports(name, modules[name], modules) - seen
    return seen


def test_every_package_module_is_reached_from_the_kg():
    modules = set(_module_files())
    reached = reached_modules()
    unreached = sorted(modules - reached - set(EXCEPTIONS))
    assert not unreached, (
        f"{len(unreached)} package modules are imported by none of "
        f"{[str(r.relative_to(REPO)) for r in ROOTS]}: {unreached}")
    for name, reason in EXCEPTIONS.items():
        assert name in modules, f"{name} ({reason}) no longer exists"
        assert name not in reached, f"{name} is reached; drop its exception"


def _unread_imports(path: Path) -> list:
    """Names the module at `path` binds by `import` but never reads."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound |= {a.asname or a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound |= {a.asname or a.name for a in node.names}
    read = {n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    return sorted(bound - read)


def test_no_package_module_imports_a_name_it_never_reads():
    # a package's __init__ re-exports what it imports
    unread = {name: names for name, path in _module_files().items()
              if path.name != "__init__.py"
              for names in [_unread_imports(path)] if names}
    assert not unread, f"imported but never read: {unread}"
