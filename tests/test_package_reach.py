"""Every package module is reached from the KG's entry points.

Walks `import` statements with `ast` (no module is executed, no Spark
session is started) from the four roots the KG is built and served
through, and asserts that each module under `rdf_converter_spark/` is
reached from them or is one of the named exceptions (kept on purpose,
or toolkit modules whose deletion is still queued). A module that
nothing reaches is dead weight for the graph: delete it with its tests,
or add it here with a reason.
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

# Training-data toolkit modules still exercised by driver queries and
# their own tests; ROADMAP item 1 deletes them in a later change.
DEFERRED = {
    "rdf_converter_spark.operators.jpegkit":
        "JPEG codec behind the multimodal decoders",
    "rdf_converter_spark.operators.multimodal":
        "media header decode, resize and frame sampling",
    "rdf_converter_spark.operators.curation":
        "corpus splits, quotas, packing and decontamination",
    "rdf_converter_spark.operators.urlkit":
        "URL canonicalization, imported by curation",
    "rdf_converter_spark.operators.asof":
        "as-of join over event tables",
    "rdf_converter_spark.operators.events":
        "event deltas and point-in-interval joins",
    "rdf_converter_spark.operators.graph":
        "degrees, triangles, PageRank and label propagation over links",
    "rdf_converter_spark.sources.warc":
        "WARC record reader and writer",
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
    unreached = sorted(modules - reached - set(EXCEPTIONS) - set(DEFERRED))
    assert not unreached, (
        f"{len(unreached)} package modules are imported by none of "
        f"{[str(r.relative_to(REPO)) for r in ROOTS]}: {unreached}")
    for name, reason in {**EXCEPTIONS, **DEFERRED}.items():
        assert name in modules, f"{name} ({reason}) no longer exists"
        assert name not in reached, f"{name} is reached; drop its exception"
