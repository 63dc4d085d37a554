"""Guard for "code that only tests call lives in tests/": every module
under pdf_parser_spark/ must be imported by non-test code (the package
itself, scripts/, bench.py, __spark_entry__.py or perfbench/)."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pdf_parser_spark"


def _module_name(path: str) -> str:
    name = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _production_files() -> list[str]:
    paths = [os.path.join(ROOT, "bench.py"),
             os.path.join(ROOT, "__spark_entry__.py")]
    for top in (PKG, "scripts", "perfbench"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".py") and not f.startswith("test_")]
    return paths


def _imports(path: str) -> set[str]:
    """Dotted names ``path`` imports, relative imports resolved; ``from
    a import b`` yields both ``a`` and ``a.b`` (b may be a submodule)."""
    name = _module_name(path)
    package = (name if path.endswith("__init__.py")
               else name.rpartition(".")[0])
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parent = ".".join(parts[:len(parts) - node.level + 1])
                base = f"{parent}.{base}" if base else parent
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    return found


def test_every_package_module_has_a_production_importer():
    files = _production_files()
    importers: dict[str, set[str]] = {}
    for path in files:
        me = _module_name(path)
        for name in _imports(path):
            parts = name.split(".")
            # a package counts as imported when any submodule is
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix != me:
                    importers.setdefault(prefix, set()).add(me)
    modules = sorted(m for m in map(_module_name, files)
                     if m == PKG or m.startswith(PKG + "."))
    assert len(modules) > 1
    orphans = [m for m in modules if not importers.get(m)]
    assert not orphans, (
        f"imported only by tests; move under tests/: {orphans}")


def _package_calls(names: set[str]) -> list[tuple[str, str, str]]:
    """(callee, module, outermost enclosing function) of every call in
    the package whose callee is named in ``names``."""
    found = []

    def visit(node, module, outer):
        if isinstance(node, ast.Call):
            f = node.func
            callee = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            if callee in names:
                found.append((callee, module, outer))
        if outer == "" and isinstance(node, (ast.FunctionDef,
                                             ast.AsyncFunctionDef)):
            outer = node.name
        for child in ast.iter_child_nodes(node):
            visit(child, module, outer)

    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    visit(ast.parse(fh.read(), path), _module_name(path),
                          "")
    return found


def test_one_python_batch_boundary():
    """Every batch kernel of the package crosses into Python through
    ``map_batches``: it is the only ``mapInArrow`` call, nothing calls
    ``mapInPandas``, and the zip-finder drop lives in ``map_batches``
    and the two pandas UDFs, which are column expressions."""
    calls = _package_calls({"mapInArrow", "mapInPandas",
                            "drop_zip_finders"})
    sites = {name: sorted((m, f) for c, m, f in calls if c == name)
             for name in ("mapInArrow", "mapInPandas", "drop_zip_finders")}
    extraction = f"{PKG}.operators.extraction"
    udfs = f"{PKG}.functions.udfs"
    assert sites == {
        "mapInArrow": [(extraction, "map_batches")],
        "mapInPandas": [],
        "drop_zip_finders": [(udfs, "sha256_udf"),
                             (udfs, "weighted_quality_udaf"),
                             (extraction, "map_batches")],
    }
