"""Every package module is reached by a product path.

A module earns its place through a registry query, a CLI feature or a
package ``__init__``'s re-export.  This walks the static import graph (AST
only, no Spark, no imports executed) from those roots and fails, naming the
module, when some ``tsatool_app_spark`` module is reached by nothing but
tests or scripts.
"""

from __future__ import annotations

import ast
import os

PKG = "tsatool_app_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_modules(root):
    """``{dotted module name: source path}`` for every module of the package."""
    modules = {}
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, PKG)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, root).replace(os.sep, ".")
        for name in filenames:
            if name.endswith(".py"):
                stem = name[:-3]
                dotted = rel if stem == "__init__" else f"{rel}.{stem}"
                modules[dotted] = os.path.join(dirpath, name)
    return modules


def _imports(dotted, path, modules):
    """Package modules that ``dotted`` imports anywhere in its body, with the
    parent packages each import runs."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    is_pkg = os.path.basename(path) == "__init__.py"
    here = dotted if is_pkg else dotted.rpartition(".")[0]
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.append(base)
            # ``from pkg import submodule`` imports the submodule too
            names += [f"{base}.{alias.name}" for alias in node.names]
    out = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                out.add(prefix)
    return out


def unreached_modules(root=ROOT):
    modules = _package_modules(root)
    roots = [m for m, p in modules.items() if p.endswith("__init__.py")]
    roots += [f"{PKG}.plans.driver_queries", f"{PKG}.cli", f"{PKG}.__main__"]
    seen, todo = set(), [m for m in roots if m in modules]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo += _imports(mod, modules[mod], modules) - seen
    return sorted(set(modules) - seen)


def test_every_package_module_is_reached_by_a_product_path():
    assert unreached_modules() == [], (
        "modules no registry query, CLI path or package __init__ imports")
