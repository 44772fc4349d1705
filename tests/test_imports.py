"""Every name a product module imports is used in that module.

An AST scan of ``apitap_spark/**/*.py``: an ``import`` binding that no
expression, annotation (string annotations included) or ``__all__``
entry of the module reads fails the test. Package ``__init__.py`` files
re-export by design and are skipped; a line marked ``# noqa: F401``
keeps its import on purpose (an import for its side effect).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "apitap_spark")


def _imported(tree: ast.Module, lines: list[str]) -> dict[str, int]:
    """Bound name -> line of every import the scan holds the module to."""
    names: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            if alias.name == "*":
                continue
            name = alias.asname or alias.name.split(".")[0]
            names.setdefault(name, node.lineno)
    return names


def _used(tree: ast.Module) -> set[str]:
    """Names the module reads: loaded names, attribute roots, string
    annotations and ``__all__`` entries."""
    used: set[str] = set()

    def walk(root: ast.AST) -> None:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                used.add(node.id)
            annotations = []
            if isinstance(node, ast.arg) or isinstance(node, ast.AnnAssign):
                annotations.append(node.annotation)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                annotations.append(node.returns)
            for ann in annotations:
                if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                    walk(ast.parse(ann.value, mode="eval"))
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))
            ):
                used.update(
                    e.value for e in node.value.elts if isinstance(e, ast.Constant)
                )

    walk(tree)
    return used


def unused_imports(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        source = fh.read()
    tree = ast.parse(source, filename=path)
    used = _used(tree)
    return [
        f"{os.path.relpath(path, os.path.dirname(PKG))}:{line}: {name}"
        for name, line in sorted(_imported(tree, source.splitlines()).items())
        if name not in used
    ]


def test_product_modules_use_every_import():
    found = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py") and f != "__init__.py":
                found += unused_imports(os.path.join(root, f))
    assert not found, "unused imports:\n" + "\n".join(found)


def test_scan_sees_an_unused_import(tmp_path):
    """The scan itself: an unused import is reported; a used one, a name
    read only in a string annotation, an ``__all__`` entry and a
    ``# noqa: F401`` line are not."""
    mod = tmp_path / "m.py"
    mod.write_text(
        "import os\n"
        "import json\n"
        "import re  # noqa: F401\n"
        "from typing import Any, Iterable\n"
        "from x import y\n"
        "__all__ = ['y']\n"
        "def f(a: 'Iterable[int]'):\n"
        "    return json.dumps(a)\n"
    )
    assert [e.split(": ")[1] for e in unused_imports(str(mod))] == ["Any", "os"]
