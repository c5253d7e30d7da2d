"""No module under bioio_spark/ imports a name it never uses. This
stdlib-only AST scan collects every name an ``import`` binds and fails
when its scope never reads it: the module for a module-level import,
the enclosing function for one inside a function.
``__init__.py`` files are exempt (their imports are the package's
re-exports), as are names listed in ``__all__``, ``from __future__``
imports and lines marked ``# noqa``. Names read inside string
annotations count as used."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "bioio_spark")


def _bindings(tree):
    """(name, line, scope) for every name an import statement binds; the
    scope is the innermost function around the import, else the
    module."""
    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Import):
                for a in child.names:
                    yield a.asname or a.name.split(".")[0], \
                        child.lineno, scope
            elif isinstance(child, ast.ImportFrom) and \
                    child.module != "__future__":
                for a in child.names:
                    if a.name != "*":
                        yield a.asname or a.name, child.lineno, scope
            yield from visit(child, child if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope)

    yield from visit(tree, tree)


def _annotation_strings(tree):
    for node in ast.walk(tree):
        anns = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = node.args
            anns = [a.annotation for a in (*args.posonlyargs, *args.args,
                                           *args.kwonlyargs, args.vararg,
                                           args.kwarg) if a is not None]
            anns.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            anns = [node.annotation]
        for ann in anns:
            for sub in ast.walk(ann) if ann is not None else ():
                if isinstance(sub, ast.Constant) and \
                        isinstance(sub.value, str):
                    yield sub.value


def _used(tree):
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for text in _annotation_strings(tree):
        try:
            names |= _used(ast.parse(text, mode="eval"))
        except SyntaxError:
            pass
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets):
            names |= {e.value for e in ast.walk(node.value)
                      if isinstance(e, ast.Constant)}
    return names


def unused_imports(path, root=ROOT):
    """``rel:line: name`` for each unused import binding in ``path``."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    lines = text.splitlines()
    tree = ast.parse(text, filename=path)
    used: dict = {}
    hits = []
    for name, line, scope in _bindings(tree):
        if scope not in used:
            used[scope] = _used(scope)
        if name not in used[scope] and "noqa" not in lines[line - 1]:
            hits.append(f"{os.path.relpath(path, root)}:{line}: {name}")
    return hits


def _modules(top):
    for d, _dirs, files in os.walk(top):
        for f in sorted(files):
            if f.endswith(".py") and f != "__init__.py":
                yield os.path.join(d, f)


def test_no_unused_imports():
    modules = list(_modules(PKG))
    assert len(modules) > 100   # the walk really reached the package
    hits = [h for p in modules for h in unused_imports(p)]
    assert hits == [], "unused imports:\n" + "\n".join(hits)


def test_scan_catches_planted_violations(tmp_path):
    pkg = tmp_path / "bioio_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from os import path\n")
    (pkg / "mod.py").write_text(
        "from __future__ import annotations\n"
        "import os\n"
        "import json as js\n"
        "from typing import Optional, Sequence\n"
        "import numpy.linalg\n"
        "from sys import argv  # noqa\n"
        "from re import compile\n"
        "__all__ = ['compile']\n"
        "def f(x: 'Sequence[int]'):\n"
        "    from glob import glob\n"
        "    import math\n"
        "    return math.pi + numpy.linalg.norm(x)\n"
        "def g():\n"
        "    from math import pi, tau\n"
        "    return tau\n"
        "def h():\n"
        "    return pi\n")
    hits = [h for p in _modules(str(pkg))
            for h in unused_imports(p, root=str(tmp_path))]
    names = sorted(h.rsplit(": ", 1)[1] for h in hits)
    assert names == ["Optional", "glob", "js", "os", "pi"], hits
