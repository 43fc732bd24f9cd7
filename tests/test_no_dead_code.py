"""No unreferenced top-level functions or classes in the package.

Every top-level ``def`` and ``class`` under ``swingstream/`` must be
referenced somewhere in the checkout's ``.py`` files besides its own
definition.  References are read from the syntax tree, not the text:
``Name`` and ``Attribute`` nodes, import names, and identifiers inside
string literals that are not docstrings (f-string parts and string keys
such as bench.py's headline list count).  A name that only a comment or
a docstring mentions is not referenced.  The scan imports nothing and
needs no Spark; it skips ``plans/`` (frozen query-plan history) and
hidden directories.  There is no allowlist: a function nobody
references is deleted, not excused.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "swingstream")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _py_files(top: str):
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and not (dirpath == ROOT and d == "plans")
        )
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _references(tree: ast.AST):
    """Every identifier ``tree`` references in code or a non-docstring
    string literal."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, _SCOPES)
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings):
            yield from _IDENT.findall(node.value)


def test_every_top_level_definition_is_referenced():
    trees = {}
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), filename=path)

    where: dict[str, str] = {}
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                where[node.name] = f"{os.path.relpath(path, ROOT)}:{node.lineno}"

    seen = Counter(name for tree in trees.values() for name in _references(tree))
    dead = sorted(f"{loc}::{name}" for name, loc in where.items() if not seen[name])
    assert not dead, "unreferenced top-level definitions:\n  " + "\n  ".join(dead)
