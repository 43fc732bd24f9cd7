"""No unreferenced top-level functions or classes in the package.

Every top-level ``def`` and ``class`` under ``swingstream/`` must be named
somewhere in the checkout's ``.py`` files besides its own definition —
code, a test, a string key or a docstring all count.  The scan is a plain
identifier count (no imports, no Spark), skipping ``plans/`` (frozen
query-plan history) and hidden directories.  There is no allowlist: a
function nobody names is deleted, not excused.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "swingstream")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(top: str):
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and not (dirpath == ROOT and d == "plans")
        )
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_every_top_level_definition_is_referenced():
    sources = {}
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as fh:
            sources[path] = fh.read()

    defined: Counter = Counter()
    where: dict[str, str] = {}
    for path, text in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in ast.parse(text, filename=path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defined[node.name] += 1
                where[node.name] = f"{os.path.relpath(path, ROOT)}:{node.lineno}"

    seen = Counter(m for text in sources.values() for m in _IDENT.findall(text))
    dead = sorted(
        f"{where[name]}::{name}"
        for name, n_defs in defined.items()
        if seen[name] <= n_defs
    )
    assert not dead, "unreferenced top-level definitions:\n  " + "\n  ".join(dead)
