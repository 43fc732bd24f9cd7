"""Every top-level definition in the package is reachable from ``ROOTS``.

``ROOTS`` is the one declaration of what the program is: the files and
package names that run it, each with the reason it is kept.  Nodes are
the top-level ``def``s, ``class``es and module-level assignments under
``swingstream/``.  A reached node reaches every node whose name it
references, read from the syntax tree, not the text: ``Name`` and
``Attribute`` nodes, import names, and identifiers inside string
literals that are not docstrings (f-string parts and string keys such
as bench.py's headline list count).  A name that only a comment or a
docstring mentions is not referenced.

``tests/`` are not read, so a definition only a test calls is dead.  A
module-level table (``QUERIES``, ``__all__``) is a node like any other:
its entries live only when something reached names the table.  The
walk imports nothing and needs no Spark.  There is no allowlist beyond
``ROOTS``: an unreached definition is deleted, or joins ``ROOTS`` with
its reason.

Imports are aliases, not nodes, so the walk cannot see an import that
nothing uses; a second check holds every module under ``swingstream/``
and ``tests/`` to referencing each name it imports, by the same rule
(``__future__`` imports excepted).
"""

from __future__ import annotations

import ast
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "swingstream"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)

# (file relative to the checkout, top-level name or None for the whole
# file, reason).  "Aim n" is an aim of ROADMAP.md; "BASELINE" quotes a
# clause of BASELINE.json.
ROOTS = [
    ("__spark_entry__.py", None,
     "driver contract: entry() and the QUERIES/ORACLES tables it returns "
     "(aim 3: the oracle hashes)"),
    ("bench.py", None, "the headline bench (aim 1)"),
    ("perfbench/run.py", None, "the repo's benchmark (aim 1)"),
    ("perfbench/workloads.py", None, "the repo's benchmark (aim 1)"),
    ("perfbench/probes.py", None, "the repo's benchmark (aim 1)"),
    ("perfbench/make_reference.py", None, "the repo's benchmark reference (aim 1)"),
    ("BENCH/scaling.py", None, "the N→4N scaling gate (design-scale posture)"),
    ("swingstream/pydaemon.py", None,
     "Python worker daemon; get_spark starts its __main__ through a conf "
     "string (aim 1)"),
    ("swingstream/session.py", "get_spark", "SKILL.md surface: the session"),
    ("swingstream/streaming/state.py", "run_pipeline_concurrent",
     "SKILL.md surface: the streaming topology (BASELINE: exactly-once "
     "sinks and resume)"),
    ("swingstream/streaming/sessions.py", "run_session_pipeline",
     "SKILL.md surface (BASELINE: session windows)"),
    ("swingstream/streaming/compaction.py", "run_corpus_stream_with_compaction",
     "SKILL.md surface: the curation topology"),
    ("swingstream/streaming/compaction.py", "compact_dedup",
     "SKILL.md surface: curation maintenance pass"),
    ("swingstream/streaming/compaction.py", "compact_strip_lines",
     "SKILL.md surface: curation maintenance pass"),
    ("swingstream/streaming/compaction.py", "compact_window_dedup",
     "SKILL.md surface: curation maintenance pass"),
    ("swingstream/streaming/compaction.py", "compact_small_files",
     "SKILL.md surface: curation maintenance pass"),
    ("swingstream/streaming/join.py", "lagged_pairs_stream",
     "BASELINE: stateful stream-stream self-join"),
    ("swingstream/streaming/join.py", "lagged_pairs_batch",
     "reference the stream-stream self-join is compared against (aim 3)"),
    ("swingstream/extract.py", "extract_udf",
     "reference extract_expr is compared against (aim 3)"),
    ("swingstream/operators/textquality.py", "quality_gate",
     "admission verdict exercising the curation topology's gate_fn "
     "contract"),
    ("swingstream/streaming/pipeline.py", "run_feature_query",
     "test harness running q1 alone, checkpoint resume included (aim 3)"),
    ("swingstream/streaming/state.py", "run_scoring_query",
     "test harness running q2 alone, checkpoint resume included (aim 3)"),
    ("swingstream/plans/explain.py", None,
     "plan-inspection helpers the plan guardrail tests read (aim 1)"),
]


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


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a module-level statement defines as a node (imports are
    aliases, not nodes)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def unreached(root: str, roots) -> list[str]:
    """``file:line::name`` of every package node no entry of ``roots``
    reaches, in the checkout at ``root``."""
    trees: dict[str, ast.Module] = {}
    nodes: dict[str, list[tuple[str, ast.stmt]]] = {}  # name -> [(file, stmt)]
    for rel, tree in _modules(root, PACKAGE):
        trees[rel] = tree
        for stmt in tree.body:
            for name in _defined_names(stmt):
                nodes.setdefault(name, []).append((rel, stmt))

    todo: list[ast.stmt] = []
    for rel, name, _reason in roots:
        body = (trees.get(rel) or _parse(root, rel)).body
        hits = [s for s in body if name is None or name in _defined_names(s)]
        assert hits, f"ROOTS names {rel}::{name}, which is not defined there"
        todo.extend(hits)
    reached: set[int] = set()
    while todo:
        stmt = todo.pop()
        if id(stmt) not in reached:
            reached.add(id(stmt))
            for ref in set(_references(stmt)):
                todo.extend(s for _, s in nodes.get(ref, ()))
    return [
        f"{rel}:{line}::{name}"
        for rel, line, name in sorted(
            (rel, stmt.lineno, name)
            for name, defs in nodes.items()
            for rel, stmt in defs
            if id(stmt) not in reached
        )
    ]


def _parse(root: str, rel: str) -> ast.Module:
    with open(os.path.join(root, rel), encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=rel)


def _modules(root: str, top: str):
    """(path relative to ``root``, syntax tree) of every ``.py`` file
    under ``root/top``."""
    for dirpath, dirs, files in os.walk(os.path.join(root, top)):
        dirs[:] = sorted(d for d in dirs if not d.startswith("."))
        for f in sorted(files):
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                yield rel, _parse(root, rel)


def unused_imports(root: str) -> list[str]:
    """``file:line::name`` of every name a module under ``swingstream/``
    or ``tests/`` imports and never references outside its imports."""
    out = []
    for top in (PACKAGE, "tests"):
        for rel, tree in _modules(root, top):
            imports = [n for n in ast.walk(tree)
                       if isinstance(n, (ast.Import, ast.ImportFrom))]
            bound = [(n.lineno, a.asname or a.name.split(".")[0])
                     for n in imports
                     if getattr(n, "module", None) != "__future__"
                     for a in n.names if a.name != "*"]
            for n in imports:  # binding a name is not a use of it
                n.names = []
            used = set(_references(tree))
            out += [f"{rel}:{line}::{name}" for line, name in bound
                    if name not in used]
    return out


def test_every_top_level_definition_is_referenced():
    dead = unreached(ROOT, ROOTS)
    assert not dead, "definitions no root reaches:\n  " + "\n  ".join(dead)


def test_every_import_is_referenced():
    unused = unused_imports(ROOT)
    assert not unused, "imported, never referenced:\n  " + "\n  ".join(unused)


def _tree(tmp_path, files: dict[str, str]) -> str:
    for rel, src in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(src)
    return str(tmp_path)


_ENTRY = [("main.py", None, "entry")]


@pytest.mark.parametrize("files, dead", [
    pytest.param(
        {"main.py": "from swingstream.mod import used\nused()\n",
         "swingstream/mod.py": "def used():\n    pass\n\n"
                               "def test_only():\n    pass\n",
         "tests/test_mod.py": "from swingstream.mod import test_only\n"
                              "test_only()\n"},
        ["swingstream/mod.py:4::test_only"], id="named-only-by-tests"),
    pytest.param(
        {"main.py": "from swingstream.mod import used\nused()\n",
         "swingstream/mod.py": "__all__ = ['listed']\n\ndef used():\n    pass\n\n"
                               "def listed():\n    pass\n\n"
                               "def tabled():\n    pass\n\n"
                               "TABLE = {'t': tabled}\n"},
        ["swingstream/mod.py:1::__all__", "swingstream/mod.py:6::listed",
         "swingstream/mod.py:9::tabled", "swingstream/mod.py:12::TABLE"],
        id="unrooted-table-and-all"),
    pytest.param(
        {"main.py": "from swingstream.mod import QUERIES\nprint(QUERIES)\n",
         "swingstream/mod.py": "def q1():\n    return _helper()\n\n"
                               "def _helper():\n    return 1\n\n"
                               "QUERIES = {'q1': q1}\n"},
        [], id="rooted-table-keeps-entries"),
    pytest.param(
        {"main.py": "from swingstream.mod import used\nused()\n",
         "swingstream/mod.py": "def used():\n    \"\"\"Unlike ghost().\"\"\"\n\n"
                               "def ghost():\n    pass\n"},
        ["swingstream/mod.py:4::ghost"], id="docstring-is-not-a-reference"),
])
def test_reachability_on_synthetic_tree(tmp_path, files, dead):
    assert unreached(_tree(tmp_path, files), _ENTRY) == dead


@pytest.mark.parametrize("files, unused", [
    pytest.param(
        {"swingstream/mod.py": "from __future__ import annotations\n"
                               "import os\nimport os.path\n"
                               "from a import used, unused\n"
                               "import b as bee\n\n"
                               "print(used, os.path.sep, 'bee')\n",
         "tests/test_mod.py": "def test_x():\n    import json\n"
                              "    import sys\n    return sys\n"},
        ["swingstream/mod.py:4::unused", "tests/test_mod.py:2::json"],
        id="unused-module-and-local-imports"),
    pytest.param(
        {"swingstream/mod.py": "\"\"\"Uses ghost.\"\"\"\nfrom a import ghost\n"},
        ["swingstream/mod.py:2::ghost"], id="docstring-is-not-a-use"),
])
def test_unused_imports_on_synthetic_tree(tmp_path, files, unused):
    assert unused_imports(_tree(tmp_path, files)) == unused
