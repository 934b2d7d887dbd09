"""Every top-level function and class in the package has a caller.

A definition counts as used when its name appears somewhere other than
inside its own body: as a Name, an Attribute, an import alias or a
string holding the bare identifier, in the package, the tests,
``scripts/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``.
An Attribute on a name imported from outside the package (``pq``,
``np``, ``F``, ``os``) is not a use: ``pq.write_table`` does not call
the package's own ``write_table``.
Re-exports in a package ``__init__.py`` are not uses.  Functions
registered with the query decorator ``@q`` are exempt: the registry
reaches them by name.  Pure ``ast`` — no Spark session.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "accelerated_intelligent_document_processing_on_aws_spark"


def _scanned_files():
    for d in (PKG, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench"):
        yield from sorted(d.rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def _external_names(tree):
    """Names ``tree`` binds by importing a module outside the package."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [(a.name, a.asname or a.name.split(".")[0]) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            mods = [(node.module, a.asname or a.name) for a in node.names]
        else:
            continue
        names.update(bound for mod, bound in mods if not mod.startswith(PKG.name))
    return names


def _root_name(node):
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _references(tree, is_init):
    """(name, line) for every reference-like node in ``tree``."""
    external = _external_names(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            if _root_name(node) not in external:
                yield node.attr, node.lineno
        elif isinstance(node, ast.alias) and not is_init:
            yield node.name, node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                yield node.value, node.lineno


def _is_registered(node):
    for dec in node.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "q":
            return True
    return False


def find_uncalled():
    defs = []  # (path, name, first line, last line)
    refs = defaultdict(list)  # name -> [(path, line)]
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, line in _references(tree, path.name == "__init__.py"):
            refs[name].append((path, line))
        if PKG in path.parents:
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not _is_registered(node):
                    defs.append((path, node.name, node.lineno, node.end_lineno))
    uncalled = []
    for path, name, first, last in defs:
        if not any(
            p != path or not first <= line <= last for p, line in refs[name]
        ):
            uncalled.append(f"{path.relative_to(ROOT)}:{first}:{name}")
    return uncalled


def test_every_top_level_definition_is_referenced():
    uncalled = find_uncalled()
    assert not uncalled, "top-level definitions nothing references:\n" + "\n".join(
        uncalled
    )
