"""Static checks over the package source (no Spark).

A module that defines the same top-level function or class name twice
keeps only the later definition: every caller that runs after the module
finishes importing gets it, whichever one it meant.  A top-level
function or class that no code references, or a module-level constant
that no code reads, is dead weight that still reads as a live plan.  No
linter in this environment reports these, so the checks are ``ast``
walks.
"""

from __future__ import annotations

import ast
import importlib
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "national_caseload_data_ingest_spark"
# The modules that carry the paper's ingest and query path.
PAPER_SURFACE = (
    "session", "catalog", "query", "sources.data_zip", "sources.fixedwidth",
    "sources.schemas", "sources.globals", "sources.listing",
)


def _parsed(root: Path):
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).parts
        if any(p.startswith(".") or p == "__pycache__" for p in parts):
            continue
        yield path, ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def test_no_module_defines_a_top_level_name_twice():
    dupes = {}
    for path, tree in _parsed(PACKAGE):
        counts = Counter(
            node.name
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        )
        twice = sorted(name for name, n in counts.items() if n > 1)
        if twice:
            dupes[str(path.relative_to(PACKAGE))] = twice
    assert not dupes, dupes


def _named(tree: ast.AST) -> set[str]:
    """Every name the code of ``tree`` uses: a ``Name``, an ``Attribute``
    or an import alias."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_undecorated_top_level_def_is_referenced():
    """Each top-level function or class in the package is named by code
    somewhere in the repo: a ``Name``, an ``Attribute`` or an import
    alias.  A mention in a docstring or comment does not count.  A public
    decorated def is exempt: ``@query`` registers it in ``QUERIES``,
    which callers reach by name."""
    referenced = set()
    defined = {}
    for path, tree in _parsed(REPO):
        referenced |= _named(tree)
        if PACKAGE in path.parents:
            defined[str(path.relative_to(PACKAGE))] = [
                node.name
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and (node.name.startswith("_") or not node.decorator_list)
                and not node.name.startswith("__")
            ]
    unreferenced = {
        module: sorted(set(names) - referenced)
        for module, names in defined.items()
        if set(names) - referenced
    }
    assert not unreferenced, unreferenced


def test_paper_surface_api_is_used_outside_tests():
    """Each top-level def and class of the paper-surface modules, and each
    method of their classes, is named by code outside ``tests/``: the
    package, the entry scripts, ``perfbench/`` or ``tools/``.  API that
    only tests call is a second way to do what production does another
    way.  Dunder methods and methods that override a base class's
    (``_ZipLinkParser.handle_starttag``) are called by the base class and
    are exempt.

    The check goes by name, so a method that shares its name with any
    attribute used elsewhere passes it: a ``SparkCatalog.table`` that only
    tests called would hide behind every ``spark.table`` call.
    """
    used = set()
    for path, tree in _parsed(REPO):
        if REPO / "tests" not in path.parents:
            used |= _named(tree)
    unused = {}
    for name in PAPER_SURFACE:
        module = importlib.import_module(f"{PACKAGE.name}.{name}")
        tree = ast.parse(Path(module.__file__).read_text(encoding="utf-8"))
        defs = []
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            defs.append(node.name)
            if isinstance(node, ast.ClassDef):
                bases = getattr(module, node.name).__mro__[1:]
                defs += [
                    item.name
                    for item in node.body
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not item.name.startswith("__")
                    and not any(hasattr(base, item.name) for base in bases)
                ]
        if set(defs) - used:
            unused[name] = sorted(set(defs) - used)
    assert not unused, unused


def _is_constant_name(name: str) -> bool:
    bare = name.lstrip("_")
    return bool(bare) and bare[0].isalpha() and bare == bare.upper()


def test_every_module_level_constant_is_read():
    """Each module-level UPPER_CASE constant in the package is read by
    code somewhere in the repo: a ``Name`` or ``Attribute`` load or an
    import alias.  Assigning it does not count, nor does a mention in a
    docstring or comment."""
    read = set()
    defined = {}
    for path, tree in _parsed(REPO):
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(
                node.ctx, ast.Store
            ):
                read.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(
                node.ctx, ast.Load
            ):
                read.add(node.attr)
            elif isinstance(node, ast.alias):
                read.add(node.name.rsplit(".", 1)[-1])
        if PACKAGE in path.parents:
            names = []
            for node in tree.body:
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target] if isinstance(node, ast.AnnAssign)
                    else []
                )
                for target in targets:
                    for leaf in ast.walk(target):
                        if isinstance(leaf, ast.Name) and _is_constant_name(
                            leaf.id
                        ):
                            names.append(leaf.id)
            defined[str(path.relative_to(PACKAGE))] = names
    unread = {
        module: sorted(set(names) - read)
        for module, names in defined.items()
        if set(names) - read
    }
    assert not unread, unread
