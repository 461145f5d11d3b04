"""Static checks over the package source (no Spark).

A module that defines the same top-level function or class name twice
keeps only the later definition: every caller that runs after the module
finishes importing gets it, whichever one it meant.  No linter in this
environment reports the rebinding, so the check is an ``ast`` walk.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "national_caseload_data_ingest_spark"


def test_no_module_defines_a_top_level_name_twice():
    dupes = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
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
