"""Every top-level function and class of the package is defined once.

A second ``def`` of the same name silently replaces the first, so a
reader who finds one definition may be reading dead code."""

import ast
from collections import Counter
from pathlib import Path

import mobilitydb_spark

PKG = Path(mobilitydb_spark.__file__).parent


def test_no_top_level_name_is_defined_twice():
    twice = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        names = Counter(
            n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)))
        for name, k in names.items():
            if k > 1:
                twice[f"{path.relative_to(PKG.parent)}::{name}"] = k
    assert not twice, f"defined more than once: {twice}"
