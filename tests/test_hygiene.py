"""Suite hygiene checks that need no Spark session."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter


def test_no_module_defines_a_test_function_twice():
    """A second top-level ``def test_x`` in one module silently replaces
    the first, so the first never runs."""
    dupes = {}
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "test_*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        counts = Counter(
            node.name
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_")
        )
        twice = sorted(name for name, n in counts.items() if n > 1)
        if twice:
            dupes[os.path.basename(path)] = twice
    assert not dupes, dupes
