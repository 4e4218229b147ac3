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


def test_equal_oracles_share_one_string():
    """Plans whose oracle SQL is the same text (whitespace aside) hold
    one string object, so a serving-layout variant cannot drift from
    its base plan's result contract."""
    from gmall_realtime2021_spark.plans import get_plans

    first: dict[str, tuple[str, str]] = {}
    apart = []
    for name, plan in sorted(get_plans().items()):
        if plan.oracle is None:
            continue
        base, oracle = first.setdefault(" ".join(plan.oracle.split()), (name, plan.oracle))
        if oracle is not plan.oracle:
            apart.append((base, name))
    assert not apart, apart


def test_warehouse_commits_and_bucketed_writes_have_one_call_site():
    """``sources/warehouse.py`` flips a layout family's manifest only in
    its commit helper and writes bucketed files only in its one
    bucketed writer, so the generation-commit sequence (lock, name,
    sweep, write, carry over, flip, GC) cannot be copied out again."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "gmall_realtime2021_spark", "sources", "warehouse.py"
    )
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    calls = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            calls[f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)] += 1
    assert calls["_flip_manifest"] == 1, calls["_flip_manifest"]
    assert calls["bucketBy"] == 1, calls["bucketBy"]


def _is_f_call(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def test_engine_builds_no_literal_array_one_lit_at_a_time():
    """``F.array(*[F.lit(x) for x in ...])`` costs one py4j round trip
    per element at plan build. Constant vectors render as one SQL
    string (``functions/vectors.lit_array``); index arrays are
    ``F.sequence``."""
    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "gmall_realtime2021_spark")
    sites = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if _is_f_call(node, "array") and any(
                isinstance(a, ast.Starred)
                and isinstance(a.value, (ast.ListComp, ast.GeneratorExp))
                and _is_f_call(a.value.elt, "lit")
                for a in node.args
            ):
                sites.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert not sites, sites


def test_streaming_writers_share_one_replay_guard_and_one_merge_swap():
    """Exactly-once sinks keep one commit path each: (a) only
    ``sources/warehouse.replay_guard`` names the ``_last_batch`` marker
    (no other module reads or writes it); (b) nothing under
    ``sources/`` imports the streaming layer above it; (c) the sinks
    write tables straight from the executors — the only driver-side
    ``collect()`` in ``streaming/sinks.py`` is payment_enrich's one-row
    span."""
    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "gmall_realtime2021_spark")
    marker_sites, upward = [], []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Constant) and node.value == "_last_batch":
                    marker_sites.append(f"{rel}::{fn.name}")
        if rel.startswith("sources" + os.sep):
            for node in ast.walk(tree):
                names = (
                    [node.module or ""]
                    if isinstance(node, ast.ImportFrom)
                    else [a.name for a in node.names] if isinstance(node, ast.Import) else []
                )
                upward += [f"{rel}:{node.lineno}" for n in names if n.startswith("gmall_realtime2021_spark.streaming")]
        if rel == os.path.join("streaming", "sinks.py"):
            collects = [
                fn.name
                for fn in tree.body
                if isinstance(fn, ast.FunctionDef)
                for node in ast.walk(fn)
                if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "collect"
            ]
    assert sorted(set(marker_sites)) == [os.path.join("sources", "warehouse.py") + "::replay_guard"], marker_sites
    assert not upward, upward
    assert collects == ["payment_enrich_upsert_batch"], collects
