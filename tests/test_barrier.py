"""Every plan cut goes through ``functions/barrier.py::cut``.

A static check over the package source (no Spark session): the cut
policy lives in one module, and each call site carries a distinct
literal name, so a test can leave one chosen cut out by name.
"""

from __future__ import annotations

import ast
import collections
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "node_js_etl_processor_spark",
)
BARRIER = os.path.join("functions", "barrier.py")


def _calls():
    for root, _, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            rel = os.path.relpath(path, PKG)
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and isinstance(
                    node.func, ast.Attribute
                ):
                    yield rel, node


def test_every_plan_cut_goes_through_barrier_cut():
    stray = [
        f"{rel}:{node.lineno}"
        for rel, node in _calls()
        if node.func.attr == "localCheckpoint" and rel != BARRIER
    ]
    assert not stray, f"localCheckpoint outside {BARRIER}: {stray}"

    names = collections.Counter()
    unnamed = []
    for rel, node in _calls():
        func = node.func
        if not (
            func.attr == "cut"
            and isinstance(func.value, ast.Name)
            and func.value.id == "barrier"
        ):
            continue
        name = node.args[1] if len(node.args) == 2 else None
        if isinstance(name, ast.Constant) and isinstance(name.value, str):
            names[name.value] += 1
        else:
            unnamed.append(f"{rel}:{node.lineno}")
    assert not unnamed, f"barrier.cut without a string-literal name: {unnamed}"
    assert names, "no barrier.cut call found"
    shared = sorted(n for n, k in names.items() if k > 1)
    assert not shared, f"barrier.cut names used more than once: {shared}"
