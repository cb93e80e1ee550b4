"""The staged-append exactly-once protocol is written once.

A static check over the package source (no Spark session): the calls
that make up the protocol — marking a batch applied, recovering a
crashed publish and reading a batch's published output back — appear
only in ``streaming/markers.py`` (whose ``staged_applier`` runs them
for every staged-append tier) and in the three stores that commit by
switching a version pointer instead. A tier that wrote the protocol
out by hand again would show up here.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "node_js_etl_processor_spark",
)
PROTOCOL = {"mark_batch_applied", "recover_partial", "read_batch_output"}
ALLOWED = {
    os.path.join("streaming", "markers.py"),
    os.path.join("sources", "partials_store.py"),
    os.path.join("streaming", "sketches.py"),
    os.path.join("streaming", "warehouse.py"),
}


def _protocol_calls():
    for root, _, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            rel = os.path.relpath(path, PKG)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                name = func.id if isinstance(func, ast.Name) else getattr(
                    func, "attr", None
                )
                if name in PROTOCOL:
                    yield rel, node.lineno, name


def test_staged_protocol_is_called_only_by_the_shared_applier():
    calls = list(_protocol_calls())
    stray = [f"{rel}:{line} {name}" for rel, line, name in calls if rel not in ALLOWED]
    assert not stray, f"exactly-once protocol written outside markers.py: {stray}"
    # the check is live: the shared applier itself makes all three calls
    in_markers = {
        name for rel, _, name in calls if rel == os.path.join("streaming", "markers.py")
    }
    assert in_markers == PROTOCOL
