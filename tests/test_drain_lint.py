"""Lint-style enforcement that every stream starts in one place.

``streaming/merge.py:drain`` is the only function in the package that
calls ``.writeStream``: it holds each drain's running result in the
call itself, so concurrent drains cannot see each other's state and
every merged micro-batch reaches the inner-plan lint hook.  The
package names no ``global_temp`` view and no streaming ``queryName``:
both are shared by every session on the SparkContext.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "myfitnesspaw_spark")


def _sources():
    for dirpath, _, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def _enclosing_functions(tree: ast.Module) -> dict[int, str]:
    """line number -> name of the outermost function holding that line."""
    owner: dict[int, str] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in ast.walk(node):
                if hasattr(n, "lineno"):
                    owner[n.lineno] = node.name
    return owner


def test_write_stream_only_inside_drain():
    sites = []
    for rel, src in _sources():
        tree = ast.parse(src)
        owner = _enclosing_functions(tree)
        sites += [
            (rel, owner.get(n.lineno))
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "writeStream"
        ]
    assert sites == [("streaming/merge.py", "drain")], (
        f"writeStream outside streaming/merge.py:drain: {sites}; drain the "
        "stream through drain() with a merge instead."
    )


def test_no_global_temp_views_or_query_names():
    banned = ("createOrReplaceGlobalTempView", "global_temp", ".queryName(")
    hits = [
        (rel, word)
        for rel, src in _sources()
        for word in banned
        if word in src
    ]
    assert not hits, (
        f"{hits}: global temp views and query names are shared by every "
        "session on the SparkContext; keep drain state in the call."
    )
