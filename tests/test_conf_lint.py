"""Lint-style enforcement of aim 3's shared-session rule: query code
must not change session conf, because every thread using the session
reads it.  Each file that still calls ``.conf.set`` / ``.conf.unset``
is allowlisted below with its site count and what it mutates; a new
call anywhere under ``myfitnesspaw_spark/`` fails this test.  The list
may only shrink: a file whose calls are removed must be pruned, a count
that falls must be lowered, and ``operators/`` is never allowed back.
The ``streaming/rollup.py`` sites configure the fresh child session that
``stream_session`` returns, which no other caller reads.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "myfitnesspaw_spark")

# relative file -> (n_sites, what it mutates)
ALLOWED = {
    "sources/tables.py": (2, "ROADMAP item 6: re-pins nanosAsLong and session.timeZone at read time"),
    "streaming/rollup.py": (3, "child session created by `stream_session`, never the caller's"),
}


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _is_conf_mutation(n: ast.AST) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("set", "unset")
        and isinstance(n.func.value, ast.Attribute)
        and n.func.value.attr == "conf"
    )


def _conf_mutations() -> dict[str, list[int]]:
    """relative file -> line numbers of every ``<x>.conf.set(...)`` /
    ``<x>.conf.unset(...)`` call in the package."""
    sites: dict[str, list[int]] = {}
    for dirpath, _, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            for n in ast.walk(_parse(path)):
                if _is_conf_mutation(n):
                    sites.setdefault(rel, []).append(n.lineno)
    return sites


def test_operators_never_mutate_session_conf():
    assert not [f for f in ALLOWED if f.startswith("operators/")]
    assert not [f for f in _conf_mutations() if f.startswith("operators/")]


def test_conf_mutations_are_allowlisted_and_only_shrink():
    sites = _conf_mutations()
    extra = {f: lines for f, lines in sites.items() if f not in ALLOWED}
    assert not extra, (
        f"New session conf mutation(s) {extra}: query code must not change conf "
        "other threads read; set fixed settings in session.get_spark or use a "
        "write option / a child session instead."
    )
    changed = {
        f: (len(lines), ALLOWED[f][0])
        for f, lines in sites.items()
        if len(lines) != ALLOWED[f][0]
    }
    assert not changed, (
        f"Conf mutation count changed (got, allowed): {changed} — a count may only "
        "fall, and ALLOWED is lowered with it."
    )
    gone = sorted(set(ALLOWED) - set(sites))
    assert not gone, f"Stale ALLOWED entries (no mutation left): {gone}"


def test_streaming_conf_writes_only_configure_the_child_session():
    """Every conf write under streaming/ is on the fresh child that
    ``stream_session`` returns, never on a caller's session."""
    tree = _parse(os.path.join(PKG, "streaming", "rollup.py"))
    (helper,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "stream_session"
    ]
    inside = sorted(n.lineno for n in ast.walk(helper) if _is_conf_mutation(n))
    assert inside == sorted(_conf_mutations()["streaming/rollup.py"])
