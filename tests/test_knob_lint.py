"""Lint-style enforcement of the package's configuration surface: every
environment variable and every ``spark.myfitnesspaw.*`` conf key the
package reads is allowlisted below WITH the reason a deployment needs
it.  A new knob anywhere under ``myfitnesspaw_spark/`` fails this test
until it is reviewed and added here; a knob whose code was removed
must be pruned.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "myfitnesspaw_spark")
CONF_PREFIX = "spark.myfitnesspaw."

# knob -> why a deployment needs it
ALLOWED = {
    "SPARK_GRAFT_CPUS": "core count of the local[N] session (get_spark default)",
    "SPARK_GRAFT_SF_DIR": "default input table directory for load_table",
    "SPARK_DRIVER_MEMORY": "driver heap of the session get_spark builds",
    "SPARK_GRAFT_CHECKPOINT_DIR": "reliable-checkpoint dir for instance-sized barriers (process-wide)",
    "spark.myfitnesspaw.checkpoint.dir": "reliable-checkpoint dir for instance-sized barriers (per session)",
    "spark.myfitnesspaw.stateShufflePartitions": "state-store partition count of new stateful streams",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key: {ast.unparse(node) if node else ''}>"


def _knob_reads():
    """(knob, 'file:line') for every env read and every
    ``spark.myfitnesspaw.*`` conf read in the package."""
    reads = []
    for dirpath, _, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            where = os.path.relpath(path, PKG)
            for n in ast.walk(ast.parse(open(path).read())):
                if isinstance(n, ast.Subscript) and _is_environ(n.value):
                    reads.append((_key(n.slice), f"{where}:{n.lineno}"))
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                first = n.args[0] if n.args else None
                if (n.func.attr == "get" and _is_environ(n.func.value)) or n.func.attr == "getenv":
                    reads.append((_key(first), f"{where}:{n.lineno}"))
                elif n.func.attr == "get" and _key(first).startswith(CONF_PREFIX):
                    reads.append((_key(first), f"{where}:{n.lineno}"))
    return reads


def test_knob_reads_are_allowlisted():
    reads = _knob_reads()
    extra = sorted({(k, w) for k, w in reads if k not in ALLOWED})
    assert not extra, (
        f"New knob read(s) {extra}: every env var and {CONF_PREFIX}* conf the "
        "package reads needs a reviewed ALLOWED entry with its reason."
    )
    gone = sorted(set(ALLOWED) - {k for k, _ in reads})
    assert not gone, f"Stale ALLOWED entries (no longer read): {gone}"
