"""Every module-level function in core_spark/ is referenced somewhere.

A name that occurs only at its own ``def`` is dead code: no operator, query,
test, script or benchmark reaches it. The check is by whole identifier
tokens, so a call, an import, a registry entry or a mention in a docstring
all count as a reference.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEARCHED = ("core_spark", "tests", "scripts", "geobench", "__spark_entry__.py", "bench.py")

# Names allowed to stay unreferenced (none today); each needs a reason.
ALLOWLIST: set[str] = set()

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for dirpath, _, names in os.walk(path):
        yield from (os.path.join(dirpath, n) for n in names if n.endswith(".py"))


def test_every_core_spark_def_is_referenced():
    tokens: Counter[str] = Counter()
    defs: Counter[str] = Counter()
    where: dict[str, str] = {}
    for entry in SEARCHED:
        for path in _py_files(os.path.join(ROOT, entry)):
            with open(path, encoding="utf-8") as f:
                src = f.read()
            tokens.update(_IDENT.findall(src))
            if entry != "core_spark":
                continue
            for node in ast.parse(src).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs[node.name] += 1
                    where[node.name] = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
    assert defs, "no module-level defs found under core_spark/"
    dead = sorted(
        where[name] + " " + name
        for name, n in defs.items()
        if tokens[name] <= n and name not in ALLOWLIST
    )
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
