"""Every top-level function and class of the package is reached by
name from a root: the registry (``__spark_entry__.py``), the ``Engine``
facade (``engine.py``), ``bench.py``, ``perfbench/``, ``tools/`` or
``tests/``.

Reachability is by name, not by binding: a root reaches every name it
mentions — identifiers, attributes, imported names and string
constants spelling a (dotted) identifier, as ``getattr`` and tracers
use them — and a reached definition reaches the names in its body.
Module-level statements of the package run on import, so they are
roots too. A definition no root reaches is dead code: delete it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "data_pengadaan_agent_spark"
IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def test_every_package_definition_is_reached_from_a_root():
    roots = [REPO / "__spark_entry__.py", PKG / "engine.py", REPO / "bench.py"]
    for d in ("perfbench", "tools", "tests"):
        roots += sorted((REPO / d).rglob("*.py"))
    reached = set().union(*(_names(ast.parse(f.read_text())) for f in roots))
    defs = {}
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(REPO).as_posix()
        for top in ast.parse(f.read_text()).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, top.name)] = top
            else:
                reached |= _names(top)
    live: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in live and key[1] in reached:
                live.add(key)
                reached |= _names(node)
                grew = True
    dead = sorted(f"{rel}:{name}" for rel, name in defs.keys() - live)
    assert dead == [], f"package definitions no root reaches: {dead}"
