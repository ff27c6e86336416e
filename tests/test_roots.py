"""The product roots outside the package — the registry
(``__spark_entry__.py``), ``bench.py``, ``perfbench/`` and ``tools/`` —
bind what they import, and the tools run against their own checkout.

- bindings: every ``from data_pengadaan_agent_spark.<mod> import <name>``
  and every ``<ALIAS>.<name>`` on an imported package module names a
  top-level definition of that module (a function, class, assignment
  or import), or a submodule of a package. Tier-1 runs no tool, so a
  deletion that leaves a kept tool importing a removed name would
  otherwise surface only when someone runs it;
- own checkout: no tool puts a string literal on ``sys.path`` or opens
  an absolute path literal — run from any checkout, a tool imports and
  writes that checkout, resolved from its ``__file__``.
"""

from __future__ import annotations

import ast
import functools
import os
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG_NAME = "data_pengadaan_agent_spark"
ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py"]
ROOTS += sorted((REPO / "perfbench").glob("*.py")) + sorted((REPO / "tools").glob("*.py"))


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


@functools.cache
def _exports(f: Path) -> set[str]:
    """Names bound at the top level of module ``f``."""
    out = set()
    for top in ast.parse(f.read_text()).body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(top.name)
        elif isinstance(top, (ast.Import, ast.ImportFrom)):
            out |= {(a.asname or a.name).split(".")[0] for a in top.names}
        elif isinstance(top, (ast.Assign, ast.AnnAssign)):
            targets = top.targets if isinstance(top, ast.Assign) else [top.target]
            out |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
    return out


def _resolves(dotted: str, name: str) -> bool:
    f = _module_file(dotted)
    if f is None:
        return False
    return name in _exports(f) or (
        f.name == "__init__.py" and _module_file(f"{dotted}.{name}") is not None
    )


def test_root_imports_resolve_to_package_definitions():
    bad = []
    for f in ROOTS:
        tree = ast.parse(f.read_text())
        rel = f.relative_to(REPO).as_posix()
        aliases: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
                node.module == PKG_NAME or node.module.startswith(PKG_NAME + ".")
            ):
                for a in node.names:
                    if not _resolves(node.module, a.name):
                        bad.append(f"{rel}:{node.lineno}: {node.module}.{a.name}")
                    elif _module_file(f"{node.module}.{a.name}") is not None:
                        aliases[a.asname or a.name] = f"{node.module}.{a.name}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(PKG_NAME + ".") and a.asname:
                        if _module_file(a.name) is None:
                            bad.append(f"{rel}:{node.lineno}: {a.name}")
                        else:
                            aliases[a.asname] = a.name
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
                and not _resolves(aliases[node.value.id], node.attr)
            ):
                bad.append(f"{rel}:{node.lineno}: {aliases[node.value.id]}.{node.attr}")
    assert bad == [], f"names the package does not define: {bad}"


def _is_sys_path(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "path"
        and isinstance(node.value, ast.Name)
        and node.value.id == "sys"
    )


def test_tools_resolve_their_checkout_from_their_own_file():
    bad = []
    for f in sorted((REPO / "tools").glob("*.py")):
        rel = f.relative_to(REPO).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Attribute) and _is_sys_path(fn.value):
                if any(
                    isinstance(c, ast.Constant) and isinstance(c.value, str)
                    for arg in node.args
                    for c in ast.walk(arg)
                ):
                    bad.append(f"{rel}:{node.lineno}: string literal on sys.path")
            elif isinstance(fn, ast.Name) and fn.id == "open" and node.args:
                first = node.args[0]
                if (
                    isinstance(first, ast.Constant)
                    and isinstance(first.value, str)
                    and os.path.isabs(first.value)
                ):
                    bad.append(f"{rel}:{node.lineno}: opens absolute path {first.value!r}")
        if str(REPO) in f.read_text():
            bad.append(f"{rel}: spells this checkout's absolute path")
    assert bad == [], bad
