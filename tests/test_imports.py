"""Every engine import in the non-test code resolves.

A function-local `from ..operators.x import f` fails only when its
function runs, so deleting `x` or `f` can leave an import behind that
no other test reaches. This walks the AST of the package, the jobs,
the driver-contract entry module and the benchmark scripts, and checks
each import of an engine module, module-level or function-local,
without starting Spark.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "dea_coastlines_spark"


def _sources():
    yield from sorted((ROOT / PKG).rglob("*.py"))
    yield from sorted((ROOT / "jobs").glob("*.py"))
    yield ROOT / "__spark_entry__.py"
    yield from sorted((ROOT / "perfbench").glob("*.py"))


def _engine_imports(path: Path):
    """(node, module, name) per engine import in `path`; name is None
    for a plain `import a.b`."""
    # the package a relative import starts from: a/b/c.py and
    # a/b/__init__.py both sit in a.b
    package = list(path.relative_to(ROOT).parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node, a.name, None
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] != PKG:
                continue
            for a in node.names:
                yield node, mod, a.name


def _problem(mod: str, name: str | None) -> str | None:
    try:
        m = importlib.import_module(mod)
    except ImportError as e:
        return f"cannot import {mod}: {e}"
    if name is None or hasattr(m, name):
        return None
    if hasattr(m, "__path__") and importlib.util.find_spec(f"{mod}.{name}"):
        return None  # `from pkg import submodule`
    return f"{mod} has no {name}"


def test_every_engine_import_resolves():
    local, bad = 0, []
    for path in _sources():
        for node, mod, name in _engine_imports(path):
            local += node.col_offset > 0
            why = _problem(mod, name)
            if why:
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}: {why}")
    # the walk must reach the function-local imports (the registry's
    # and the jobs'), or it misses the ones this test is for
    assert local > 0
    assert not bad, "\n".join(bad)
