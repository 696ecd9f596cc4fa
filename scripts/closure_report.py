"""Import-closure report: which engine modules the coastline system reaches.

Walks every import (function-local and relative ones included) from the
coastline roots: the five `jobs/run_*.py` coastline CLIs,
`plans.pipeline`, `plans.checkpoint`, `_daemon` (loaded by `get_spark`
through a conf string, not an import) and every `perfbench/*.py`.
Prints one JSON line: total lines in `dea_coastlines_spark/`, the lines
of modules outside the closure, each such module with its lines, and
`orphans`: the top-level functions of `dea_coastlines_spark/` and
`jobs/` that no code outside the tests names (comments and docstrings
do not count; tests are not scanned, so a test-only function is listed).
Run: python scripts/closure_report.py   (standard library only)
"""

import ast
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dea_coastlines_spark"
JOBS = ("shorelines", "rates", "continental", "validation", "transects")


def module_files():
    """{dotted module name: path} for every module in the package."""
    out = {}
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f), ROOT)[:-3]
                name = rel.replace(os.sep, ".")
                out[name.removesuffix(".__init__")] = os.path.join(d, f)
    return out


def imports(path, name):
    """Dotted names a file imports, with `from a import b` giving a.b too."""
    base = name.split(".")
    if not path.endswith("__init__.py"):
        base = base[:-1]
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            parts = base[:len(base) - node.level + 1] if node.level else []
            mod = ".".join(parts + ([node.module] if node.module else []))
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def py_files(*dirs):
    """Every .py under ROOT/dir, skipping `tests/` directories."""
    for top in dirs:
        for d, subdirs, files in os.walk(os.path.join(ROOT, top)):
            subdirs[:] = [s for s in subdirs if s not in ("tests", "__pycache__")]
            yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def orphans():
    """Dotted names of engine top-level functions no non-test code names."""
    engine = set(py_files(PKG, "jobs"))
    code = engine | set(py_files("scripts", "perfbench"))
    code |= {os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py")}
    used, defs = set(), []
    for path in code:
        tree = ast.parse(open(path).read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.update(node.name.split("."))
        if path in engine:
            mod = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
            defs += [(mod.removeprefix(PKG + "."), n.name) for n in tree.body
                     if isinstance(n, ast.FunctionDef)]
    return sorted(f"{m}.{f}" for m, f in defs if f not in used)


def main():
    mods = module_files()
    lines = {m: sum(1 for _ in open(p)) for m, p in mods.items()}
    roots = [os.path.join(ROOT, "jobs", f"run_{j}.py") for j in JOBS]
    pb = os.path.join(ROOT, "perfbench")
    roots += [os.path.join(pb, f) for f in sorted(os.listdir(pb)) if f.endswith(".py")]
    todo = [(p, "__root__") for p in roots]
    todo += [(mods[m], m) for m in
             (f"{PKG}.plans.pipeline", f"{PKG}.plans.checkpoint", f"{PKG}._daemon")]
    seen = {name for _, name in todo}
    while todo:
        path, name = todo.pop()
        for imp in imports(path, name):
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):  # parent packages run too
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    outside = sorted((m for m in mods if m not in seen), key=lambda m: -lines[m])
    print(json.dumps({
        "engine_lines": sum(lines.values()),
        "outside_lines": sum(lines[m] for m in outside),
        "outside": {m.removeprefix(PKG + "."): lines[m] for m in outside},
        "orphans": orphans(),
    }))


if __name__ == "__main__":
    main()
