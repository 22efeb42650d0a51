"""Every ``syncflux_spark`` import in the package, the tools, the
benchmark and the entry points resolves — function-level imports too,
which importing the modules never runs. Parsed with ``ast``, so a
script or registry entry left pointing at a removed module or name
fails here without being executed."""

from __future__ import annotations

import ast
import functools
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "syncflux_spark"
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources() -> list[str]:
    out = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for top in (PKG, "tools", "perfbench"):
        for d, _dirs, files in os.walk(os.path.join(REPO, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _module_file(mod: str) -> str | None:
    base = os.path.join(REPO, *mod.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


@functools.lru_cache(maxsize=None)
def _bindings(path: str) -> set[str]:
    """Names a module binds at top level, through if/try/with blocks."""
    names: set[str] = set()

    def visit(body):
        for node in body:
            if isinstance(node, _SCOPES):
                names.add(node.name)
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0] for a in node.names)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                for t in targets:
                    names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
            for field in ("body", "orelse", "finalbody", "handlers"):
                visit(getattr(node, field, None) or [])

    with open(path) as f:
        visit(ast.parse(f.read()).body)
    return names


def _imports(path: str):
    """(line, module, names) for every import of a syncflux_spark
    module at any depth; ``names`` is empty for a plain ``import``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    package = os.path.dirname(os.path.relpath(path, REPO)).split(os.sep)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                parts = package[: len(package) - node.level + 1]
                mod = ".".join(parts + ([mod] if mod else []))
            if mod.split(".")[0] == PKG:
                yield node.lineno, mod, [a.name for a in node.names]


def test_syncflux_imports_resolve():
    sources = _sources()
    rels = {os.path.relpath(p, REPO) for p in sources}
    assert {"bench.py", "__spark_entry__.py", "syncflux_spark/cli.py"} <= rels
    assert any(r.startswith("tools/") for r in rels)
    assert any(r.startswith("perfbench/") for r in rels)
    bad = []
    for path in sources:
        rel = os.path.relpath(path, REPO)
        for line, mod, names in _imports(path):
            target = _module_file(mod)
            if target is None:
                bad.append(f"{rel}:{line}: no module {mod}")
                continue
            for name in names:
                if name == "*" or _module_file(f"{mod}.{name}"):
                    continue
                if name not in _bindings(target):
                    bad.append(f"{rel}:{line}: {mod} has no name {name}")
    assert not bad, "\n".join(bad)
