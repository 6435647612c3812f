"""List the package's top-level names that nothing outside the tests reaches.

Usage: python scripts/unreached_symbols.py [repo_root]

A package name is a top-level function, class or module constant of a
module under ``factory_inspectors_db_etl_spark/``.  It is reached when
live code uses it through an AST name, an attribute or an import.  Live
code is, transitively:

* every module outside the package that is not a test: ``perfbench/``,
  ``scripts/``, ``bench.py`` and ``__spark_entry__.py``;
* the module-level statements of package modules that run at import
  (registrations, ``if __name__ == "__main__"`` blocks), other than
  imports;
* the body of every reached package name.

So a name used only by other unreached names is itself unreached.  A
module-level import is not a use (an ``__init__.py`` re-export keeps
nothing alive; a use through the package path resolves to the defining
module); an import inside a function body is a use by that function.
An attribute whose base cannot be resolved to a module counts as a use of
every package name spelled like it, and so does a string constant in a
module outside the package (``getattr(inspectors_analytics, q)`` over a
list of query names), so the report can miss dead code but does not list
live code.

Prints one line per unreached name, ``path::name``, or ``path (whole
module)`` when nothing in a module is reached, then a count.
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

PKG = "factory_inspectors_db_etl_spark"
ROOT_GLOBS = ("perfbench", "scripts")
ROOT_FILES = ("bench.py", "__spark_entry__.py")


def _is_test(path: str) -> bool:
    base = os.path.basename(path)
    return base.startswith("test_") or base == "conftest.py"


def _py_files(top: str) -> list[str]:
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _modname(repo: str, path: str) -> str:
    rel = os.path.relpath(path, repo)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


class Module:
    def __init__(self, repo: str, path: str) -> None:
        self.rel = os.path.relpath(path, repo)
        self.name = _modname(repo, path)
        self.is_pkg = path.endswith("__init__.py")
        self.tree = ast.parse(open(path, encoding="utf-8").read(), path)
        self.defs: dict[str, list[ast.AST]] = defaultdict(list)
        self.aliases: dict[str, tuple[str, str | None]] = {}

    def package(self) -> str:
        return self.name if self.is_pkg else self.name.rpartition(".")[0]

    def resolve_from(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.package().split(".")
        parts = parts[: len(parts) - (node.level - 1)]
        return ".".join(parts + ([node.module] if node.module else []))


def _targets(node: ast.AST, defined: dict) -> list[str]:
    """Names a module-level assignment binds, plus the already defined
    names it mutates (``X[k] = v`` and ``X.a += v`` belong to ``X``)."""
    out, stack = [], list(getattr(node, "targets", [getattr(node, "target", None)]))
    while stack:
        t = stack.pop()
        if isinstance(t, (ast.Tuple, ast.List)):
            stack.extend(t.elts)
        elif isinstance(t, ast.Name):
            out.append(t.id)
        else:
            while isinstance(t, (ast.Subscript, ast.Attribute, ast.Starred)):
                t = t.value
            if isinstance(t, ast.Name) and t.id in defined:
                out.append(t.id)
    return [n for n in out if not n.startswith("__")]


class Index:
    def __init__(self, repo: str) -> None:
        self.mods: dict[str, Module] = {}
        pkg_files = _py_files(os.path.join(repo, PKG))
        root_files = [
            p
            for g in ROOT_GLOBS
            for p in _py_files(os.path.join(repo, g))
            if not _is_test(p)
        ] + [os.path.join(repo, f) for f in ROOT_FILES if os.path.exists(os.path.join(repo, f))]
        for p in pkg_files + root_files:
            m = Module(repo, p)
            self.mods[m.name] = m
        self.pkg_mods = [self.mods[_modname(repo, p)] for p in pkg_files]
        self.root_mods = [self.mods[_modname(repo, p)] for p in root_files]
        self.by_name: dict[str, set[tuple[str, str]]] = defaultdict(set)
        for m in self.mods.values():
            self._collect(m)

    def _collect(self, m: Module) -> None:
        for node in ast.walk(m.tree):
            if isinstance(node, ast.ImportFrom):
                src = m.resolve_from(node)
                for a in node.names:
                    m.aliases[a.asname or a.name] = (src, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        m.aliases[a.asname] = (a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        m.aliases[top] = (top, None)
        if m.name.split(".")[0] != PKG:
            return
        for node in m.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                names = _targets(node, m.defs)
            else:
                continue
            for n in names:
                m.defs[n].append(node)
                if not m.is_pkg:
                    self.by_name[n].add((m.name, n))

    def symbol(self, mod: str, name: str, seen: frozenset = frozenset()):
        """(module, name) of the definition that ``mod.name`` binds, a
        ("module", qualname) pair for a submodule, or None."""
        m = self.mods.get(mod)
        if m is None or (mod, name) in seen:
            sub = f"{mod}.{name}"
            return ("module", sub) if sub in self.mods else None
        if name in m.defs:
            return (mod, name)
        if name in m.aliases:
            src, orig = m.aliases[name]
            if orig is None:
                return ("module", src) if src in self.mods else None
            return self.symbol(src, orig, seen | {(mod, name)})
        sub = f"{mod}.{name}"
        return ("module", sub) if sub in self.mods else None

    def _resolve(self, m: Module, node: ast.AST):
        if isinstance(node, ast.Name):
            if node.id in m.defs:
                return (m.name, node.id)
            if node.id in m.aliases:
                src, orig = m.aliases[node.id]
                if orig is None:
                    return ("module", src)
                return self.symbol(src, orig) or ("unresolved", orig)
            return None
        if isinstance(node, ast.Attribute):
            base = self._resolve(m, node.value)
            if base and base[0] == "module":
                return self.symbol(base[1], node.attr) or ("unresolved", node.attr)
            return ("unresolved", node.attr)
        return None

    def uses(self, m: Module, nodes: list[ast.AST]) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()

        def add(r) -> None:
            if not r or r[0] == "module":
                return
            if r[0] == "unresolved":
                out.update(self.by_name.get(r[1], ()))
            else:
                out.add(r)

        for root in nodes:
            for n in ast.walk(root):
                if isinstance(n, (ast.Name, ast.Attribute)):
                    add(self._resolve(m, n))
                elif isinstance(n, ast.ImportFrom) and root is not n:
                    src = m.resolve_from(n)
                    for a in n.names:
                        add(self.symbol(src, a.name))
        return out

    def reached(self) -> set[tuple[str, str]]:
        edges: dict[tuple[str, str], set[tuple[str, str]]] = {}
        live: set[tuple[str, str]] = set()
        for m in self.root_mods:
            live |= self.uses(m, m.tree.body)
            for c in ast.walk(m.tree):
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    live |= self.by_name.get(c.value, set())
        for m in self.pkg_mods:
            owned = set()
            for name, nodes in m.defs.items():
                edges[(m.name, name)] = self.uses(m, nodes)
                owned.update(map(id, nodes))
            for node in m.tree.body:
                if id(node) in owned or isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
                    continue  # docstring
                live |= self.uses(m, [node])
        stack = list(live)
        while stack:
            s = stack.pop()
            for t in edges.get(s, ()):
                if t not in live:
                    live.add(t)
                    stack.append(t)
        return live


def main(repo: str) -> int:
    idx = Index(repo)
    live = idx.reached()
    lines, n = [], 0
    for m in idx.pkg_mods:
        if m.is_pkg or not m.defs:
            continue
        dead = sorted(name for name in m.defs if (m.name, name) not in live)
        n += len(dead)
        if len(dead) == len(m.defs):
            lines.append(f"{m.rel} (whole module)")
        else:
            lines.extend(f"{m.rel}::{name}" for name in dead)
    print("\n".join(lines))
    print(f"# {n} unreached top-level names")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
