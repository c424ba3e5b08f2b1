"""List the package definitions that no code outside tests/ reaches.

Every top-level function, class and constant in etl_poc_spark/ is a node;
an edge runs from a definition to each package definition its body names.
References resolve through the AST, not by text: plain names, attribute
chains on module aliases (`U.f`, `etl_poc_spark.io.load_table`), import
aliases and re-exports, including the lazy imports inside function bodies.
A docstring or comment that mentions a name is not a reference.

Roots (code that runs without a test asking for it):
  - every statement of tools/, perfbench/, bench.py and __spark_entry__.py;
  - module-level statements of the package other than definitions
    (they run at import), and every decorator expression;
  - definitions whose decorator is itself a package function — builders
    registered by `@query`, `@_op` and `@_stream_op`. Such a def counts
    as reached because reached code reads its registry: the query
    registry, `_OPS` and `_STREAM_OPS`. A decorator whose registry only
    unreached code reads would make this rule report live code that is
    dead, so a new registering decorator needs a reached reader.

Reachability is transitive: a definition named only by unreached
definitions is unreached too. Class bodies (methods included) count as
one node, so a reached class reaches everything its methods name.

Usage: python tools/unreached.py
Prints `path:line kind name non_blank_lines` per unreached definition,
a subtotal per file, then the total.
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_poc_spark"
OUTSIDE_ROOTS = ("tools", "perfbench", "bench.py", "__spark_entry__.py")


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        return [rel]
    out = []
    for d, _dirs, files in os.walk(path):
        out += [
            os.path.relpath(os.path.join(d, f), REPO)
            for f in files
            if f.endswith(".py")
        ]
    return sorted(out)


def _module_name(rel: str) -> str:
    parts = rel[: -len(".py")].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _import_aliases(nodes) -> dict[str, tuple]:
    """local name -> ("mod", module) | ("name", module, name)."""
    out: dict[str, tuple] = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = ("mod", a.name)
                else:
                    top = a.name.split(".")[0]
                    out[top] = ("mod", top)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                out[a.asname or a.name] = ("name", node.module, a.name)
    return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign) and stmt.value
        else []
    )
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    if len(names) != len(targets):
        return []  # subscript/attribute/tuple target: a statement, not a def
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


class _Module:
    def __init__(self, rel: str):
        self.rel = rel
        self.name = _module_name(rel)
        with open(os.path.join(REPO, rel)) as fh:
            self.lines = fh.read().splitlines()
        self.tree = ast.parse("\n".join(self.lines), rel)
        self.imports = _import_aliases(self.tree.body)
        self.defs: dict[str, ast.stmt] = {}
        self.statements: list[ast.stmt] = []
        for stmt in self.tree.body:
            names = _defined_names(stmt)
            for n in names:
                self.defs[n] = stmt
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.statements.append(stmt)


class _Resolver:
    def __init__(self, modules: dict[str, _Module]):
        self.modules = modules

    def member(self, mod: str, name: str, seen=()) -> tuple:
        """What `mod.name` is: ("mod", m), ("def", m, n) or ()."""
        if f"{mod}.{name}" in self.modules:
            return ("mod", f"{mod}.{name}")
        m = self.modules.get(mod)
        if m is None or (mod, name) in seen:
            return ()
        if name in m.defs:
            return ("def", mod, name)
        target = m.imports.get(name)
        return self.target(target, seen + ((mod, name),)) if target else ()

    def target(self, target: tuple, seen=()) -> tuple:
        if target[0] == "mod":
            return target if target[1] in self.modules else ()
        return self.member(target[1], target[2], seen)

    def refs(self, node: ast.AST, mod: _Module, aliases: dict) -> set[tuple]:
        """Package definitions that `node` names."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if n.id in aliases:
                    r = self.target(aliases[n.id])
                elif n.id in mod.defs:
                    r = ("def", mod.name, n.id)
                else:
                    continue
            elif isinstance(n, ast.Attribute):
                chain = []
                base = n
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name) or base.id not in aliases:
                    continue
                r = self.target(aliases[base.id])
                for part in reversed(chain):
                    if not r or r[0] != "mod":
                        break
                    r = self.member(r[1], part)
            else:
                continue
            if r and r[0] == "def":
                out.add(r[1:])
        return out


def _local_imports(node: ast.AST) -> list[ast.stmt]:
    return [n for n in ast.walk(node) if isinstance(n, (ast.Import, ast.ImportFrom))]


def find_unreached() -> list[tuple[_Module, str, ast.stmt, int]]:
    modules = {}
    for rel in _py_files(PACKAGE) + [f for r in OUTSIDE_ROOTS for f in _py_files(r)]:
        m = _Module(rel)
        modules[m.name] = m
    res = _Resolver(modules)
    package = [m for m in modules.values() if m.name.split(".")[0] == PACKAGE]

    roots: set[tuple] = set()
    edges: dict[tuple, set[tuple]] = {}
    for m in modules.values():
        if m not in package:
            aliases = _import_aliases(_local_imports(m.tree))
            roots |= res.refs(m.tree, m, aliases)
            continue
        for stmt in m.statements:
            roots |= res.refs(stmt, m, {**m.imports, **_import_aliases(_local_imports(stmt))})
        for name, stmt in m.defs.items():
            aliases = {**m.imports, **_import_aliases(_local_imports(stmt))}
            decos = getattr(stmt, "decorator_list", [])
            body = [c for c in ast.iter_child_nodes(stmt) if c not in decos]
            edges[(m.name, name)] = set().union(*(res.refs(c, m, aliases) for c in body))
            for d in decos:
                roots |= res.refs(d, m, aliases)
                if res.refs(d.func if isinstance(d, ast.Call) else d, m, aliases):
                    roots.add((m.name, name))

    reached: set[tuple] = set()
    todo = list(roots)
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        todo += edges.get(key, ())

    out = []
    for m in sorted(package, key=lambda m: m.rel):
        for name, stmt in sorted(m.defs.items(), key=lambda kv: kv[1].lineno):
            if (m.name, name) in reached:
                continue
            first = min([stmt.lineno] + [d.lineno for d in getattr(stmt, "decorator_list", [])])
            lines = sum(1 for ln in m.lines[first - 1: stmt.end_lineno] if ln.strip())
            out.append((m, name, stmt, lines))
    return out


def _kind(stmt: ast.stmt) -> str:
    if isinstance(stmt, ast.ClassDef):
        return "class"
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return "function"
    return "constant"


def main() -> int:
    rows = find_unreached()
    per_file: dict[str, int] = defaultdict(int)
    for m, name, stmt, lines in rows:
        print(f"{m.rel}:{stmt.lineno} {_kind(stmt)} {name} {lines}")
        per_file[m.rel] += lines
    print()
    for rel, lines in sorted(per_file.items(), key=lambda kv: -kv[1]):
        print(f"{lines:6d}  {rel}")
    print(f"{sum(per_file.values()):6d}  total non-blank lines in {len(rows)} unreached definitions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
