"""Every package import in the program resolves — lazy ones included —
and no package definition that only tests reach goes unlisted.

An import inside a function body only fails when the function runs, and
a deletion can leave one dangling in code no test calls. This walks the
source with `ast` instead, so it catches them at collection time and
needs no Spark session. The same holds for tools/unreached.py's
reachability analysis, which the allowlist test below runs.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_poc_spark"
SCANNED = (PACKAGE, "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _package_imports():
    """(file:line, module, name-or-None) for every import of the package."""
    for top in SCANNED:
        root = os.path.join(REPO, top)
        walk = [(REPO, [], [top])] if os.path.isfile(root) else os.walk(root)
        for d, _dirs, files in walk:
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                path = os.path.join(d, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                where = os.path.relpath(path, REPO)
                for node in ast.walk(tree):
                    if isinstance(node, ast.ImportFrom) and not node.level:
                        mod = node.module or ""
                        if mod.split(".")[0] == PACKAGE:
                            for a in node.names:
                                yield f"{where}:{node.lineno}", mod, a.name
                    elif isinstance(node, ast.Import):
                        for a in node.names:
                            if a.name.split(".")[0] == PACKAGE:
                                yield f"{where}:{node.lineno}", a.name, None


def _module_exists(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


def test_every_package_import_resolves():
    imports = list(_package_imports())
    assert len(imports) > 100  # the walk really saw the program
    dangling = []
    for where, mod, name in imports:
        if not _module_exists(mod):
            dangling.append(f"{where}: no module {mod}")
        elif name is not None and name != "*":
            try:
                found = hasattr(importlib.import_module(mod), name)
            except ImportError as e:
                dangling.append(f"{where}: importing {mod} fails: {e}")
                continue
            if not found and not _module_exists(f"{mod}.{name}"):
                dangling.append(f"{where}: {mod} has no {name}")
    assert not dangling, "\n".join(dangling)


def _store_reader(op: str) -> str:
    return f"public reader of the `{op}` streaming store"


# path::name -> why a definition that only tests reach may stay
UNREACHED_ALLOWLIST = {
    "etl_poc_spark/operators/curation.py::read_doremi_store": _store_reader("doremi_stats"),
    "etl_poc_spark/operators/curation.py::doremi_store_weights": _store_reader("doremi_stats"),
    "etl_poc_spark/operators/curation.py::compact_doremi_store": _store_reader("doremi_stats"),
    "etl_poc_spark/operators/curation.py::read_badwords_store": _store_reader("badwords_stats"),
    "etl_poc_spark/operators/curation.py::compact_badwords_store": _store_reader("badwords_stats"),
    "etl_poc_spark/operators/dsir.py::read_dsir_store": _store_reader("dsir_counts"),
    "etl_poc_spark/operators/dsir.py::compact_dsir_store": _store_reader("dsir_counts"),
}


def test_unreached_definitions_are_allowlisted():
    """Dead code cannot grow back: every definition that only tests
    reach is on the allowlist, and every entry is still unreached (an
    entry whose name is reached again or deleted is stale)."""
    from tools.unreached import find_unreached

    found = {f"{m.rel}::{name}" for m, name, _stmt, _lines in find_unreached()}
    unlisted = sorted(found - UNREACHED_ALLOWLIST.keys())
    stale = sorted(UNREACHED_ALLOWLIST.keys() - found)
    assert not unlisted, "unreached and not allowlisted:\n" + "\n".join(unlisted)
    assert not stale, "allowlisted but reached or gone:\n" + "\n".join(stale)
