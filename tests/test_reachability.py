"""Every module and top-level definition in ``magicxml_spark`` is reached
from the product surface.

The surface (the roots) is:
  - ``plans/convert.py`` — the route table and the ``*_to_*`` plans;
  - every ``@query`` function (the ``QUERIES`` registry);
  - ``session.get_spark``;
  - every name that ``perfbench/*.py``, ``bench.py`` or
    ``__spark_entry__.py`` references.

The walk is name-level: an identifier (a ``Name``, an ``Attribute``'s
attribute or an imported name) reached anywhere reaches every top-level
definition of that name in every reached module. A module is reached
when reached code imports it; its module-level statements (imports,
decorators, calls) run on import and are followed, while a top-level
``def``, ``class`` or assignment is followed only once its name is
reached. Name-level matching over-approximates, so what this test
reports is certainly dead; what it passes may still be.

The only exemptions are reference implementations that a test compares
product code against; each names that test.
"""

from __future__ import annotations

import ast
import copy
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "magicxml_spark"

ROOT_FILES = ("bench.py", "__spark_entry__.py")
ROOT_DIRS = ("perfbench",)
ROOT_MODULES = (f"{PKG}.plans.convert",)
ROOT_DEFS = ((f"{PKG}.session", "get_spark"),)

# Reference implementations kept as test oracles: each is what the named
# test compares a product spelling against. (module, name) -> test.
EXEMPT = {
    (f"{PKG}.operators.similarity", "cosine_topk_bruteforce"):
        "tests/test_extensions.py::test_blocked_topk_equals_bruteforce_no_collect",
    (f"{PKG}.operators.similarity", "embedding_near_dup"):
        "tests/test_extensions.py::test_blocked_near_dup_equals_broadcast",
    (f"{PKG}.operators.text", "bpe_train_bytes"):
        "tests/test_bpe_bytes.py::test_frozen_fixture_merges_provenance",
    (f"{PKG}.operators.dedup", "minhash_band_signature"):
        "tests/test_pipeline_ops.py::test_minhash_band_signature_array_matches_per_band",
    (f"{PKG}.operators.sketches", "bloom_probe"):
        "tests/test_extensions.py::test_bloom_compiled_probe_matches_join_probe",
}


def _modules() -> dict[str, ast.Module]:
    out = {}
    base = os.path.join(REPO, PKG)
    for dirpath, _, files in os.walk(base):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            with open(os.path.join(dirpath, fn), encoding="utf-8") as f:
                out[".".join(parts)] = ast.parse(f.read())
    return out


def _refs(node: ast.AST, modules) -> tuple[set[str], set[str]]:
    """Identifiers and ``magicxml_spark`` modules that ``node`` references."""
    names, mods = set(), set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.Import):
            for a in n.names:
                names.update(a.name.split("."))
                if a.name in modules:
                    mods.add(a.name)
        elif isinstance(n, ast.ImportFrom) and n.module:
            if n.module in modules:
                mods.add(n.module)
            for a in n.names:
                names.add(a.name)
                if f"{n.module}.{a.name}" in modules:
                    mods.add(f"{n.module}.{a.name}")
    return names, mods


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        fn = d.func if isinstance(d, ast.Call) else d
        if isinstance(fn, ast.Name) and fn.id == "query":
            return True
    return False


def _definitions(tree: ast.Module) -> tuple[dict[str, list[ast.AST]], list[ast.AST]]:
    """Top-level definitions by name, and the other module-level statements
    (decorators count as module-level: they run on import)."""
    defs: dict[str, list[ast.AST]] = {}
    stmts: list[ast.AST] = []
    for s in tree.body:
        targets = s.targets if isinstance(s, ast.Assign) else [getattr(s, "target", None)]
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs.setdefault(s.name, []).append(s)
            stmts.extend(s.decorator_list)
        elif isinstance(s, (ast.Assign, ast.AnnAssign)) and all(
            isinstance(t, ast.Name) for t in targets
        ):
            for t in targets:
                defs.setdefault(t.id, []).append(s)
        elif not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)):
            stmts.append(s)
    return defs, stmts


def _body(node: ast.AST) -> ast.AST:
    """A definition without its decorators (those are module-level)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        node = copy.copy(node)
        node.decorator_list = []
    return node


def _root_refs(modules) -> tuple[set[str], set[str]]:
    names, mods = set(), set()
    paths = [os.path.join(REPO, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        d = os.path.join(REPO, d)
        paths += [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")]
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n, m = _refs(ast.parse(f.read()), modules)
        names |= n
        mods |= m
    return names, mods


def walk(exempt=EXEMPT) -> tuple[list[str], list[str]]:
    """(unreached ``module.name`` definitions, unreached modules), with
    the ``exempt`` definitions kept as extra roots."""
    modules = _modules()
    table = {m: _definitions(t) for m, t in modules.items()}
    names, todo = _root_refs(modules)
    todo |= set(ROOT_MODULES) | {m for m, _ in ROOT_DEFS}
    # an exempt reference implementation is kept, so what it uses is too
    todo |= {m for m, _ in exempt}
    names |= {n for _, n in ROOT_DEFS} | {n for _, n in exempt}
    reached_mods: set[str] = set()
    reached_defs: set[tuple[str, str]] = set()
    changed = True
    while changed:
        changed = False
        while todo:
            m = todo.pop()
            parts = m.split(".")
            for i in range(1, len(parts) + 1):  # importing a module imports its packages
                pkg = ".".join(parts[:i])
                if pkg in modules and pkg not in reached_mods:
                    reached_mods.add(pkg)
                    changed = True
                    defs, stmts = table[pkg]
                    for s in stmts:
                        n, sub = _refs(s, modules)
                        names |= n
                        todo |= sub
                    for name, nodes in defs.items():
                        if any(_is_query(d) for d in nodes) or pkg in ROOT_MODULES:
                            names.add(name)
        for m in reached_mods:
            for name, nodes in table[m][0].items():
                if name in names and (m, name) not in reached_defs:
                    reached_defs.add((m, name))
                    changed = True
                    for d in nodes:
                        n, sub = _refs(_body(d), modules)
                        names |= n
                        todo |= sub
    dead_defs = sorted(
        f"{m}.{name}"
        for m in reached_mods
        for name in table[m][0]
        if (m, name) not in reached_defs and not name.startswith("__")
    )
    return dead_defs, sorted(set(modules) - reached_mods)


def test_every_module_is_imported_from_the_product_surface():
    _, dead_modules = walk()
    assert not dead_modules, f"modules no reached module imports: {dead_modules}"


def test_every_definition_is_reached_from_the_product_surface():
    dead_defs, _ = walk()
    assert not dead_defs, f"top-level definitions nothing reaches: {dead_defs}"


def test_each_exemption_is_unreached_and_used_by_its_test():
    dead_defs, _ = walk(exempt={})
    modules = _modules()
    for (mod, name), test in EXEMPT.items():
        assert f"{mod}.{name}" in dead_defs, f"{mod}.{name} is reached; drop its exemption"
        path, fn = test.split("::")
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        body = next(
            (n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == fn), None
        )
        assert body is not None, f"{test} (exemption for {name}) not found"
        assert name in _refs(body, modules)[0], f"{test} does not use {name}"

