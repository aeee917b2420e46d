"""Every module and top-level definition in ``magicxml_spark`` is reached
from the product surface.

The surface (the roots) is:
  - ``plans/convert.py`` — the route table and the ``*_to_*`` plans;
  - every ``@query`` function (the ``QUERIES`` registry);
  - ``session.get_spark``;
  - every name that ``perfbench/*.py``, ``bench.py`` or
    ``__spark_entry__.py`` references;
  - every module ``perfbench/run.py`` names in ``TRACED_LAYERS``: its
    tracer imports each one. These are module roots only; their
    definitions are still reached by name.

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

The parameter walk applies the same surface one level down: every keyword
default of a reached function must be passed by some call on it (by
keyword, by position, or through ``*args``/``**kwargs`` forwarding), or
be a named exemption in ``PARAM_EXEMPT``.
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


def _root_trees() -> list[ast.Module]:
    paths = [os.path.join(REPO, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        d = os.path.join(REPO, d)
        paths += [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")]
    trees = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            trees.append(ast.parse(f.read()))
    return trees


def _root_refs(modules) -> tuple[set[str], set[str]]:
    names, mods = set(), set()
    for tree in _root_trees():
        n, m = _refs(tree, modules)
        names |= n
        mods |= m
    return names, mods


def _traced_layers() -> set[str]:
    """The modules named in ``perfbench/run.py``'s ``TRACED_LAYERS``."""
    with open(os.path.join(REPO, "perfbench", "run.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    for s in tree.body:
        if isinstance(s, ast.Assign) and [getattr(t, "id", None) for t in s.targets] == [
            "TRACED_LAYERS"
        ]:
            return {f"{PKG}.{layer}" for layer in ast.literal_eval(s.value)}
    return set()


def _reach(modules, table, exempt) -> tuple[set[str], set[tuple[str, str]]]:
    """(reached modules, reached ``(module, name)`` definitions), with the
    ``exempt`` definitions kept as extra roots."""
    names, todo = _root_refs(modules)
    todo |= set(ROOT_MODULES) | {m for m, _ in ROOT_DEFS} | _traced_layers()
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
    return reached_mods, reached_defs


def walk(exempt=EXEMPT) -> tuple[list[str], list[str]]:
    """(unreached ``module.name`` definitions, unreached modules), with
    the ``exempt`` definitions kept as extra roots."""
    modules = _modules()
    table = {m: _definitions(t) for m, t in modules.items()}
    reached_mods, reached_defs = _reach(modules, table, exempt)
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



# ---------------------------------------------------------------------------
# Parameters: every keyword default of a reached function is set somewhere.
# ---------------------------------------------------------------------------

# Keyword defaults that no product-surface call sets, kept because the named
# test needs them. Only three kinds qualify: a deployment setting, a
# parameter of an ``EXEMPT`` reference implementation, and a size threshold
# that picks between two paths from an observed input size, which the test
# lowers to reach the large-input path at test scale.
# (module, "function.param") -> test.
_SIM = f"{PKG}.operators.similarity"
PARAM_EXEMPT: dict[tuple[str, str], str] = {
    # deployment setting
    (f"{PKG}.session", "get_spark.shuffle_partitions"): "tests/conftest.py::spark",
    # parameters of EXEMPT reference implementations
    (_SIM, "cosine_topk_bruteforce.k"):
        "tests/test_extensions.py::test_blocked_topk_equals_bruteforce_no_collect",
    (_SIM, "cosine_topk_bruteforce.max_index_rows"):
        "tests/test_extensions.py::test_bruteforce_index_guard_raises_toward_blocked",
    (_SIM, "embedding_near_dup.threshold"):
        "tests/test_extensions.py::test_blocked_near_dup_equals_broadcast",
    (_SIM, "embedding_near_dup.max_index_rows"):
        "tests/test_extensions.py::test_bruteforce_index_guard_raises_toward_blocked",
    (f"{PKG}.operators.text", "bpe_train_bytes.max_merges"):
        "tests/test_bpe_bytes.py::test_frozen_fixture_merges_provenance",
    (f"{PKG}.operators.text", "bpe_train_bytes.with_counts"):
        "tests/test_bpe_bytes.py::test_trainer_matches_python_twin",
    # size thresholds
    (f"{PKG}.analytics.clusters", "dedup_clusters.local_solve_edges"):
        "tests/test_extensions.py::test_dedup_clusters_small_graph",
    (f"{PKG}.operators.asof", "interval_lookup_join.max_compiled_intervals"):
        "tests/test_extensions.py::test_interval_lookup_join_matches_nonequi_join",
    (f"{PKG}.operators.category_path", "category_path_lookup.max_compiled_rows"):
        "tests/test_category_path.py::test_compiled_lookup_guard_raises_toward_join",
    (f"{PKG}.operators.retrieval", "bm25_topk_per_query.max_compiled_terms"):
        "tests/test_retrieval.py::test_bm25_per_query_general_arm_matches_compiled",
    (_SIM, "choose_ann_strategy.exact_max_rows"):
        "tests/test_extensions.py::test_ann_dispatch_cost_model",
    (_SIM, "cosine_topk_blocked.block_rows"):
        "tests/test_extensions.py::test_blocked_topk_equals_bruteforce_no_collect",
    (_SIM, "cosine_topk_ivf.fit_sample_rows"):
        "tests/test_extensions.py::test_ivf_sampled_fit_path",
    (_SIM, "embedding_cluster_dedup.block_rows"):
        "tests/test_extensions.py::test_embedding_cluster_dedup_semantics",
    (_SIM, "embedding_near_dup_blocked.block_rows"):
        "tests/test_extensions.py::test_blocked_near_dup_equals_broadcast",
}


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _calls(nodes) -> dict[str, list[ast.Call]]:
    """Every call under ``nodes``, by the name it calls."""
    out: dict[str, list[ast.Call]] = {}
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Call) and (name := _callee(n)):
                out.setdefault(name, []).append(n)
    return out


def _defaults(fn: ast.FunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index) of each parameter with a default; the index
    leaves out a method's ``self``/``cls`` and is None for keyword-only."""
    a = fn.args
    pos = a.posonlyargs + a.args
    static = any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
    shift = 1 if method and not static else 0
    out = [(p.arg, i - shift) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _sets(call: ast.Call, param: str, index: int | None) -> bool:
    """Whether ``call`` passes ``param``: by keyword, by position, or by
    forwarding ``*args``/``**kwargs``."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def _functions(tree_defs) -> list[tuple[str, tuple[str, ...], ast.FunctionDef, bool]]:
    """(qualified name, names that call it, node, is-method) of a top-level
    definition's functions: itself, or a class's methods (``__init__`` is
    called by the class name)."""
    out = []
    for d in tree_defs:
        if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.append((d.name, (d.name,), d, False))
        elif isinstance(d, ast.ClassDef):
            for f in d.body:
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    callers = (d.name, "__init__") if f.name == "__init__" else (f.name,)
                    out.append((f"{d.name}.{f.name}", callers, f, True))
    return out


def _unset(defs, sources, exempt) -> tuple[list[str], int]:
    """(``module.function.param`` of each keyword default in ``defs`` — a
    list of (module, top-level nodes) — that no call under ``sources``
    sets and ``exempt`` does not name, keyword defaults counted)."""
    calls = _calls(sources)
    unset, total = [], 0
    for m, nodes in defs:
        for qual, callers, fn, method in _functions(nodes):
            for param, index in _defaults(fn, method):
                total += 1
                if (m, f"{qual}.{param}") in exempt:
                    continue
                if not any(_sets(c, param, index) for n in callers for c in calls.get(n, ())):
                    unset.append(f"{m}.{qual}.{param}")
    return unset, total


def param_walk(exempt=PARAM_EXEMPT) -> tuple[list[str], int]:
    """(``module.function.param`` of each keyword default of a reached
    definition that no product-surface call sets, keyword defaults counted).

    The product surface is the root files and every reached definition and
    module-level statement, less the ``EXEMPT`` reference implementations.
    Calls match by name, as the definition walk does, so what this reports
    is certainly unset.
    """
    modules = _modules()
    table = {m: _definitions(t) for m, t in modules.items()}
    reached_mods, reached_defs = _reach(modules, table, EXEMPT)
    sources: list[ast.AST] = list(_root_trees())
    for m in reached_mods:
        sources += table[m][1]
    for m, name in reached_defs:
        if (m, name) not in EXEMPT:
            sources += [_body(d) for d in table[m][0][name]]
    defs = [(m, table[m][0][name]) for m, name in sorted(reached_defs)]
    return _unset(defs, sources, exempt)


def test_every_keyword_default_is_set_from_the_product_surface():
    unset, _ = param_walk()
    assert not unset, f"keyword defaults no product-surface call sets: {unset}"


def test_param_walk_reports_only_defaults_no_call_sets():
    planted = ast.parse(
        "def target(a, by_pos=0, unset=0, by_kw=0):\n"
        "    return a\n"
        "def spread(a, opt=0):\n"
        "    return a\n"
        "def starred(a, opt=0):\n"
        "    return a\n"
        "def caller(*args, **kw):\n"
        "    target(1, 2)\n"
        "    target(1, by_kw=3)\n"
        "    starred(*args)\n"
        "    return spread(1, **kw)\n"
    )
    defs = [("m", [d]) for d in planted.body if d.name != "caller"]
    caller = [_body(d) for d in planted.body if d.name == "caller"]
    unset, total = _unset(defs, caller, {})
    assert (unset, total) == (["m.target.unset"], 5)


def test_each_param_exemption_is_unset_and_passed_by_its_test():
    unset, _ = param_walk(exempt={})
    for (mod, qual), test in PARAM_EXEMPT.items():
        assert f"{mod}.{qual}" in unset, f"{mod}.{qual} is set; drop its exemption"
        fn_name, param = qual.split(".")
        path, fn = test.split("::")
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        body = next(
            (n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == fn), None
        )
        assert body is not None, f"{test} (exemption for {qual}) not found"
        passes = any(k.arg == param for c in _calls([body]).get(fn_name, ()) for k in c.keywords)
        assert passes, f"{test} does not pass {param}= to {fn_name}"
