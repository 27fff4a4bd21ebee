"""Every library module and module-level function is reached from a
program entry point, not only from tests; every optional parameter of a
library function is passed a value other than its default by some call;
every module-level import is used.

The checks parse source with ``ast`` and import nothing, so they run in
a few seconds. Program roots are the driver contract
(``__spark_entry__.py``), the command-line scripts (``scripts/*.py``) and
the benchmark harness (the non-test files of ``perfbench/``). For
modules, both ``import`` and ``from ... import`` count, relative imports
included, wherever they appear in a file (function-local imports too).
Importing a submodule also reaches every package ``__init__`` above it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "satellitetools_spark"

# The Iceberg source is the production-input wiring that BASELINE.json's
# input_hint names; its runtime jar is absent here, so only its
# (skipping) tests import it.
ALLOWED_UNREACHED = {f"{PKG}.sources.iceberg"}

# Library files whose functions keep their own parameter surface and
# need no program caller: the pure-NumPy reference implementations and
# the (unreached) Iceberg source. Functions whose name contains ``_sql``
# are the DuckDB oracle builders and keep their parameters too.
EXEMPT_FILES = {"groundtruth.py", "sources/iceberg.py"}

# The exact-median switch of the flagship query stays until the 100 TB
# profile that would set it is settled (ROADMAP item 7). The benchmark
# harness passes ``confidence_level`` by keyword, so it stays while the
# benchmark files are unchanged.
ALLOWED_UNSET = {"plans.pipeline:flagship_timeseries.median_accuracy",
                 "operators.timeseries:dataset_to_timeseries.confidence_level"}


def _library_modules() -> dict:
    """Dotted module name -> path for every file under the package."""
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _program_roots() -> list:
    return [REPO / "__spark_entry__.py", *sorted((REPO / "scripts").glob("*.py")),
            *(p for p in sorted((REPO / "perfbench").glob("*.py"))
              if not p.name.startswith("test_"))]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _imported_names(path: Path, package: str | None) -> set:
    """Dotted names a file imports; ``from a import b`` yields both ``a``
    and ``a.b`` (``b`` may be a submodule). ``package`` anchors relative
    imports (None for a root, which has no package)."""
    out = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if package is None:
                    continue
                parts = package.split(".")
                parts = parts[:len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{alias.name}" for alias in node.names)
    return out


def _with_parents(name: str, mods: dict) -> set:
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in mods}


def unreached_modules() -> set:
    mods = _library_modules()
    todo = set()
    for root in _program_roots():
        for name in _imported_names(root, None):
            todo |= _with_parents(name, mods)
    seen = set()
    while todo:
        mod = todo.pop()
        seen.add(mod)
        path = mods[mod]
        package = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        for name in _imported_names(path, package):
            todo |= _with_parents(name, mods) - seen
    return set(mods) - seen


def test_every_library_module_is_reached_from_a_program_root():
    unreached = unreached_modules()
    # an allowlist entry that is now reached, or deleted, is stale
    assert unreached == ALLOWED_UNREACHED, (
        "library modules that no entry point, script or benchmark imports "
        f"(only tests reach them): {sorted(unreached - ALLOWED_UNREACHED)}; "
        f"stale allowlist entries: {sorted(ALLOWED_UNREACHED - unreached)}")


def _names_used(*nodes) -> set:
    """Every ``x`` of a name ``x``, an attribute ``a.x`` or an import
    ``from a import x`` under ``nodes``."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                out.update(alias.name for alias in node.names)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached_functions(library: dict | None = None,
                        roots: list | None = None) -> set:
    """``module:name`` of every module-level ``def``/``class`` of a
    library file outside ``EXEMPT_FILES`` that no program root reaches.

    ``library`` maps a module name to its parsed source and ``roots``
    lists the parsed program roots; both default to this repository.
    Reach is by name: a root's names, and the names in library
    module-level statements other than ``def``/``class`` and imports,
    reach every definition of that name, whose source then reaches more
    names in turn. A library import alone reaches nothing, so a package
    ``__init__`` re-export does not keep a test-only function alive."""
    if library is None:
        library = {}
        for path in sorted((REPO / PKG).rglob("*.py")):
            rel = path.relative_to(REPO / PKG).as_posix()
            library[rel[:-len(".py")].replace("/", ".")] = _parse(path)
    if roots is None:
        roots = [_parse(p) for p in _program_roots()]
    defs: dict = {}
    todo = _names_used(*roots)
    for mod, tree in library.items():
        for node in tree.body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((f"{mod}:{node.name}", node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                todo |= _names_used(node)
    seen = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        for _, node in defs.get(name, []):
            todo |= _names_used(node) - seen
    exempt = {f[:-len(".py")].replace("/", ".") for f in EXEMPT_FILES}
    return {key for name, found in defs.items() if name not in seen
            for key, _ in found if key.partition(":")[0] not in exempt}


def test_every_library_function_is_reached_from_a_program_root():
    unreached = unreached_functions()
    assert not unreached, (
        "library functions and classes that no entry point, script or "
        f"benchmark reaches (only tests do): {sorted(unreached)}")


def _module_constants(tree: ast.Module) -> dict:
    """Name -> value of every module-level ``NAME = <literal>``."""
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target, value = node.targets[0], node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            target, value = node.target, node.value
        else:
            continue
        if isinstance(target, ast.Name):
            try:
                out[target.id] = ast.literal_eval(value)
            except (ValueError, TypeError):
                pass
    return out


def _value(node: ast.expr, consts: dict) -> str:
    """``repr`` of a literal, or of a module literal constant of the file
    the expression is in; the source text of anything else."""
    if isinstance(node, ast.Name) and node.id in consts:
        return repr(consts[node.id])
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return ast.unparse(node)


def _optional_params() -> dict:
    """``module:function.param`` -> (function name, param name, positional
    index or None for keyword-only, default value) for every parameter with
    a default of a module-level library function in scope; the default
    value is as ``_value`` reads it."""
    out = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO / PKG).as_posix()
        if rel in EXEMPT_FILES:
            continue
        mod = rel[:-len(".py")].replace("/", ".")
        tree = _parse(path)
        consts = _module_constants(tree)
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or "_sql" in fn.name:
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, (arg, default) in enumerate(zip(pos[first:], a.defaults), first):
                out[f"{mod}:{fn.name}.{arg.arg}"] = (
                    fn.name, arg.arg, i, _value(default, consts))
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    out[f"{mod}:{fn.name}.{arg.arg}"] = (
                        fn.name, arg.arg, None, _value(default, consts))
    return out


def _calls_by_name(trees: list | None = None) -> dict:
    """Callee name (``f`` of ``f(...)`` or ``x.f(...)``) -> (call, module
    constants of its file) for every call of that name in ``trees``, by
    default every Python file of the repository."""
    if trees is None:
        trees = [_parse(p) for p in REPO.rglob("*.py")
                 if not any(s.startswith(".") for s in p.relative_to(REPO).parts)]
    calls: dict = {}
    for tree in trees:
        consts = _module_constants(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls.setdefault(name, []).append((node, consts))
    return calls


def _sets(call: ast.Call, consts: dict, param: str, index, default: str) -> bool:
    """Whether ``call`` passes ``param`` a value other than ``default``;
    spreading ``*args`` / ``**kwargs`` counts as passing one."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    for k in call.keywords:
        if k.arg is None:
            return True
        if k.arg == param:
            return _value(k.value, consts) != default
    if index is not None and len(call.args) > index:
        return _value(call.args[index], consts) != default
    return False


def unset_optional_params(params: dict | None = None,
                          calls: dict | None = None) -> set:
    params = _optional_params() if params is None else params
    calls = _calls_by_name() if calls is None else calls
    return {key for key, (fn, param, index, default) in params.items()
            if not any(_sets(c, consts, param, index, default)
                       for c, consts in calls.get(fn, []))}


def test_every_optional_parameter_has_a_caller():
    """A default that no call in the repository overrides with another
    value is not an option: inline it. Calls match by function name; a
    passed value equals the default when both read the same as a literal
    (after resolving a module-level literal constant of each file) or
    have the same source text."""
    unset = unset_optional_params()
    assert unset == ALLOWED_UNSET, (
        "optional parameters that no call in the repository passes a "
        f"non-default value: {sorted(unset - ALLOWED_UNSET)}; "
        f"stale allowlist entries: {sorted(ALLOWED_UNSET - unset)}")


def test_guard_rules_on_snippets():
    """The rules above on small sources: passing the default, positionally,
    by keyword or through a module constant, does not set a parameter;
    another value, a variable or ``*args`` does. A function that only a
    test module names, or only a library import re-exports, is
    unreached."""
    params = {"m:f.k": ("f", "k", 1, "3")}
    for src in ("f(x, k=3)", "f(x, 3)", "JACCARD_N = 3\nf(x, k=JACCARD_N)"):
        calls = _calls_by_name([ast.parse(src)])
        assert unset_optional_params(params, calls) == {"m:f.k"}, src
    for src in ("f(x, k=4)", "f(x, k=k)", "f(*a)", "f(x, **kw)"):
        calls = _calls_by_name([ast.parse(src)])
        assert unset_optional_params(params, calls) == set(), src

    library = {"lib": ast.parse("def used():\n    return helper()\n"
                                "def helper():\n    return 1\n"
                                "def only_tested():\n    return 2\n"),
               "groundtruth": ast.parse("def reference():\n    return 3\n")}
    test_module = ast.parse("from lib import only_tested\n"
                            "def test_it():\n    assert only_tested() == 2\n")
    root = ast.parse("from lib import used\nused()\n")
    assert unreached_functions(library, [root]) == {"lib:only_tested"}
    assert unreached_functions(library, [root, test_module]) == set()
    reexport = dict(library, pkg=ast.parse("from lib import only_tested\n"))
    assert unreached_functions(reexport, [root]) == {"lib:only_tested"}


def _import_guard_files() -> list:
    lib = [p for p in sorted((REPO / PKG).rglob("*.py")) if p.name != "__init__.py"]
    return [*lib, *sorted((REPO / "scripts").glob("*.py")), REPO / "__spark_entry__.py"]


def unused_imports(tree: ast.Module) -> set:
    """Names bound by a module-level import of ``tree`` that nothing in
    it reads."""
    bound = set()
    for node in tree.body:
        if isinstance(node, ast.Import):
            bound |= {a.asname or a.name.partition(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound |= {a.asname or a.name for a in node.names}
    return bound - {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}


def test_every_module_level_import_is_used():
    unused = {f"{p.relative_to(REPO).as_posix()}:{name}"
              for p in _import_guard_files() for name in unused_imports(_parse(p))}
    assert not unused, f"module-level imports that the file never uses: {sorted(unused)}"
