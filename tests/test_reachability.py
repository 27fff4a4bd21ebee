"""Every library module is reached from a program entry point, not only
from tests; every optional parameter of a library function is passed by
some call.

Both checks parse source with ``ast`` and import nothing, so they run in
a few seconds. Module roots are the driver contract (``__spark_entry__.py``),
the command-line scripts (``scripts/*.py``) and the benchmark harness (the
non-test files of ``perfbench/``). Both ``import`` and ``from ... import``
count, relative imports included, wherever they appear in a file
(function-local imports too). Importing a submodule also reaches every
package ``__init__`` above it.
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

# Library files whose functions keep their own parameter surface: the
# pure-NumPy reference implementations and the (unreached) Iceberg source.
# Functions whose name contains ``_sql`` are the DuckDB oracle builders and
# are exempt too.
PARAM_EXEMPT_FILES = {"groundtruth.py", "sources/iceberg.py"}

# The exact-median switch of the flagship query stays until the 100 TB
# profile that would set it is settled (ROADMAP item 7).
ALLOWED_UNSET = {"plans.pipeline:flagship_timeseries.median_accuracy"}


def _library_modules() -> dict:
    """Dotted module name -> path for every file under the package."""
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, package: str | None) -> set:
    """Dotted names a file imports; ``from a import b`` yields both ``a``
    and ``a.b`` (``b`` may be a submodule). ``package`` anchors relative
    imports (None for a root, which has no package)."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
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
    roots = [REPO / "__spark_entry__.py", *sorted((REPO / "scripts").glob("*.py")),
             *(p for p in sorted((REPO / "perfbench").glob("*.py"))
               if not p.name.startswith("test_"))]
    todo = set()
    for root in roots:
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


def _optional_params() -> dict:
    """``module:function.param`` -> (function name, param name, positional
    index or None for keyword-only) for every parameter with a default of
    a module-level library function in scope."""
    out = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO / PKG).as_posix()
        if rel in PARAM_EXEMPT_FILES:
            continue
        mod = rel[:-len(".py")].replace("/", ".")
        for fn in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(fn, ast.FunctionDef) or "_sql" in fn.name:
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, arg in enumerate(pos[first:], first):
                out[f"{mod}:{fn.name}.{arg.arg}"] = (fn.name, arg.arg, i)
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    out[f"{mod}:{fn.name}.{arg.arg}"] = (fn.name, arg.arg, None)
    return out


def _calls_by_name() -> dict:
    """Callee name (``f`` of ``f(...)`` or ``x.f(...)``) -> every call of
    that name in any Python file of the repository."""
    calls: dict = {}
    for path in REPO.rglob("*.py"):
        if any(p.startswith(".") for p in path.relative_to(REPO).parts):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _sets(call: ast.Call, param: str, index) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def unset_optional_params() -> set:
    calls = _calls_by_name()
    return {key for key, (fn, param, index) in _optional_params().items()
            if not any(_sets(c, param, index) for c in calls.get(fn, []))}


def test_every_optional_parameter_has_a_caller():
    """A default that no call in the repository overrides is not an
    option: inline it. A call counts as setting a parameter when it passes
    it by keyword, passes enough positional arguments to reach it, or
    spreads ``*args`` / ``**kwargs``; calls match by function name."""
    unset = unset_optional_params()
    assert unset == ALLOWED_UNSET, (
        "optional parameters that no call in the repository passes: "
        f"{sorted(unset - ALLOWED_UNSET)}; "
        f"stale allowlist entries: {sorted(ALLOWED_UNSET - unset)}")
