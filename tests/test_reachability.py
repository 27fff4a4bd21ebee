"""Every library module is reached from a program entry point, not only
from tests.

The check parses source with ``ast`` and imports nothing, so it runs in
well under a second. Roots are the driver contract (``__spark_entry__.py``),
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
