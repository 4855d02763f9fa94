"""Every module under cnics_to_fhir_spark/ is reached from outside tests/.

The roots are the repo's own entry points: every Python file outside
``tests/`` and outside the package (``__spark_entry__.py``, ``selfcheck.py``,
``bench.py``, ``perfbench/``, ``tools/``).  Imports are followed with ``ast``
— nested (function-local) imports included, since the catalog imports its
operators lazily — through the package; importing ``a.b.c`` also runs
``a/__init__.py`` and ``a/b/__init__.py``.  A module no root reaches is code
only the tests exercise: give it a caller or delete it.  No Spark starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "cnics_to_fhir_spark"

# Surfaces of the reference pipeline that its deployments configure but no
# entry point here drives; each stays on purpose.
KEEP = {
    f"{PACKAGE}.load.auth": "the reference's OAuth client-credentials token for the FHIR store",
    f"{PACKAGE}.sources.jdbc": "the reference's MySQL source, read through Spark's JDBC reader",
    f"{PACKAGE}.sources.fhir_datasource": "the FHIR snapshot as a Spark data source and stream",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted((REPO / PACKAGE).rglob("*.py"))}


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` imports, with their parent packages."""
    name = _module_name(path)
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            # `from pkg import mod` names a module; `from mod import fn` a member
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules:
                    found.add(prefix)
    return found


def _unreached() -> list[str]:
    modules = _package_modules()
    todo: list[str] = list(KEEP)
    for root in sorted(REPO.rglob("*.py")):
        parts = root.relative_to(REPO).parts
        if parts[0] in (PACKAGE, "tests") or any(p.startswith(".") for p in parts):
            continue
        todo.extend(_imports(root, modules))
    reached: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in reached:
            continue
        reached.add(mod)
        todo.extend(_imports(modules[mod], modules) - reached)
    return sorted(set(modules) - reached)


def test_every_package_module_is_reached_outside_tests():
    assert set(KEEP) <= set(_package_modules()), "keep-list names a deleted module"
    unreached = _unreached()
    assert not unreached, f"modules that only tests reach: {unreached}"
