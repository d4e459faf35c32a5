"""Static import resolution for the scripts outside the package: every
name that ``tools/*.py`` and ``perfbench/*.py`` take from the package
(module-level or inside a function) must exist, so deleting a package
function or module cannot silently break the benchmark harness or a
kept tool. The scripts are parsed, never run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "data_ingestor_gluejob_script_spark"
SCRIPTS = sorted(
    str(p.relative_to(ROOT))
    for d in ("tools", "perfbench")
    for p in (ROOT / d).glob("*.py")
)


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:  # a parent is missing or not a package
        return False


def _resolves(module: str, name: str | None = None) -> bool:
    """True iff ``module`` imports and, when given, ``name`` is one of
    its attributes or submodules."""
    if not _is_module(module):
        return False
    if name is None or hasattr(importlib.import_module(module), name):
        return True
    return _is_module(f"{module}.{name}")


def _package_refs(tree: ast.Module) -> list[tuple[int, str, str | None]]:
    """``(line, module, name)`` for each package import in ``tree``,
    plus one ``(line, module, attr)`` per attribute read on a name an
    import bound to a package module (``pipeline.run``)."""
    refs, modules = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == PKG or mod.startswith(PKG + "."):
                for a in node.names:
                    refs.append((node.lineno, mod, a.name))
                    if _is_module(f"{mod}.{a.name}"):
                        modules[a.asname or a.name] = f"{mod}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    refs.append((node.lineno, a.name, None))
                    if a.asname:
                        modules[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            refs.append((node.lineno, modules[node.value.id], node.attr))
    return refs


@pytest.mark.parametrize("script", SCRIPTS)
def test_package_imports_resolve(script):
    tree = ast.parse((ROOT / script).read_text())
    unresolved = [
        f"{script}:{line}: {mod}" + (f".{name}" if name else "")
        for line, mod, name in _package_refs(tree)
        if not _resolves(mod, name)
    ]
    assert not unresolved, "unresolved package imports:\n" + "\n".join(
        unresolved
    )


def test_sweep_covers_the_benchmark_harness():
    """The sweep sees the harness's imports: a name the package lacks
    fails, and the writer the ingest workload calls is found."""
    tree = ast.parse(
        f"from {PKG}.pipeline import write_partitioned_upsert, gone\n"
        f"from {PKG} import pipeline\n"
        "pipeline.run, pipeline.missing\n"
    )
    bad = {(m, n) for _, m, n in _package_refs(tree) if not _resolves(m, n)}
    assert bad == {
        (f"{PKG}.pipeline", "gone"),
        (f"{PKG}.pipeline", "missing"),
    }
