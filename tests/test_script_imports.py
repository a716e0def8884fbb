"""Every package name a script imports must still exist.

The test suite runs no script, so moving a helper between package
modules can break ``scripts/*.py``, ``bench.py``, ``__spark_entry__.py``
or ``perfbench/*.py`` without any other test noticing.  This reads each
file's ``import`` statements with ``ast`` (nested ones included) and
resolves every ``tracker_trainer_spark`` and ``perfbench`` module and name
they mention: ``bench.py`` reads Spark's status store through
``perfbench.spans``, so a rename there must fail here too.
The perfbench tracer patches package functions by name
(``tr.wrap(module, "attr")`` / ``tr.wrap_context(module, "attr")``), so
each such target must resolve too, or ``--trace 1`` breaks on a rename.
No Spark session is started and no script is run.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGES = ("tracker_trainer_spark", "perfbench")
PERFBENCH = sorted(REPO.glob("perfbench/*.py"))
FILES = sorted(
    [*REPO.glob("scripts/*.py"), *PERFBENCH,
     REPO / "bench.py", REPO / "__spark_entry__.py"])


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every import of a repo package in ``path``;
    name is None for a plain ``import module``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] in PACKAGES:
            found += [(node.module, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            found += [(alias.name, None) for alias in node.names
                      if alias.name.split(".")[0] in PACKAGES]
    return found


def _wrap_targets(path: Path) -> list[tuple[str, str, str]]:
    """(module, name, attr) for every ``*.wrap(name, "attr", ...)`` and
    ``*.wrap_context(name, "attr", ...)`` call in ``path``, where
    ``name`` was bound by ``from module import name``; module is None
    when ``name`` is bound by no such import."""
    tree = ast.parse(path.read_text(), filename=str(path))
    bound = {alias.asname or alias.name: node.module
             for node in ast.walk(tree)
             if isinstance(node, ast.ImportFrom) and node.level == 0
             for alias in node.names}
    return [(bound.get(node.args[0].id), node.args[0].id, node.args[1].value)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("wrap", "wrap_context") and len(node.args) >= 2
            and isinstance(node.args[0], ast.Name)
            and isinstance(node.args[1], ast.Constant)]


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize(
    "path", FILES, ids=[str(p.relative_to(REPO)) for p in FILES])
def test_package_imports_resolve(path):
    missing = [f"{module}:{name}" for module, name in _package_imports(path)
               if not _resolves(module, name)]
    assert not missing, missing


@pytest.mark.parametrize(
    "path", PERFBENCH, ids=[str(p.relative_to(REPO)) for p in PERFBENCH])
def test_traced_wrap_targets_resolve(path):
    missing = []
    for module, name, attr in _wrap_targets(path):
        target = None
        if module is not None and _resolves(module, name):
            target = (getattr(importlib.import_module(module), name, None)
                      or importlib.import_module(f"{module}.{name}"))
        if not hasattr(target, attr):
            missing.append(f"{module}.{name}.{attr}")
    assert not missing, missing


def test_scan_sees_imports():
    # guards the scan itself: a parser change that found nothing would
    # pass every case above vacuously
    assert ("tracker_trainer_spark.queries", "QUERIES") in _package_imports(
        REPO / "__spark_entry__.py")
    assert ("perfbench.spans", "StatusStore") in _package_imports(REPO / "bench.py")
    assert ("tracker_trainer_spark.trainer", "train", "encode_to_vectors") in (
        _wrap_targets(REPO / "perfbench" / "retrain.py"))
    assert ("tracker_trainer_spark.ingest", "lock", "timeline_lock") in (
        _wrap_targets(REPO / "perfbench" / "track_ingest.py"))
