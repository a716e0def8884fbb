"""Every package name a script imports must still exist.

The test suite runs no script, so moving a helper between package
modules can break ``scripts/*.py``, ``bench.py``, ``__spark_entry__.py``
or ``perfbench/*.py`` without any other test noticing.  This reads each
file's ``import`` statements with ``ast`` (nested ones included) and
resolves every ``tracker_trainer_spark`` module and name they mention.
No Spark session is started and no script is run.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "tracker_trainer_spark"
FILES = sorted(
    [*REPO.glob("scripts/*.py"), *REPO.glob("perfbench/*.py"),
     REPO / "bench.py", REPO / "__spark_entry__.py"])


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every package import in ``path``; name is None
    for a plain ``import module``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] == PACKAGE:
            found += [(node.module, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            found += [(alias.name, None) for alias in node.names
                      if alias.name.split(".")[0] == PACKAGE]
    return found


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


def test_scan_sees_imports():
    # guards the scan itself: a parser change that found nothing would
    # pass every case above vacuously
    assert ("tracker_trainer_spark.queries", "QUERIES") in _package_imports(
        REPO / "__spark_entry__.py")
