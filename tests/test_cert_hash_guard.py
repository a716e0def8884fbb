"""Pin every registry query's code and oracle to a recorded fingerprint.

The fingerprint is sha256 over the query function's AST with docstrings
removed, plus its oracle SQL (empty for rows-only queries). Comments,
docstrings and formatting can change freely; a change to a query's code
or oracle fails its case here, so a refactor that is meant to move code
without changing it is checked body by body. When a query is changed on
purpose, re-record after `tests/test_queries_oracle.py` passes:

    python tests/test_cert_hash_guard.py

The fingerprint covers the query function itself, not the helpers it
calls; those are covered by the oracle checks. No Spark session needed.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import sys
import textwrap
from pathlib import Path

import pytest

if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tracker_trainer_spark import queries as q

_RECORD = Path(__file__).parent / "data" / "query_fingerprints.json"
_RECORDED = json.loads(_RECORD.read_text()) if _RECORD.exists() else {}


def query_fingerprint(query_fn, oracle_sql: str | None) -> str:
    tree = ast.parse(textwrap.dedent(inspect.getsource(query_fn)))
    for node in ast.walk(tree):
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
                and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)
                and isinstance(node.body[0].value.value, str)):
            node.body = node.body[1:] or [ast.Pass()]
    blob = ast.dump(tree) + "\n--oracle--\n" + (oracle_sql or "")
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def current_fingerprints() -> dict[str, str]:
    return {name: query_fingerprint(fn, q.ORACLES.get(name))
            for name, fn in sorted(q.QUERIES.items())}


def test_recorded_set_matches_certified_set():
    """Every registry query has a recorded fingerprint and no record is
    left for a query that is gone."""
    assert set(_RECORDED) == set(q.QUERIES), (
        "registry and tests/data/query_fingerprints.json diverged; "
        "re-record with `python tests/test_cert_hash_guard.py`")


@pytest.mark.parametrize("name", sorted(_RECORDED))
def test_certified_body_unchanged(name):
    if name not in q.QUERIES:
        pytest.skip("covered by the set-equality test")
    fp = query_fingerprint(q.QUERIES[name], q.ORACLES.get(name))
    assert fp == _RECORDED[name], (
        f"the code or oracle of {name} changed since it was recorded; "
        "if that is intended and tests/test_queries_oracle.py passes, "
        "re-record with `python tests/test_cert_hash_guard.py`")


if __name__ == "__main__":
    fps = current_fingerprints()
    _RECORD.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(fps)} fingerprints -> {_RECORD}")
