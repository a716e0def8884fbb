"""JSON flatten: arbitrary nested JSON → flat dot-path feature dicts.

Reference semantics (reference: src/trainer/code/feature_flattener.py:22-63):
- dict keys append ``.key``; list elements append ``.index``;
- numbers/bools/strings are kept (bool ⊂ number); None/{}/[] vanish;
- roots are the column names (``item``, ``context``).

The key space is data-dependent, so this is genuinely dynamic-schema
work, done in Python as an Arrow-batched pandas UDF returning two typed
maps (numeric + string features). Selection and string stats compose
JVM-side on these maps; vector assembly reads them in the encode's one
Arrow UDF (``encode.encode_to_vectors``).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

FLAT_STRUCT = "num: map<string,double>, str: map<string,string>"


def flatten_json(obj, root: str, num: dict | None = None, strs: dict | None = None):
    """Pure kernel: one JSON value → (numeric-features, string-features)."""
    if num is None:
        num = {}
    if strs is None:
        strs = {}
    _walk(obj, root, num, strs)
    return num, strs


def _walk(obj, path, num, strs):
    if isinstance(obj, bool):
        num[path] = 1.0 if obj else 0.0
    elif isinstance(obj, (int, float)):
        num[path] = float(obj)
    elif isinstance(obj, str):
        strs[path] = obj
    elif isinstance(obj, dict):
        for k, v in obj.items():
            _walk(v, f"{path}.{k}", num, strs)
    elif isinstance(obj, (list, tuple)):
        for i, v in enumerate(obj):
            _walk(v, f"{path}.{i}", num, strs)
    elif obj is None:
        pass
    else:
        raise ValueError(f"not JSON-flattenable: {obj!r}")


def flatten_merged(cols_and_roots) -> Column:
    """Column: flatten several JSON-string columns, each under its own
    root, into one merged struct(num: map, str: map).

    The one flatten of the engine. Roots are distinct path prefixes, so
    the key spaces cannot collide and each row's maps equal the union of
    the per-column ``flatten_json`` results. One pandas-UDF invocation
    per batch covers every column.
    """
    roots = tuple(root for _, root in cols_and_roots)

    @F.pandas_udf(f"struct<{FLAT_STRUCT}>")
    def _flatten_many(*series: pd.Series) -> pd.DataFrame:
        nums, strss = [], []
        for vals in zip(*series):
            n: dict = {}
            s: dict = {}
            for raw, root in zip(vals, roots):
                if raw is not None:
                    flatten_json(json.loads(raw), root, n, s)
            nums.append(n)
            strss.append(s)
        return pd.DataFrame({"num": nums, "str": strss})

    ins = [F.col(c) if isinstance(c, str) else c for c, _ in cols_and_roots]
    return _flatten_many(*ins)
