"""JSON flatten: arbitrary nested JSON → flat dot-path feature dicts.

Reference semantics (reference: src/trainer/code/feature_flattener.py:22-63):
- dict keys append ``.key``; list elements append ``.index``;
- numbers/bools/strings are kept (bool ⊂ number); None/{}/[] vanish;
- roots are the column names (``item``, ``context``).

The key space is data-dependent, so this is genuinely dynamic-schema
work, done in Python. ``flatten_arrays`` is the one batch kernel: JSON
string arrays, each under its own root, → two Arrow map arrays
(numeric + string features). It has two callers:
- ``flatten_merged``, an Arrow UDF over the kernel, for training, where
  selection and string stats compose JVM-side on the maps;
- ``encode.encode_json_to_vectors``, which chains it into the encode
  kernel inside one Arrow UDF, so scoring's maps never leave the
  Python worker.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

FLAT_STRUCT = "num: map<string,double>, str: map<string,string>"
NUM_MAP = pa.map_(pa.string(), pa.float64())
STR_MAP = pa.map_(pa.string(), pa.string())


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


def flatten_arrays(columns, roots) -> tuple[pa.Array, pa.Array]:
    """Batch kernel: JSON string arrays, each flattened under its root,
    → (num ``map<string,double>``, str ``map<string,string>``) arrays.

    Row i's maps are the union of ``flatten_json`` over row i of every
    column (a SQL NULL contributes nothing); they are never NULL. Items
    and contexts repeat across a batch's rows, so each distinct JSON
    string is parsed once, each distinct combination of the columns'
    strings is merged once, and Arrow ``take`` spreads the merged maps
    over the rows."""
    combo = np.zeros(len(columns[0]), dtype=np.int64)
    parsed = []
    for column, root in zip(columns, roots):
        codes = column.dictionary_encode()
        null = len(codes.dictionary)
        idx = codes.indices.fill_null(null).to_numpy()
        flat = [flatten_json(json.loads(raw), root) for raw in codes.dictionary.to_pylist()]
        parsed.append((flat + [({}, {})], idx))
        combo = np.unique(combo * (null + 1) + idx, return_inverse=True)[1]
    firsts = np.unique(combo, return_index=True)[1]
    num_keys, num_vals, num_offsets = [], [], [0]
    str_keys, str_vals, str_offsets = [], [], [0]
    for row in firsts.tolist():
        num: dict = {}
        strs: dict = {}
        for flat, idx in parsed:
            flat_num, flat_str = flat[idx[row]]
            num.update(flat_num)
            strs.update(flat_str)
        num_keys += num
        num_vals += num.values()
        num_offsets.append(len(num_keys))
        str_keys += strs
        str_vals += strs.values()
        str_offsets.append(len(str_keys))
    rows = pa.array(combo)
    return (_map_array(num_offsets, num_keys, num_vals, NUM_MAP).take(rows),
            _map_array(str_offsets, str_keys, str_vals, STR_MAP).take(rows))


def _map_array(offsets, keys, values, type_) -> pa.Array:
    return pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(keys, pa.string()),
        pa.array(values, type_.item_type), type=type_)


def flatten_merged(cols_and_roots) -> Column:
    """Column: flatten several JSON-string columns, each under its own
    root, into one merged struct(num: map, str: map).

    Roots are distinct path prefixes, so the key spaces cannot collide
    and each row's maps equal the union of the per-column
    ``flatten_json`` results. One Arrow-UDF invocation per batch covers
    every column."""
    ins, roots = json_inputs(cols_and_roots)

    @F.arrow_udf(f"struct<{FLAT_STRUCT}>")
    def _flatten_many(*columns: pa.Array) -> pa.Array:
        num, strs = flatten_arrays(columns, roots)
        return pa.StructArray.from_arrays([num, strs], names=["num", "str"])

    return _flatten_many(*ins)


def json_inputs(cols_and_roots) -> tuple[list[Column], tuple[str, ...]]:
    """``[(column name or Column, root), ...]`` → (UDF input columns, roots)."""
    return ([F.col(c) if isinstance(c, str) else c for c, _ in cols_and_roots],
            tuple(root for _, root in cols_and_roots))
