"""Training-row encode: E1 propensity explode + feature-vector assembly.

E1 (reference: src/trainer/code/propensities.py:130-165): each decision
row emits the chosen item (y=1, w=1) and, when count > 1, the sample
(y=0, w=count-1); both rows share the flattened context and
``t`` = KSUID-embedded timestamp.

Vector assembly (E2/P8, reference feature_encoder.py:138-226): selected
feature names define a fixed slot order; numeric features pass through,
string features encode via the per-feature StringTable, absent features
are NULL elements (each backend's model input turns them into its own
missing marker, see ``train.model_input``). ``_VectorKernel`` is the one
batch encode, with two entries, each a single Arrow UDF per batch:
- ``encode_to_vectors`` over the two map columns of ``flatten_merged``
  (training, which also needs the maps for selection and string stats);
- ``encode_json_to_vectors`` over the JSON-string columns, chaining
  ``flatten.flatten_arrays`` into the kernel in the Python worker
  (batch and streaming scoring, the registry's scoring pass).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ksuid import ksuid_timestamp
from .flatten import flatten_arrays, flatten_merged, json_inputs
from .string_tables import StringTable

TIMESTAMP_KEY = "t"  # reference: src/trainer/code/constants.py:5


def propensity_training_rows(df: DataFrame) -> DataFrame:
    """E1: rewarded-decision rows → (num_features, str_features, t, y, w).

    Input: at-rest rows with item/context/sample JSON strings + count.
    One narrow stage: two fused flatten UDF calls (each a single Arrow
    round-trip), inline array explode — no shuffle. The sample variant is
    flattened directly under the ``item`` root, which IS the reference's
    re-rooting (both go through flatten_item, propensities.py:153-165) —
    no post-hoc key rewrite needed.
    """
    with_flat = (
        df.withColumn(
            "_chosen",
            flatten_merged([("context", "context"), ("item", "item")]),
        )
        .withColumn(
            "_alt",
            flatten_merged([("context", "context"), ("sample", "item")]),
        )
        .withColumn("_t", ksuid_timestamp(F.col("decision_id")))
    )

    chosen = F.struct(
        F.col("_chosen")["num"].alias("num"),
        F.col("_chosen")["str"].alias("str"),
        F.lit(1.0).alias("y"),
        F.lit(1.0).alias("w"),
    )
    sample = F.struct(
        F.col("_alt")["num"].alias("num"),
        F.col("_alt")["str"].alias("str"),
        F.lit(0.0).alias("y"),
        (F.col("count") - 1).cast("double").alias("w"),
    )
    rows = F.when(
        F.col("count") > 1, F.array(chosen, sample)
    ).otherwise(F.array(chosen))
    return (
        with_flat.select("decision_id", F.col("_t").alias(TIMESTAMP_KEY), F.explode(rows).alias("r"))
        .select(
            "decision_id",
            TIMESTAMP_KEY,
            F.col("r.num").alias("num_features"),
            F.col("r.str").alias("str_features"),
            F.col("r.y").alias("y"),
            F.col("r.w").alias("w"),
        )
    )


def encode_to_vectors(df: DataFrame, feature_names: list[str],
                      string_tables: dict[str, list[int]], model_seed: int,
                      num_col: str = "num_features", str_col: str = "str_features",
                      extra_num_cols: tuple = (TIMESTAMP_KEY,),
                      out_col: str = "features") -> DataFrame:
    """P8/E2: map columns → fixed-order array<double> feature vector.

    ``feature_order(feature_names, extra_num_cols)`` fixes the slots; the
    write order is ``_VectorKernel``'s. One Arrow UDF per batch over the
    two map columns (training, which needs the maps for selection and
    string stats anyway)."""
    kernel = _VectorKernel(feature_names, string_tables, model_seed, extra_num_cols)

    @F.arrow_udf("array<double>")
    def _assemble(num: pa.Array, strs: pa.Array, extras: pa.Array) -> pa.Array:
        return kernel(num, strs, extras)

    return df.withColumn(
        out_col, _assemble(F.col(num_col), F.col(str_col), _extras(extra_num_cols)))


def encode_json_to_vectors(df: DataFrame, cols_and_roots, feature_names: list[str],
                           string_tables: dict[str, list[int]], model_seed: int,
                           extra_num_cols: tuple = (TIMESTAMP_KEY,),
                           out_col: str = "features") -> DataFrame:
    """JSON-string columns → the same vector ``encode_to_vectors`` builds
    from ``flatten_merged``'s maps, in one Arrow UDF per batch.

    ``cols_and_roots`` is ``flatten_merged``'s argument. Inside the UDF
    the flatten kernel's map arrays feed the encode kernel directly, so
    the maps never leave the Python worker (scoring)."""
    kernel = _VectorKernel(feature_names, string_tables, model_seed, extra_num_cols)
    ins, roots = json_inputs(cols_and_roots)

    @F.arrow_udf("array<double>")
    def _flatten_assemble(extras: pa.Array, *columns: pa.Array) -> pa.Array:
        return kernel(*flatten_arrays(columns, roots), extras)

    return df.withColumn(out_col, _flatten_assemble(_extras(extra_num_cols), *ins))


def _extras(extra_num_cols: tuple) -> Column:
    return F.array(*[F.col(c).cast("double") for c in extra_num_cols]).cast("array<double>")


class _VectorKernel:
    """The one batch encode: (num map, str map, extras list) arrays →
    ``array<double>`` vectors over ``feature_order(feature_names,
    extra_num_cols)``.

    In each row a selected key's numeric value is written first, then its
    string value (StringTable encode, or the empty-table miss encode for
    a feature without a table) overrides it, and the extras (``t``)
    override both. A slot with no value, or NaN, is a NULL element.
    Map entries are matched to slots with Arrow kernels and scattered
    into a numpy matrix; each distinct (slot, string) pair is encoded
    once per batch. The string tables ride in the UDF's closure, shipped
    with the task's Python command."""

    def __init__(self, feature_names, string_tables, model_seed, extra_num_cols):
        names = feature_order(feature_names, extra_num_cols)
        self.width = len(names)
        self.slot_names = pa.array(names, pa.string())
        self.tables = [StringTable(string_tables[f], model_seed) if f in string_tables
                       else None for f in names]
        self.extra_slots = np.array([names.index(c) for c in extra_num_cols],
                                    dtype=np.int64)
        self.model_seed = model_seed

    def encode_string(self, slot: int, s: str) -> float:
        table = self.tables[slot]
        return _miss_encode(s, self.model_seed) if table is None else table.encode(s)

    def __call__(self, num: pa.Array, strs: pa.Array, extras: pa.Array) -> pa.Array:
        n, width = len(num), self.width
        vec = np.full((n, width), np.nan)
        rows, slots, values = _selected_entries(num, self.slot_names)
        vec[rows, slots] = values.to_numpy(zero_copy_only=False)
        rows, slots, values = _selected_entries(strs, self.slot_names)
        codes = values.dictionary_encode()
        n_strings = len(codes.dictionary)
        pairs, inverse = np.unique(
            slots * n_strings + codes.indices.to_numpy(), return_inverse=True)
        strings = codes.dictionary.to_pylist()
        encoded = np.array([self.encode_string(p // n_strings, strings[p % n_strings])
                            for p in pairs.tolist()], dtype=np.float64)
        vec[rows, slots] = encoded[inverse]
        vec[:, self.extra_slots] = pc.list_flatten(extras).to_numpy(
            zero_copy_only=False).reshape(n, len(self.extra_slots))
        flat = vec.ravel()
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * width)
        return pa.ListArray.from_arrays(offsets, pa.array(flat, mask=np.isnan(flat)))


def _selected_entries(maps: pa.Array, slot_names: pa.Array):
    """(row, slot, value) of every non-null map entry whose key is a
    slot name, for one Arrow batch of a map column."""
    lists = maps.view(pa.list_(pa.struct([maps.type.key_field, maps.type.item_field])))
    keys, values = pc.list_flatten(lists).flatten()
    slots = pc.index_in(keys, value_set=slot_names)
    keep = pc.and_(slots.is_valid(), values.is_valid())
    return (pc.filter(pc.list_parent_indices(lists), keep).to_numpy(),
            pc.filter(slots, keep).to_numpy().astype(np.int64),
            pc.filter(values, keep))


def _miss_encode(s: str, model_seed: int) -> float:
    """Empty-table encode: deterministic miss in [-0.5, 0.5]
    (reference: feature_encoder.py StringTable with empty table)."""
    from .string_tables import _cached_hash

    h = _cached_hash(s, model_seed)
    return ((h & 0xFFFFFFFF) * 2**-32) - 0.5


def feature_order(selected: list[str], extras: tuple = (TIMESTAMP_KEY,)) -> list[str]:
    names = list(selected)
    for c in extras:
        if c not in names:
            names.append(c)
    return names
