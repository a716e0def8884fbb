"""encode_to_vectors ≡ a per-row Python oracle, bit for bit.

``encode_to_vectors`` assembles feature vectors with Arrow kernels and a
numpy scatter.  The oracle below is the plain per-row loop over each
row's feature maps (the reference's feature_encoder.py:138-226 order of
writes), built on the same ``StringTable.encode`` / ``_miss_encode``
arithmetic.  The suite pins the two equal over the tricky slot
semantics: str overrides num, extras override the maps, absent slots
are NULL, empty-table miss encode, NULL and empty maps, wide maps and a
vector with no selected feature."""

import math

import pytest

from tracker_trainer_spark.hashing import string_hash
from tracker_trainer_spark.plans import physical_plan
from tracker_trainer_spark.trainer.encode import (
    TIMESTAMP_KEY,
    _miss_encode,
    encode_to_vectors,
    feature_order,
)
from tracker_trainer_spark.trainer.string_tables import StringTable

ROWS_SCHEMA = (
    "decision_id string, t double, y double, w double, "
    "num_features map<string,double>, str_features map<string,string>"
)

# exercises: num-only key, str-only key, BOTH (str must win), key absent
# from maps (NULL element), table hit, table miss (xxh3 band), feature
# with NO table (empty-table miss encode), a 't' entry in the num map
# that the extras column must override, NULL maps, and an unselected key
# that must not leak into any slot
ROWS = [
    ("a", 100.0, 1.0, 1.0,
     {"f.num": 2.5, "t": 999.0}, {"f.str": "alpha"}),
    ("b", 200.0, 0.0, 1.0,
     {"f.both": 7.0}, {"f.both": "beta", "f.notab": "gamma"}),
    ("c", 300.0, 1.0, 1.0, None, {"f.str": "unseen-value"}),
    ("d", 400.0, 0.0, 1.0, {"f.num": -1.25, "junk.key": 5.0}, None),
    ("e", 500.0, 1.0, 1.0, None, None),
]
SELECTED = ["f.num", "f.str", "f.both", "f.notab", "f.absent"]
SEED = 9
# f.str gets a real 2-entry table; f.both a 1-entry table; f.notab none
TABLES = {
    "f.str": sorted({string_hash("alpha", SEED), string_hash("zzz", SEED)}),
    "f.both": [string_hash("beta", SEED)],
}


def _oracle(rows, selected, tables, seed, extras=(TIMESTAMP_KEY,)):
    """Per-row loop: numeric writes, then string writes, then extras;
    unwritten slots (and NaN) come back NULL."""
    names = feature_order(selected, extras)
    index = {n: i for i, n in enumerate(names)}
    encoders = {f: StringTable(t, seed) for f, t in tables.items()}
    out = []
    for decision_id, t, _y, _w, num, strs in sorted(rows):
        vec = [math.nan] * len(names)
        for k, v in (num or {}).items():
            if k in index:
                vec[index[k]] = v
        for k, s in (strs or {}).items():
            if k in index:
                vec[index[k]] = (encoders[k].encode(s) if k in encoders
                                 else _miss_encode(s, seed))
        for c in extras:
            vec[index[c]] = {TIMESTAMP_KEY: t}[c]
        out.append((decision_id,
                    [None if v is None or math.isnan(v) else v for v in vec]))
    return out


def _frame(spark, rows):
    return spark.createDataFrame(rows, ROWS_SCHEMA)


def _collect(df):
    rows = df.orderBy("decision_id").select("decision_id", "features").collect()
    return [(r["decision_id"], list(r["features"])) for r in rows]


def _same(a, b):
    assert len(a) == len(b)
    for (ida, va), (idb, vb) in zip(a, b):
        assert ida == idb
        assert len(va) == len(vb)
        for x, y in zip(va, vb):
            if x is None or y is None:
                assert x is None and y is None, (ida, va, vb)
            else:
                assert x == y, (ida, va, vb)  # bit-equal, not approx


def test_columnar_matches_generic(spark):
    got = _collect(encode_to_vectors(_frame(spark, ROWS), SELECTED, TABLES, SEED))
    _same(got, _oracle(ROWS, SELECTED, TABLES, SEED))
    # sanity, not just parity: str overrides num on f.both
    by_id = dict(got)
    i_both = SELECTED.index("f.both")
    assert by_id["b"][i_both] != 7.0
    # extras override the num map's own 't' entry
    i_t = len(SELECTED)
    assert by_id["a"][i_t] == 100.0
    # absent feature is NULL everywhere
    i_abs = SELECTED.index("f.absent")
    assert all(v[i_abs] is None for v in by_id.values())


def test_columnar_matches_generic_no_extras(spark):
    got = _collect(encode_to_vectors(_frame(spark, ROWS), SELECTED, TABLES, SEED,
                                     extra_num_cols=()))
    _same(got, _oracle(ROWS, SELECTED, TABLES, SEED, extras=()))
    assert all(len(v) == len(SELECTED) for _, v in got)


@pytest.mark.parametrize("n", [257])
def test_columnar_matches_generic_bulk(spark, n):
    """Volume parity: per-batch distinct-value dedup must not change any
    value vs the per-row loop."""
    rows = []
    for i in range(n):
        num = {"f.num": float(i)} if i % 3 else None
        strs = {"f.str": f"v{i % 17}", "f.notab": f"m{i % 5}"} if i % 4 else None
        rows.append((f"id{i:04d}", float(i), 0.0, 1.0, num, strs))
    sel = ["f.num", "f.str", "f.notab"]
    _same(_collect(encode_to_vectors(_frame(spark, rows), sel, TABLES, SEED)),
          _oracle(rows, sel, TABLES, SEED))


def test_encode_null_and_empty_maps(spark):
    """NULL maps and empty maps both leave every map slot NULL; only the
    extras column fills its slot."""
    rows = [
        ("n1", 1.0, 0.0, 1.0, None, None),
        ("n2", 2.0, 0.0, 1.0, {}, {}),
        ("n3", 3.0, 0.0, 1.0, {}, None),
        ("n4", 4.0, 0.0, 1.0, None, {"f.str": "alpha"}),
    ]
    got = _collect(encode_to_vectors(_frame(spark, rows), SELECTED, TABLES, SEED))
    _same(got, _oracle(rows, SELECTED, TABLES, SEED))
    assert dict(got)["n2"] == [None] * len(SELECTED) + [2.0]


def test_encode_zero_selected_features(spark):
    """No selected feature: the vector is the extras alone, or empty."""
    df = _frame(spark, ROWS)
    got = _collect(encode_to_vectors(df, [], TABLES, SEED))
    _same(got, _oracle(ROWS, [], TABLES, SEED))
    assert [v for _, v in got] == [[t] for _, t, *_ in sorted(ROWS)]
    empty = _collect(encode_to_vectors(df, [], TABLES, SEED, extra_num_cols=()))
    assert [v for _, v in empty] == [[]] * len(ROWS)


def test_encode_wide_maps_one_udf(spark):
    """~300 slots over maps of ~150 entries each (selected and unselected
    keys, numeric and string on the same key): parity with the oracle,
    and the whole encode is one Python UDF evaluation in the plan."""
    n_slots = 300
    sel = [f"f.k{j}" for j in range(n_slots)]
    tables = {f"f.k{j}": [string_hash(f"s{v}", SEED) for v in range(j % 4 + 1)]
              for j in range(0, n_slots, 3)}
    rows = []
    for i in range(200):
        num = {f"f.k{j}": float((i * j) % 97) - 40.0 for j in range(i % 5, 2 * n_slots, 6)}
        strs = {f"f.k{j}": f"s{(i + j) % 9}" for j in range(i % 4, 2 * n_slots, 8)}
        rows.append((f"w{i:04d}", float(i), 0.0, 1.0, num, strs))
    assert min(len(r[4]) + len(r[5]) for r in rows) >= 150
    encoded = encode_to_vectors(_frame(spark, rows), sel, tables, SEED)
    _same(_collect(encoded), _oracle(rows, sel, tables, SEED))
    plan = physical_plan(encoded, "simple")
    assert plan.count("EvalPython") == 1, plan
