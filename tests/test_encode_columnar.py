"""encode_to_vectors and encode_json_to_vectors ≡ a per-row Python
oracle, bit for bit.

``encode_to_vectors`` assembles feature vectors from map columns with
Arrow kernels and a numpy scatter; ``encode_json_to_vectors`` runs the
flatten kernel and the same encode kernel over JSON-string columns in
one UDF.  The oracle below is the plain per-row loop over each
row's feature maps (the reference's feature_encoder.py:138-226 order of
writes), built on the same ``StringTable.encode`` / ``_miss_encode``
arithmetic.  The suite pins the two equal over the tricky slot
semantics: str overrides num, extras override the maps, absent slots
are NULL, empty-table miss encode, NULL and empty maps, wide maps and a
vector with no selected feature; for the JSON entry also JSON ``null``
and SQL NULL roots, nested lists, bools, NaN and keys containing ``.``.
Scoring's plan is pinned to that one Python UDF."""

import json
import math

import pytest
from pyspark.sql import functions as F

from tracker_trainer_spark.hashing import string_hash
from tracker_trainer_spark.plans import physical_plan
from tracker_trainer_spark.trainer.encode import (
    TIMESTAMP_KEY,
    _miss_encode,
    encode_json_to_vectors,
    encode_to_vectors,
    feature_order,
)
from tracker_trainer_spark.trainer.flatten import flatten_json, flatten_merged
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


JSON_SCHEMA = "decision_id string, t double, context string, item string, tj string"
JSON_ROOTS = [("context", "context"), ("item", "item"), ("tj", "t")]

# exercises: str overrides num on one key ("a.b" and a.b both flatten
# to item.a.b), a key containing ".", table hit / miss, a feature with
# no table, a bare number under root "t" that the extras column must
# override, JSON null and SQL NULL roots, nested lists, bools, NaN (NULL
# element), an unselected key, an all-NULL row, and rows repeating j1's
# strings (the kernel parses and merges each distinct string once)
JSON_ROWS = [
    ("j1", 10.0, '{"os": "ios", "hour": 7}',
     '{"a.b": 3, "a": {"b": "beta"}, "song": "alpha"}', "999"),
    ("j2", 20.0, "null", '{"song": "unseen", "tags": [[1, "x"], [true]]}', None),
    ("j3", 30.0, None, '{"a.b": 2.5, "flag": false, "n": NaN}', "null"),
    ("j4", 40.0, '{"os": "android", "hour": 23, "junk": {"k": 1}}',
     '{"song": "zzz", "tags": [[0.5]]}', None),
    ("j5", 50.0, None, None, None),
    ("j6", 60.0, '{"os": "ios", "hour": 7}',
     '{"a.b": 3, "a": {"b": "beta"}, "song": "alpha"}', None),
    ("j7", 70.0, '{"os": "ios", "hour": 7}',
     '{"a.b": 3, "a": {"b": "beta"}, "song": "alpha"}', "999"),
]
JSON_SELECTED = ["item.a.b", "item.song", "context.os", "context.hour",
                 "item.tags.0.0", "item.tags.0.1", "item.tags.1.0",
                 "item.flag", "item.n", "item.absent", "t"]
JSON_TABLES = {
    "item.song": sorted({string_hash("alpha", SEED), string_hash("zzz", SEED)}),
    "item.a.b": [string_hash("beta", SEED)],
}


def _flat_rows(rows, roots=JSON_ROOTS):
    """JSON rows → the oracle's (id, t, y, w, num, str) rows through the
    per-row ``flatten_json``."""
    out = []
    for decision_id, t, *raws in rows:
        num, strs = {}, {}
        for raw, (_, root) in zip(raws, roots):
            if raw is not None:
                flatten_json(json.loads(raw), root, num, strs)
        out.append((decision_id, t, 0.0, 1.0, num, strs))
    return out


def _encode_json(spark, rows, selected, tables, roots=JSON_ROOTS, **kw):
    df = spark.createDataFrame(rows, JSON_SCHEMA)
    return encode_json_to_vectors(df, roots, selected, tables, SEED, **kw)


def test_json_entry_matches_oracle(spark):
    got = _collect(_encode_json(spark, JSON_ROWS, JSON_SELECTED, JSON_TABLES))
    _same(got, _oracle(_flat_rows(JSON_ROWS), JSON_SELECTED, JSON_TABLES, SEED))
    by_id = dict(got)
    i = JSON_SELECTED.index
    # str overrides num on the colliding key, with a table hit
    assert by_id["j1"][i("item.a.b")] == StringTable(
        JSON_TABLES["item.a.b"], SEED).encode("beta")
    assert by_id["j3"][i("item.a.b")] == 2.5
    # extras override the flattened bare number under root "t"
    assert by_id["j1"][i("t")] == 10.0
    # nested lists and bools are numeric slots; NaN is a NULL element
    assert by_id["j2"][i("item.tags.0.0")] == 1.0
    assert by_id["j2"][i("item.tags.1.0")] == 1.0
    assert by_id["j3"][i("item.flag")] == 0.0
    assert by_id["j3"][i("item.n")] is None
    # no table: the empty-table miss encode
    assert by_id["j4"][i("context.os")] == _miss_encode("android", SEED)
    assert by_id["j5"] == [None] * (len(JSON_SELECTED) - 1) + [50.0]
    assert by_id["j7"] == by_id["j1"][:-1] + [70.0]


def test_json_entry_matches_map_entry_no_extras(spark):
    """No extras: the JSON entry equals the oracle, and the map entry over
    ``flatten_merged``'s maps of the same rows."""
    got = _collect(_encode_json(spark, JSON_ROWS, JSON_SELECTED, JSON_TABLES,
                                extra_num_cols=()))
    _same(got, _oracle(_flat_rows(JSON_ROWS), JSON_SELECTED, JSON_TABLES, SEED,
                       extras=()))
    maps = (spark.createDataFrame(JSON_ROWS, JSON_SCHEMA)
            .withColumn("_f", flatten_merged(JSON_ROOTS))
            .select("decision_id", F.col("_f.num").alias("num_features"),
                    F.col("_f.str").alias("str_features")))
    _same(got, _collect(encode_to_vectors(maps, JSON_SELECTED, JSON_TABLES, SEED,
                                          extra_num_cols=())))


def test_json_entry_wide_one_udf(spark):
    """300 slots over ≥150 flattened keys per row, nested objects and
    lists, numeric and string values on the same key paths; the whole
    flatten + encode is one Python UDF in the plan."""
    n_slots = 300
    sel = [f"item.k{j}" for j in range(0, n_slots, 2)] + \
        [f"context.g.{j}" for j in range(n_slots // 2)]
    tables = {f"item.k{j}": [string_hash(f"s{v}", SEED) for v in range(j % 4 + 1)]
              for j in range(0, n_slots, 6)}
    rows = []
    for i in range(200):
        item = {f"k{j}": (f"s{(i + j) % 9}" if (i + j) % 3 else float((i * j) % 97) - 40.0)
                for j in range(i % 3, 2 * n_slots, 3)}
        context = {"g": [(i * j) % 11 if j % 5 else f"s{j % 7}" for j in range(n_slots // 2)]}
        rows.append((f"w{i:04d}", float(i), json.dumps(context), json.dumps(item), None))
    assert min(len(r[3]) for r in rows) > 0
    flat = _flat_rows(rows)
    assert min(len(num) + len(strs) for *_, num, strs in flat) >= 150
    encoded = _encode_json(spark, rows, sel, tables)
    _same(_collect(encoded), _oracle(flat, sel, tables, SEED))
    plan = physical_plan(encoded, "simple")
    assert plan.count("EvalPython") == 1, plan


def test_score_items_one_arrow_udf(spark):
    """score_items is one Python round trip: its physical plan holds
    exactly one ArrowEvalPython (flatten and encode in one UDF), and its
    scores equal the model applied to the map entry's vectors."""
    from pyspark.ml.regression import GBTRegressor

    from tracker_trainer_spark.trainer.scoring import score_items
    from tracker_trainer_spark.trainer.train import TrainedModel, model_input

    cands = spark.createDataFrame(JSON_ROWS, JSON_SCHEMA).drop("t")
    selected = [f for f in JSON_SELECTED if f != TIMESTAMP_KEY]
    maps = (cands.withColumn("_f", flatten_merged(JSON_ROOTS[:2]))
            .withColumn(TIMESTAMP_KEY, F.lit(7.0))
            .withColumn("num_features", F.col("_f.num"))
            .withColumn("str_features", F.col("_f.str")))
    encoded = encode_to_vectors(maps, selected, JSON_TABLES, SEED)
    train = model_input(encoded).withColumn("y", F.hash("item").cast("double"))
    model = GBTRegressor(labelCol="y", maxIter=2, maxDepth=2, seed=1).fit(train)
    tm = TrainedModel(model=model, feature_names=feature_order(selected),
                      string_tables=JSON_TABLES, model_seed=SEED)

    scored = score_items(tm, cands, now_ts=7.0)
    plan = physical_plan(scored, "simple")
    assert plan.count("ArrowEvalPython") == 1, plan
    got = {r["decision_id"]: r["score"] for r in scored.collect()}
    want = {r["decision_id"]: r["prediction"]
            for r in model.transform(model_input(encoded)).collect()}
    assert got == want
    assert len(set(got.values())) > 1  # the model distinguishes the rows
