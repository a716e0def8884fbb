"""Trainer encode path: golden parity with the reference's test cases
(reference: tests/test_cases/trainer_test_cases/encode_for_train_*.json)
plus unit semantics for flatten / selection / string tables / weights."""

import glob
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from tracker_trainer_spark.trainer.flatten import flatten_json
from tracker_trainer_spark.trainer.encode import propensity_training_rows
from tracker_trainer_spark.trainer.selection import select_features
from tracker_trainer_spark.trainer.string_tables import (
    StringTable,
    build_string_tables,
    string_stats,
)
from tracker_trainer_spark.trainer.weights import zero_truncated_poisson

GOLDEN_DIR = "/root/reference/tests/test_cases/trainer_test_cases"
RD_SCHEMA = "decision_id string, item string, context string, sample string, count double"


def test_flatten_kernel_semantics():
    num, strs = flatten_json(
        {"a": {"b": 1, "c": "x"}, "d": [True, None, 2.5], "e": {}, "f": [], "g": None},
        "item",
    )
    assert num == {"item.a.b": 1.0, "item.d.0": 1.0, "item.d.2": 2.5}
    assert strs == {"item.a.c": "x"}
    num2, strs2 = flatten_json(3, "item")
    assert num2 == {"item": 3.0} and strs2 == {}


@pytest.mark.skipif(not os.path.isdir(GOLDEN_DIR), reason="reference fixtures absent")
def test_propensity_rows_match_reference_golden_cases(spark):
    cases = sorted(glob.glob(f"{GOLDEN_DIR}/encode_for_train_*.json"))
    assert cases
    for path in cases:
        case = json.load(open(path))
        rec = case["test_case"]["record"]
        row = (
            rec["decision_id"],
            json.dumps(rec["item"]),
            json.dumps(rec["context"]),
            json.dumps(rec["sample"]) if "sample" in rec else None,
            float(rec["count"]),
        )
        df = spark.createDataFrame([row], RD_SCHEMA)
        out = propensity_training_rows(df).collect()
        got = []
        for r in out:
            flat = dict(r["num_features"])
            flat.update(r["str_features"])
            flat.update({"t": r["t"], "y": r["y"], "w": r["w"]})
            got.append(flat)
        got = sorted(got, key=lambda d: -d["y"])
        want = sorted(case["test_output"], key=lambda d: -d["y"])
        assert len(got) == len(want), f"{path}: {len(got)} rows != {len(want)}"
        for g, w in zip(got, want):
            assert g == w, f"{os.path.basename(path)}:\n got {g}\nwant {w}"


def test_encode_golden_vector_full_case(spark):
    """Vector-level golden for the reference's encode_for_train_full.json
    case (seed=1) through the FULL path: E1 explode → feature selection
    → string stats/tables → encode_to_vectors. Values pinned so any
    regression in selection order, table pruning, miss-encode hashing or
    vector assembly trips here, not just in downstream model quality.

    context.k1's value "1.0" occurs under the count>20 prune, so the
    table is empty and it encodes via the deterministic miss path:
    (string_hash("1.0", 1) & 0xFFFFFFFF) · 2⁻³² − 0.5."""
    from tracker_trainer_spark.hashing import string_hash
    from tracker_trainer_spark.trainer.encode import (
        encode_to_vectors,
        feature_order,
    )
    from tracker_trainer_spark.trainer.selection import select_features
    from tracker_trainer_spark.trainer.string_tables import (
        build_string_tables,
        string_stats,
    )

    case = json.load(open(f"{GOLDEN_DIR}/encode_for_train_full.json"))
    rec = case["test_case"]["record"]
    seed = case["model_seed"]
    df = spark.createDataFrame(
        [(rec["decision_id"], json.dumps(rec["item"]), json.dumps(rec["context"]),
          json.dumps(rec["sample"]), float(rec["count"]))],
        RD_SCHEMA,
    )
    rows = propensity_training_rows(df)
    sel = select_features(rows, 10)
    assert sel == ["context.k0", "context.k1", "item.$value"]
    tables = build_string_tables(
        string_stats(rows), seed, allowed_features=sel, prior_mean=0.0, prior_count=0
    )
    assert tables == {}  # "1.0" pruned by count>20 → miss-encode path
    assert feature_order(sel) == ["context.k0", "context.k1", "item.$value", "t"]

    out = sorted(
        encode_to_vectors(rows, sel, tables, seed)
        .select("features", "y", "w").collect(),
        key=lambda r: -r["y"],
    )
    miss = ((string_hash("1.0", seed) & 0xFFFFFFFF) * 2**-32) - 0.5
    # ONE pin for every environment now that string_hash is xxh3_64
    # with or without the C package (r6 pure-Python port)
    assert abs(miss - 0.10309130745008588) < 1e-12
    chosen, sample = out
    assert (chosen["y"], chosen["w"]) == (1.0, 1.0)
    assert (sample["y"], sample["w"]) == (0.0, 4.0)
    for r, item_val in ((chosen, 0.0), (sample, 4.0)):
        vec = r["features"]
        assert vec[0] == 0.0                       # context.k0
        assert abs(vec[1] - miss) < 1e-12          # context.k1 miss-encode
        assert vec[2] == item_val                  # item.$value
        assert vec[3] == 1653297422.0              # t from KSUID


def test_string_tables_rank_and_encode(spark):
    # strings with clearly ordered mean targets: 'hi' high, 'mid', 'lo' low
    rows = []
    for _ in range(30):
        rows.append(({}, {"f.s": "hi"}, 1.0, 1.0))
        rows.append(({}, {"f.s": "mid"}, 0.5, 1.0))
        rows.append(({}, {"f.s": "lo"}, 0.0, 1.0))
    df = spark.createDataFrame(
        rows, "num_features map<string,double>, str_features map<string,string>, y double, w double"
    )
    stats = string_stats(df)
    tables = build_string_tables(stats, model_seed=1, prune_min_count=20)
    assert set(tables) == {"f.s"}
    assert len(tables["f.s"]) == 3
    table = StringTable(tables["f.s"], model_seed=1)
    vals = {s: table.encode(s) for s in ["hi", "mid", "lo"]}
    # rank order → descending encoded values spanning [-1, 1]
    assert vals["hi"] == 1.0 and vals["lo"] == -1.0 and vals["mid"] == 0.0
    # misses fall in the narrow band, deterministically (probe for a string
    # whose masked hash genuinely misses — collisions legitimately return
    # the table value, same as the reference's approximate membership)
    from tracker_trainer_spark.hashing import string_hash

    miss_str = next(
        s for s in (f"never-seen-{i}" for i in range(100))
        if (string_hash(s, 1) & table.mask) not in table.value_table
    )
    miss = table.encode(miss_str)
    assert abs(miss) <= table.miss_width / 2 + 1e-12
    assert miss == table.encode(miss_str)


def test_prune_drops_rare_strings(spark):
    rows = [({}, {"f.s": "common"}, 1.0, 1.0)] * 25 + [({}, {"f.s": "rare"}, 1.0, 1.0)] * 5
    df = spark.createDataFrame(
        rows, "num_features map<string,double>, str_features map<string,string>, y double, w double"
    )
    tables = build_string_tables(string_stats(df), model_seed=1)
    assert len(tables.get("f.s", [])) == 1  # 'rare' pruned (count <= 20)


def test_select_features_top_n(spark):
    rows = []
    for i in range(10):
        rows.append(({"item.a": 1.0}, {}, 1.0, 5.0))      # weight 50
        rows.append(({"item.b": 1.0}, {}, 1.0, 1.0))      # weight 10
        rows.append(({}, {"context.c": "x"}, 1.0, 0.1))   # weight 1
    df = spark.createDataFrame(
        rows, "num_features map<string,double>, str_features map<string,string>, y double, w double"
    )
    assert select_features(df, 2) == ["item.a", "item.b"]
    assert select_features(df, 10) == ["item.a", "item.b", "context.c"]


def test_zero_truncated_poisson_distribution(spark):
    df = spark.range(20000).withColumn("p", zero_truncated_poisson(seed=7))
    stats = df.agg(
        F.min("p").alias("lo"), F.avg("p").alias("mean"), F.max("p").alias("hi")
    ).first()
    assert stats["lo"] >= 1.0
    expected_mean = 1 / (1 - math.exp(-1))  # ≈ 1.582
    assert abs(stats["mean"] - expected_mean) < 0.02
    # deterministic under re-execution
    again = df.agg(F.avg("p")).first()[0]
    assert again == stats["mean"]


def test_flatten_merged_equals_per_column_flatten(spark):
    """flatten_merged (one Arrow round-trip over both columns) must agree
    exactly with the per-row flatten_json kernel run column by column
    into one pair of maps."""
    import json as _json

    from pyspark.sql import functions as F

    from tracker_trainer_spark.trainer.flatten import flatten_merged

    rows = [
        ('{"a": 1, "b": {"c": "x", "d": [1, "y", null]}}', '{"e": true}'),
        (None, '{"f": {"g": 2.5}}'),
        ('{"deep": {"list": [{"k": 7}]}}', None),
        (None, None),
        ("3", '"bare"'),  # bare primitives
    ]
    df = spark.createDataFrame(rows, "item string, context string")

    fused = df.select(
        flatten_merged([("context", "context"), ("item", "item")]).alias("f")
    ).select(F.col("f.num").alias("num"), F.col("f.str").alias("str"))

    want = []
    for item, context in rows:
        num, strs = {}, {}
        for raw, root in ((context, "context"), (item, "item")):
            if raw is not None:
                flatten_json(_json.loads(raw), root, num, strs)
        want.append((num, strs))

    got = [(r["num"], r["str"]) for r in fused.collect()]
    assert got == want
    # spot-check content, not just agreement
    assert got[0][0] == {"item.a": 1.0, "item.b.d.0": 1.0, "context.e": 1.0}
    assert got[0][1] == {"item.b.c": "x", "item.b.d.1": "y"}
