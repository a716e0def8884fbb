"""End-to-end: synthetic track records → ingest → timeline (conftest
fixture) → two-phase train (fallback backend when xgboost is absent) →
propensity scoring."""

from pyspark.sql import functions as F

from tracker_trainer_spark.trainer.train import train_two_phase, propensity_scores


def test_two_phase_train_and_score(spark, timeline):
    prop, dec = train_two_phase(
        spark, timeline, model_seed=1, model="m1", max_features=50, explore=False
    )
    assert prop.mean_item_count >= 1.0
    assert "t" in prop.feature_names and "t" in dec.feature_names
    assert any(f.startswith("item.") for f in prop.feature_names)
    assert any(f.startswith("context.") for f in prop.feature_names)
    # string features got tables only if they survived the count>20 prune
    for feat, table in {**prop.string_tables, **dec.string_tables}.items():
        assert len(table) >= 1

    # phase-2 model predicts finite values on its own training frame shape
    from tracker_trainer_spark.trainer.encode import encode_to_vectors, TIMESTAMP_KEY
    from tracker_trainer_spark.trainer.flatten import flatten_merged
    from tracker_trainer_spark.ksuid import ksuid_timestamp
    from tracker_trainer_spark.trainer.loader import load_training_frame

    df = load_training_frame(spark, timeline, columns=["decision_id", "item", "context"], model="m1")
    flat = (
        df.withColumn("_f", flatten_merged([("context", "context"), ("item", "item")]))
        .withColumn(TIMESTAMP_KEY, ksuid_timestamp(F.col("decision_id")))
        .select(
            "decision_id", TIMESTAMP_KEY,
            F.col("_f")["num"].alias("num_features"),
            F.col("_f")["str"].alias("str_features"),
        )
    )
    enc = encode_to_vectors(
        flat, [f for f in prop.feature_names if f != TIMESTAMP_KEY],
        prop.string_tables, prop.model_seed,
    )
    scored = propensity_scores(prop, enc)
    rows = scored.select("propensity").collect()
    assert len(rows) == df.count()
    assert all(0.0 <= r["propensity"] <= 1.0 for r in rows)


def test_train_with_missing_features(spark, tmp_path):
    """Rows whose feature maps lack some selected features (e.g. E1
    sample rows with no item payload) must train, not crash: missing
    markers cross the pandas→JVM hop as Arrow NULLs, which the GBT
    fallback imputes and the XGBoost path converts to NaN."""
    import json

    from pyspark.sql import functions as F

    from tracker_trainer_spark import ksuid
    from tracker_trainer_spark.ingest.merge import (
        finalize_for_storage,
        merge_rewarded_decisions,
    )
    from tracker_trainer_spark.ingest.sink import write_timeline
    from tracker_trainer_spark.trainer.train import train_two_phase

    ts0 = 1650000000
    rows = []
    for i in range(120):
        # heterogeneous items: half carry {"a": i}, half {"b": "s<i%3>"} —
        # every encoded row misses at least one selected feature
        item = {"a": i} if i % 2 else {"b": f"s{i % 3}"}
        rows.append((
            ksuid.deterministic_ksuid(ts0 + i, i),
            json.dumps(item),
            json.dumps({"c": i % 5}),
            None,                        # sample absent → E1 emits it anyway
            float(2 + i % 3),            # count > 1 → sample row per decision
            {ksuid.deterministic_ksuid(ts0 + i, 1000 + i): float(i % 4)},
        ))
    df = spark.createDataFrame(
        rows,
        "decision_id string, item string, context string, sample string, "
        "count double, rewards map<string,double>",
    )
    path = str(tmp_path / "tl")
    write_timeline(finalize_for_storage(merge_rewarded_decisions(df)), path)

    prop, dec = train_two_phase(spark, path, model_seed=3, max_features=10,
                                explore=False)
    assert prop.model is not None and dec.model is not None
    assert len(prop.feature_names) > 1


def test_context_dropout_strips_context_features(spark):
    """P6: ~5% of rows lose every context-rooted feature key (incl. the
    bare root a primitive context flattens to); item keys are untouched."""
    from tracker_trainer_spark.trainer.weights import (
        context_keep,
        drop_context_features,
    )

    n = 4000
    df = spark.range(n).select(
        F.map_from_arrays(
            F.array(F.lit("context.a"), F.lit("item.b")),
            F.array(F.lit(1.0), F.lit(2.0)),
        ).alias("num_features"),
        F.map_from_arrays(
            F.array(F.lit("context.s"), F.lit("item.s"), F.lit("context")),
            F.array(F.lit("x"), F.lit("y"), F.lit("z")),
        ).alias("str_features"),
        context_keep(11).alias("_keep_context"),
    )
    out = drop_context_features(df).cache()
    dropped = out.filter(~F.map_contains_key("num_features", F.lit("context.a")))
    frac = dropped.count() / n
    assert 0.02 < frac < 0.09  # keep=0.95, seeded

    r = dropped.first()
    assert set(r["num_features"]) == {"item.b"}
    assert set(r["str_features"]) == {"item.s"}
    kept = out.filter(F.map_contains_key("num_features", F.lit("context.a"))).first()
    assert set(kept["str_features"]) == {"context.s", "item.s", "context"}
    assert "_keep_context" not in out.columns
    out.unpersist()


def test_phase2_applies_dropout_after_scoring(spark, timeline, monkeypatch):
    """P6 wiring: train_decision_model strips context features on the
    POST-scoring frame (ref decision_trainer.py:106-119 — propensity
    weights see full context, decision features see the dropout)."""
    import tracker_trainer_spark.trainer.train as train_mod

    seen = {}
    orig = train_mod.drop_context_features

    def spy(df, **kw):
        seen["cols"] = list(df.columns)
        return orig(df, **kw)

    monkeypatch.setattr(train_mod, "drop_context_features", spy)
    train_two_phase(spark, timeline, model_seed=1, model="m1",
                    max_features=50, explore=False)
    # called on the weighted (post-IPW, post-scoring) frame
    assert "_keep_context" in seen["cols"] and "w" in seen["cols"]


def test_two_phase_checkpoint_fast_path(spark, timeline, tmp_path, monkeypatch):
    """M5 wiring: a fresh phase-1 checkpoint skips propensity training
    on the next run (ref checkpoint.py:26-91); stale/absent retrains."""
    import tracker_trainer_spark.trainer.train as train_mod

    ckpt = str(tmp_path / "ckpt")
    prop1, _ = train_two_phase(spark, timeline, model_seed=1, model="m1",
                               max_features=30, explore=False,
                               checkpoint_dir=ckpt)

    calls = []
    orig = train_mod.train_propensity_model
    monkeypatch.setattr(
        train_mod, "train_propensity_model",
        lambda *a, **kw: calls.append(1) or orig(*a, **kw),
    )
    prop2, dec2 = train_mod.train_two_phase(
        spark, timeline, model_seed=1, model="m1",
        max_features=30, explore=False, checkpoint_dir=ckpt,
    )
    assert calls == []  # phase 1 skipped entirely
    assert prop2.feature_names == prop1.feature_names
    assert dec2.model is not None

    # a different seed must NOT reuse the checkpoint (wrong string
    # tables / propensity distribution) — full retrain
    train_mod.train_two_phase(
        spark, timeline, model_seed=2, model="m1", max_features=30,
        explore=False, checkpoint_dir=ckpt,
    )
    assert calls == [1]

    # age the checkpoint out → full retrain
    train_mod.train_two_phase(
        spark, timeline, model_seed=2, model="m1", max_features=30,
        explore=False, checkpoint_dir=ckpt, max_checkpoint_age=0.0,
    )
    assert calls == [1, 1]


def test_train_empty_timeline_raises_clearly(spark, tmp_path):
    import pytest as _pytest

    from tracker_trainer_spark.trainer.train import train_propensity_model

    with _pytest.raises(ValueError, match="no training data"):
        train_propensity_model(spark, str(tmp_path / "never"), model_seed=1)
