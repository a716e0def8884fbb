"""Exercise the import-gated backend branches with injected fake
modules: the xgboost.spark estimator wiring in trainer/train.py::_fit
and the coremltools conversion in trainer/export.py. The real libraries
are absent in this container; these tests pin the gated code paths'
LOGIC (constructor params, validation wiring, NaN handling, artifact
pair, metadata embed + cross-check) so the branches aren't dead weight
until a cluster with the libs runs them."""

import importlib
import json
import sys
import types

import pytest
from pyspark.sql import functions as F


def _fake_xgboost():
    xgb = types.ModuleType("xgboost")
    spark_mod = types.ModuleType("xgboost.spark")
    calls = {}

    class _Fitted:
        def __init__(self, kw):
            self.kw = kw

    class _Base:
        def __init__(self, **kw):
            calls.setdefault(type(self).__name__, []).append(kw)
            self._kw = kw

        def fit(self, df):
            calls.setdefault("fit", []).append(
                {"cols": list(df.columns), "rows": df.collect()}
            )
            return _Fitted(self._kw)

    class SparkXGBClassifier(_Base):
        pass

    class SparkXGBRegressor(_Base):
        pass

    spark_mod.SparkXGBClassifier = SparkXGBClassifier
    spark_mod.SparkXGBRegressor = SparkXGBRegressor
    xgb.spark = spark_mod
    return xgb, spark_mod, calls


def test_xgboost_fit_branch_logic(spark):
    try:
        import xgboost  # noqa: F401

        pytest.skip("real xgboost present; fake-injection unnecessary")
    except ImportError:
        pass
    import tracker_trainer_spark.trainer.train as train_mod

    xgb, spark_mod, calls = _fake_xgboost()
    sys.modules["xgboost"] = xgb
    sys.modules["xgboost.spark"] = spark_mod
    try:
        importlib.reload(train_mod)
        assert train_mod.HAS_XGBOOST

        df = spark.createDataFrame(
            [([1.0, None], 1.0, 1.0), ([0.5, 2.0], 0.0, 3.0)],
            "features array<double>, y double, w double",
        )
        train_mod._fit(df, objective="binary", seed=5)
        kw = calls["SparkXGBClassifier"][0]
        # reference params: propensities.py:111-121 (200 rounds, early
        # stopping 20, binary:logistic), weighted, NaN-missing
        assert kw["objective"] == "binary:logistic"
        assert kw["n_estimators"] == 200
        assert kw["early_stopping_rounds"] == 20
        assert kw["validation_indicator_col"] == "is_val"
        assert kw["weight_col"] == "w" and kw["label_col"] == "y"
        assert kw["max_depth"] == 6 and kw["seed"] == 5
        fit = calls["fit"][0]
        assert "is_val" in fit["cols"]  # L7 indicator reaches the fit
        # NULL array elements became NaN (xgboost-native missing)
        feats = [r["features"] for r in fit["rows"]]
        flat = [x for v in feats for x in v]
        assert any(x != x for x in flat) and None not in flat

        train_mod._fit(df, objective="regression", seed=5)
        kw2 = calls["SparkXGBRegressor"][0]
        # decision_trainer.py:85-94: 150 rounds, squared error
        assert kw2["objective"] == "reg:squarederror"
        assert kw2["n_estimators"] == 150
        assert "validation_indicator_col" not in kw2
    finally:
        del sys.modules["xgboost"]
        del sys.modules["xgboost.spark"]
        importlib.reload(train_mod)
        assert not train_mod.HAS_XGBOOST


def test_xgboost_scoring_branch_logic(spark):
    """M2 xgboost path: NULL features become NaN before transform, and
    the probability-of-class-1 extraction + prediction-column cleanup
    happen exactly as on the fallback path."""
    try:
        import xgboost  # noqa: F401

        pytest.skip("real xgboost present; fake-injection unnecessary")
    except ImportError:
        pass
    import tracker_trainer_spark.trainer.train as train_mod

    xgb, spark_mod, _calls = _fake_xgboost()
    sys.modules["xgboost"] = xgb
    sys.modules["xgboost.spark"] = spark_mod
    try:
        importlib.reload(train_mod)

        seen = {}

        class _Model:
            def transform(self, df):
                seen["rows"] = df.collect()
                from pyspark.ml.functions import array_to_vector

                return df.withColumn(
                    "probability", array_to_vector(F.array(F.lit(0.25), F.lit(0.75)))
                ).withColumn("rawPrediction", F.lit(0)).withColumn(
                    "prediction", F.lit(1.0)
                )

        tm = train_mod.TrainedModel(
            model=_Model(), feature_names=["a"], string_tables={}, model_seed=1
        )
        enc = spark.createDataFrame(
            [([1.0, None],)], "features array<double>"
        )
        out = train_mod.propensity_scores(tm, enc)
        assert out.columns == ["features", "propensity"]
        row = out.first()
        assert row["propensity"] == 0.75
        feats = seen["rows"][0]["features"]
        assert feats[0] == 1.0 and feats[1] != feats[1]  # NULL → NaN
    finally:
        del sys.modules["xgboost"]
        del sys.modules["xgboost.spark"]
        importlib.reload(train_mod)


def test_model_input_follows_backend(spark, monkeypatch):
    """One conversion picks the model input by backend at call time:
    NULL → NaN in the array for XGBoost, NULL/NaN → 0.0 in an ml Vector
    for the fallback. Fits, propensity scoring, score_items and the
    registry's train_e2e_metrics all convert through it."""
    import tracker_trainer_spark.trainer.train as train_mod

    enc = spark.createDataFrame(
        [([1.0, None, float("nan")],)], "features array<double>")

    monkeypatch.setattr(train_mod, "HAS_XGBOOST", True)
    feats = train_mod.model_input(enc).first()["features"]
    assert isinstance(feats, list)
    assert feats[0] == 1.0 and feats[1] != feats[1] and feats[2] != feats[2]

    monkeypatch.setattr(train_mod, "HAS_XGBOOST", False)
    vec = train_mod.model_input(enc).first()["features"]
    assert list(vec.toArray()) == [1.0, 0.0, 0.0]


class _FakeBooster:
    def __init__(self, names):
        self.feature_names = list(names)
        self._attrs = {}

    def copy(self):
        return _FakeBooster(self.feature_names)

    def set_attr(self, **kw):
        self._attrs.update(kw)

    def attr(self, key):
        return self._attrs.get(key)

    def save_model(self, path):
        with open(path, "w") as f:
            json.dump({"feature_names": self.feature_names}, f)


class _FakeMLModel:
    def __init__(self, names):
        self._names = list(names)
        self.user_defined_metadata = {}

    def get_spec(self):
        inp = [types.SimpleNamespace(name=n) for n in self._names]
        return types.SimpleNamespace(
            description=types.SimpleNamespace(input=inp)
        )

    def save(self, path):
        with open(path, "w") as f:
            json.dump({"metadata": self.user_defined_metadata}, f)


def _fake_coremltools(record):
    ct = types.ModuleType("coremltools")

    def convert(booster, mode, feature_names, force_32bit_float):
        record.update(mode=mode, names=list(feature_names),
                      f32=force_32bit_float,
                      converted_names=booster.feature_names)
        return _FakeMLModel(feature_names)

    ct.converters = types.SimpleNamespace(
        xgboost=types.SimpleNamespace(convert=convert)
    )
    ct.models = types.SimpleNamespace(MLModel=_FakeMLModel)
    return ct


def test_coreml_export_branch_logic(tmp_path):
    try:
        import coremltools  # noqa: F401

        pytest.skip("real coremltools present; fake-injection unnecessary")
    except ImportError:
        pass
    from tracker_trainer_spark.trainer import export

    record = {}
    sys.modules["coremltools"] = _fake_coremltools(record)
    try:
        # a SparkXGB booster carries NO feature names of its own — the
        # caller must supply them (save_model passes tm.feature_names)
        booster = _FakeBooster([])
        booster.feature_names = None
        written = export.export_client_artifacts(
            booster, str(tmp_path), "greetings",
            {"item.b": [3, 1]}, 42, created_at="2022-05-23T10:00:00",
            mean_item_count=2.5,
            feature_names=["context.a", "item.b", "t"],
        )
        # both artifacts of the reference pair (decision_trainer.py:30-36)
        assert set(written) == {"xgb", "mlmodel"}
        # conversion used the null-feature-names copy + regressor + f32
        assert record["mode"] == "regressor" and record["f32"] is True
        assert record["converted_names"] is None
        assert record["names"] == ["context.a", "item.b", "t"]
        # mlmodel metadata stringified; booster metadata embedded pre-save
        ml = json.load(open(written["mlmodel"]))["metadata"]
        assert ml["ai.improve.seed"] == "42"
        assert ml["ai.improve.string_tables"] == '{"item.b":[3,1]}'
        meta = json.loads(booster.attr("user_defined_metadata"))
        assert meta["ai.improve.features"] == ["context.a", "item.b", "t"]
        assert meta["ai.improve.mean_item_count"] == 2.5
    finally:
        del sys.modules["coremltools"]
