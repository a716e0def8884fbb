"""Two-phase contextual-bandit training (M1-M4), Spark-first.

Phase 1 — propensity model (reference: src/trainer/code/propensities.py:64-127):
explode decisions (E1) → select features (A4) → string tables without
prior (A8) → binary:logistic XGBoost with early stopping, weighted.

Phase 2 — decision model (reference: src/trainer/code/decision_trainer.py:39-96):
load chosen items, weight = normalized-inverse-propensity ×
zero-truncated Poisson, reward normalized (or binarized), same-noise
sprinkle, string tables with prior, reg:squarederror XGBoost.

Backend: ``xgboost.spark`` when importable (barrier-mode distributed
training, exact parity with the reference's xgb.dask usage). This
container has no xgboost, so a ``pyspark.ml`` GBT fallback keeps the full
pipeline runnable end-to-end; it imputes NaN→0 (Spark ML cannot represent
missing), a documented deviation used only by the fallback.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .encode import TIMESTAMP_KEY, encode_to_vectors, feature_order, propensity_training_rows
from .flatten import flatten_merged
from .loader import load_training_frame
from .selection import MAX_FEATURES, select_features
from .string_tables import DECISION_PRIOR_COUNT, build_string_tables, string_stats
from .weights import (
    EXPLORE_SAMPLE,
    binary_reward,
    context_keep,
    drop_context_features,
    inverse_propensity_weight,
    sprinkle,
    zero_truncated_poisson,
    znormalize_reward,
)

try:  # gated: not present in this container
    from xgboost.spark import SparkXGBClassifier, SparkXGBRegressor  # type: ignore

    HAS_XGBOOST = True
except ImportError:
    HAS_XGBOOST = False

XGB_PARAMS = {  # reference: decision_trainer.py:85-94, config.yml:34
    "max_depth": 6,
    "tree_method": "hist",
    "num_round_decision": 150,
    "num_round_propensity": 200,
    "early_stopping_rounds": 20,
}


@dataclass
class TrainedModel:
    model: object                 # fitted estimator (backend-specific)
    feature_names: list[str]
    string_tables: dict[str, list[int]]
    model_seed: int
    mean_item_count: float | None = None
    metadata: dict = field(default_factory=dict)


def model_input(df: DataFrame, col: str = "features") -> DataFrame:
    """Encoded ``array<double>`` → the active backend's model input.

    Missing features arrive as NULL elements (see ``encode_to_vectors``).
    XGBoost reads NaN as missing; the fallback backend needs an ml
    Vector and imputes 0.0. Every fit and every scoring pass goes
    through here, so a model always scores inputs converted the way its
    training inputs were."""
    return _nulls_to_nan(df, col) if HAS_XGBOOST else _to_ml_vector(df, col)


def _to_ml_vector(df: DataFrame, col: str = "features") -> DataFrame:
    """array<double> → ml Vector, missing→0.0 (fallback backend only).

    Impute both NULL and NaN: array_to_vector asserts non-null elements.
    """
    from pyspark.ml.functions import array_to_vector

    cleaned = F.transform(
        F.col(col),
        lambda x: F.when(x.isNull() | F.isnan(x), F.lit(0.0)).otherwise(x),
    )
    return df.withColumn(col, array_to_vector(cleaned))


def _nulls_to_nan(df: DataFrame, col: str = "features") -> DataFrame:
    """array<double> NULL elements → NaN (XGBoost's native missing)."""
    return df.withColumn(
        col,
        F.transform(
            F.col(col),
            lambda x: F.when(x.isNull(), F.lit(float("nan"))).otherwise(x),
        ),
    )


def train_propensity_model(spark: SparkSession, timeline_path: str,
                           model_seed: int, model: str | None = None,
                           max_features: int = MAX_FEATURES,
                           max_rows: int | None = None,
                           explore: bool = True,
                           num_rounds: int | None = None,
                           max_depth: int | None = None) -> TrainedModel:
    """Phase 1. Single cached pass feeds both aggregation scans.
    ``num_rounds`` overrides the reference's round budget (a config.yml
    knob there too) — the registry's bounded e2e row trains with a
    small budget so the driver check prices in seconds, not minutes."""
    df = load_training_frame(
        spark, timeline_path, columns=["decision_id", "item", "context", "sample", "count"],
        max_rows=max_rows, sample=EXPLORE_SAMPLE if explore else None,
        model=model, seed=model_seed,
    )
    mean_item_count = df.agg(F.avg("count")).first()[0]  # A3
    if mean_item_count is None:  # empty load → fail with intent, not a
        # deep MLlib fit error (fresh deployment / over-tight pruning)
        raise ValueError(f"no training data in timeline {timeline_path!r}")

    rows = propensity_training_rows(df).cache()  # two agg passes + encode
    try:
        selected = select_features(rows, max_features)  # A4
        stats = string_stats(rows)                      # A5
        tables = build_string_tables(                   # A8, no prior (M1)
            stats, model_seed, allowed_features=selected, prior_mean=0.0, prior_count=0
        )
        names = feature_order(selected)
        encoded = encode_to_vectors(rows, selected, tables, model_seed)
        fitted = _fit(encoded, objective="binary", seed=model_seed,
                      num_rounds=num_rounds, max_depth=max_depth)
    finally:
        rows.unpersist()
    return TrainedModel(
        model=fitted, feature_names=names, string_tables=tables,
        model_seed=model_seed, mean_item_count=float(mean_item_count),
        metadata={"phase": 1, "objective": "binary"},
    )


def propensity_scores(propensity: TrainedModel, encoded: DataFrame,
                      out_col: str = "propensity") -> DataFrame:
    """M2: batch predict p(chosen | features) for each row."""
    from pyspark.ml.functions import vector_to_array

    scored = propensity.model.transform(model_input(encoded))
    # binary classifier probability of class 1
    return scored.withColumn(out_col, vector_to_array("probability")[1]).drop(
        "rawPrediction", "probability", "prediction"
    )


def train_decision_model(spark: SparkSession, timeline_path: str,
                         propensity: TrainedModel, model_seed: int,
                         model: str | None = None,
                         max_features: int = MAX_FEATURES,
                         max_rows: int | None = None,
                         binary_rewards: bool = False,
                         explore: bool = True,
                         num_rounds: int | None = None,
                         max_depth: int | None = None) -> TrainedModel:
    """Phase 2: IPW × zero-truncated-Poisson weights, normalized reward."""
    df = load_training_frame(
        spark, timeline_path, columns=["decision_id", "item", "context", "reward"],
        max_rows=max_rows, sample=EXPLORE_SAMPLE if explore else None,
        model=model, seed=model_seed,
    )
    if df.isEmpty():  # same clear failure as phase 1
        raise ValueError(f"no training data in timeline {timeline_path!r}")
    reward_col = binary_reward("reward") if binary_rewards else znormalize_reward(df, "reward")
    from ..ksuid import ksuid_timestamp

    flat = (
        df.withColumn(
            "_f", flatten_merged([("context", "context"), ("item", "item")])
        )
        .withColumn(TIMESTAMP_KEY, ksuid_timestamp(F.col("decision_id")))
        .select(
            "decision_id",
            TIMESTAMP_KEY,
            F.col("_f")["num"].alias("num_features"),
            F.col("_f")["str"].alias("str_features"),
            reward_col.alias("y"),
        )
        .withColumn("w", F.lit(1.0))
        # P6 keep-decision drawn here (read via cached ``weighted`` ⇒ one
        # draw per row); seed offset decorrelates from Poisson and noise
        .withColumn("_keep_context", context_keep(model_seed + 3))
    )
    # score propensities on phase-1's feature space
    enc1 = encode_to_vectors(
        flat, [f for f in propensity.feature_names if f != TIMESTAMP_KEY],
        propensity.string_tables, propensity.model_seed,
    )
    scored = propensity_scores(propensity, enc1)
    ipw = inverse_propensity_weight("propensity", propensity.mean_item_count or 1.0)
    weighted = (
        scored.withColumn("w", ipw * zero_truncated_poisson(model_seed))
        .drop("features", "propensity")
    )
    # P6: context dropout AFTER propensity scoring (ref computes the
    # weights from the full df, decision_trainer.py:106-108) and
    # BEFORE the decision-model feature path (:119). Cached: every reader
    # below would otherwise re-run the phase-1 encode + propensity model
    weighted = drop_context_features(weighted).cache()
    try:
        selected = select_features(weighted, max_features)
        stats = string_stats(weighted)
        reward_mean = weighted.agg(F.avg("y")).first()[0] or 0.0
        tables = build_string_tables(  # A6: prior toward the mean reward
            stats, model_seed, allowed_features=selected,
            prior_mean=float(reward_mean), prior_count=DECISION_PRIOR_COUNT,
        )
        encoded = encode_to_vectors(weighted, selected, tables, model_seed)
        # P7: one noise draw per row sprinkled across the whole vector
        noisy = encoded.withColumn("_noise", F.rand(model_seed + 1)).withColumn(
            "features",
            F.transform(F.col("features"), lambda x: sprinkle(x, F.col("_noise"))),
        ).drop("_noise")
        fitted = _fit(noisy, objective="regression", seed=model_seed,
                      num_rounds=num_rounds, max_depth=max_depth)
        names = feature_order(selected)
    finally:
        weighted.unpersist()
    return TrainedModel(
        model=fitted, feature_names=names, string_tables=tables,
        model_seed=model_seed, mean_item_count=propensity.mean_item_count,
        metadata={"phase": 2, "objective": "regression", "binary_rewards": binary_rewards},
    )


def _fit(encoded: DataFrame, objective: str, seed: int,
         num_rounds: int | None = None, max_depth: int | None = None):
    """Fit the backend model on (features, y, w).  ``num_rounds`` and
    ``max_depth`` override the reference's config.yml training budget;
    None keeps the reference defaults.  (On the GBT fallback, driver
    wall time is rounds x depth-levels x job floor — the bounded e2e
    registry row trains with a small budget for exactly that reason.)"""
    vec = model_input(encoded)
    if HAS_XGBOOST:
        common = dict(
            features_col="features", label_col="y", weight_col="w",
            max_depth=max_depth or XGB_PARAMS["max_depth"],
            tree_method=XGB_PARAMS["tree_method"],
            seed=seed, missing=float("nan"),
        )
        if objective == "binary":
            est = SparkXGBClassifier(
                objective="binary:logistic",
                n_estimators=num_rounds or XGB_PARAMS["num_round_propensity"],
                early_stopping_rounds=XGB_PARAMS["early_stopping_rounds"],
                validation_indicator_col="is_val",
                **common,
            )
            vec = vec.withColumn("is_val", F.rand(seed + 7) < 0.3)  # L7
        else:
            est = SparkXGBRegressor(
                objective="reg:squarederror",
                n_estimators=num_rounds or XGB_PARAMS["num_round_decision"],
                **common,
            )
        return est.fit(vec)

    # fallback backend: pyspark.ml GBT (NaN→0 imputation) with the
    # reference's validation-based stopping shape (propensities.py:
    # 111-121, decision_trainer.py:85-94): is_val rows (L7 indicator,
    # same 30% split) drive validationIndicatorCol stopping. GBT has no
    # early_stopping_rounds — validationTol is its analogue — and GBT
    # classifier loss keeps improving >tol for most of the ref's 200
    # rounds (measured: tol-only ran ~80 s at sf0.1, blowing the E2E
    # ≥1,100 rec/s envelope), so the propensity fallback caps rounds at
    # 40; the decision regressor genuinely early-stops, so it keeps the
    # ref's full 150 budget. The xgboost path uses exact ref rounds.
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.regression import GBTRegressor

    common = dict(featuresCol="features", labelCol="y", weightCol="w",
                  maxDepth=max_depth or XGB_PARAMS["max_depth"], seed=seed,
                  validationIndicatorCol="is_val")
    vec = vec.withColumn("is_val", F.rand(seed + 7) < 0.3)
    if objective == "binary":
        est = GBTClassifier(maxIter=num_rounds or 40, **common)
        vec = vec.withColumn("y", F.col("y").cast("double"))
    else:
        est = GBTRegressor(
            maxIter=num_rounds or XGB_PARAMS["num_round_decision"], **common)
    # cache AFTER the objective-specific cast: GBT's per-iteration jobs
    # re-evaluate their input plan (here the whole Arrow encode chain),
    # and Dataset.unpersist is non-cascading + sameResult-matched — a
    # cache() taken BEFORE the binary path's extra withColumn would make
    # this finally-unpersist a no-op on a derived plan and pin the
    # encoded training set in executor storage per fit (review r6)
    vec = vec.cache()
    try:
        return est.fit(vec)
    finally:
        vec.unpersist()


def train_two_phase(spark: SparkSession, timeline_path: str, model_seed: int,
                    model: str | None = None,
                    checkpoint_dir: str | None = None,
                    max_checkpoint_age: float = 7 * 24 * 3600.0,
                    **kw) -> tuple[TrainedModel, TrainedModel]:
    """Full reference train entrypoint (reference: src/trainer/code/train:83-101).

    ``checkpoint_dir``: when set, a fresh phase-1 artifact there skips
    propensity training entirely (the reference's checkpoint fast path,
    src/trainer/code/checkpoint.py:26-91 — unreadable/stale/absent all
    fall through to a full retrain), and a newly-trained phase-1 model
    is saved back for the next run.
    """
    p = None
    if checkpoint_dir is not None:
        from .artifacts import load_checkpoint_if_fresh

        p = load_checkpoint_if_fresh(
            spark, checkpoint_dir, max_checkpoint_age,
            model_name=model or "model", model_seed=model_seed,
        )
    if p is None:
        p = train_propensity_model(spark, timeline_path, model_seed,
                                   model=model, **kw)
        if checkpoint_dir is not None:
            from .artifacts import save_model

            save_model(p, checkpoint_dir, model_name=model or "model")
    d = train_decision_model(spark, timeline_path, p, model_seed, model=model, **kw)
    return p, d
