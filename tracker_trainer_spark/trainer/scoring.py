"""Batch inference: score candidate (item, context) rows with a trained
decision model.

The reference ships models to clients (.mlmodel / .xgb) and ranks
on-device (its Scorer/Ranker consume the ai.improve.* metadata:
reference src/trainer/code/model_utils.py:174-246). The engine-side
analogue ranks candidates as a Spark job with the fitted estimator
directly — the same flatten and encode kernels the trainer used
(``encode.encode_json_to_vectors``), so a score here equals what a
client computes from the exported artifact modulo backend.

Scale: scoring is one narrow pass (one Arrow UDF that flattens and
encodes, then the model transform), no shuffle; ranking is a window
partitioned by decision over the scored rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .encode import TIMESTAMP_KEY, encode_json_to_vectors
from .train import TrainedModel, model_input


def score_items(tm: TrainedModel, df: DataFrame,
                item_col: str = "item", context_col: str = "context",
                now_ts: float | None = None,
                out_col: str = "score") -> DataFrame:
    """Append ``out_col`` = model prediction for each candidate row.

    ``df`` carries JSON-string item/context columns (the at-rest track
    encoding). ``now_ts``: the value of the ``t`` feature at inference
    (the reference clients use decision time; tests pin it).
    """
    import time as _time

    if now_ts is None:
        now_ts = _time.time()
    enc = encode_json_to_vectors(
        df.withColumn(TIMESTAMP_KEY, F.lit(float(now_ts))),
        [(context_col, "context"), (item_col, "item")],
        [f for f in tm.feature_names if f != TIMESTAMP_KEY],
        tm.string_tables, tm.model_seed,
    )
    scored = tm.model.transform(model_input(enc))
    return (
        scored.withColumnRenamed("prediction", out_col)
        .drop("features", TIMESTAMP_KEY, "rawPrediction", "probability")
    )


def rank_items(tm: TrainedModel, df: DataFrame, group_col: str,
               item_col: str = "item", context_col: str = "context",
               now_ts: float | None = None) -> DataFrame:
    """Best-scoring candidate per ``group_col`` (one row per decision) —
    the reference Ranker's top-1 as a distributed operator."""
    from pyspark.sql.window import Window

    scored = score_items(tm, df, item_col, context_col, now_ts)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("score"), F.col(item_col)  # deterministic tie-break
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
