"""Pipeline observability via Spark's ``observe()`` API.

At 100 TB the wrong way to count what a job did is a second aggregation
pass (another full scan); the right way is ``df.observe(...)`` — named
accumulator-backed metrics that ride the EXISTING action, collected on
the driver for free when the job finishes. This module packages the
engine's standard metric sets:

- ``merge_metrics``: rows, rows holding at least one ACTUAL reward,
  reward mass — the ingest-merge audit line the reference emits from
  its Lambda stats (reference: src/ingest/partition.py's merge
  accounting). "Rewarded" is derived from the frame's reward-bearing
  column (``n_rewards`` count, ``rewards`` map, or nonzero ``reward``
  in that preference order) because every merge output in this engine
  COALESCES ``reward`` to 0.0 — a bare count(reward) would always
  equal n_rows and could never catch a failed reward join.
- ``validation_metric_exprs``: rows read, valid rows and invalid rows
  by reason — the reference's per-batch exception histogram
  (reference: src/ingest/firehose_record.py:223-232), observed on the
  ingest write instead of counted by a second scan.
- ``training_metrics``: rows, orphan count, reward nulls — the
  load-path sanity line to observe BEFORE the loader's null-fill.

Batch usage (Observation objects are batch-only in Spark)::

    obs, df = merge_metrics(df)
    df.write.parquet(...)          # one action
    stats = obs.get                # no extra scan

Streaming usage — Observation is rejected on streaming Datasets, so
use the string-named form; metrics then surface per micro-batch on
``StreamingQueryListener`` progress events (``observedMetrics[name]``)::

    observed = observe_stream(df, "merge_metrics", *merge_metric_exprs(df))
    observed.writeStream...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .ingest.validate import INVALID_REASONS, REASON_COL


def merge_metric_exprs(df: DataFrame) -> list:
    """The merge-audit aggregate expressions, shared by the batch and
    streaming entry points so the two can't drift."""
    if "n_rewards" in df.columns:
        rewarded = F.coalesce(F.col("n_rewards"), F.lit(0)) > 0
    elif "rewards" in df.columns:
        # a map in flight; the at-rest JSON string after finalize_for_storage
        if isinstance(df.schema["rewards"].dataType, StringType):
            rewarded = F.col("rewards") != F.lit("{}")
        else:
            rewarded = F.size(F.col("rewards")) > 0
    else:
        rewarded = F.coalesce(F.col("reward"), F.lit(0.0)) != 0.0
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(rewarded, 1)).alias("n_rewarded"),
        F.coalesce(F.sum("reward"), F.lit(0.0)).alias("reward_sum"),
    ]


def validation_metric_exprs() -> list:
    """Rows read, valid rows, and one count per invalid-record reason,
    over ``ingest.validate.with_invalid_reason`` output."""
    reason = F.col(REASON_COL)
    return [
        F.count(F.lit(1)).alias("rows_read"),
        F.count_if(reason.isNull()).alias("valid"),
        *[F.count_if(reason == r).alias(r) for r in INVALID_REASONS],
    ]


def training_metric_exprs() -> list:
    """Load-path sanity expressions — observe these BEFORE the loader's
    reward null-fill or n_null_reward is always 0."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("item").isNull(), 1)).alias("n_orphans"),
        F.count(F.when(F.col("reward").isNull(), 1)).alias("n_null_reward"),
    ]


def observe_frame(df: DataFrame, name: str, *exprs) -> tuple[Observation, DataFrame]:
    """Attach named aggregate metrics to a BATCH frame's next action."""
    obs = Observation(name)
    return obs, df.observe(obs, *exprs)


def observe_stream(df: DataFrame, name: str, *exprs) -> DataFrame:
    """String-named observe for STREAMING frames (Observation objects
    are batch-only); read results from query progress events."""
    return df.observe(name, *exprs)


def observed_metrics(obs: Observation) -> dict | None:
    """``obs.get`` after the observed frame's action, or None when that
    action's final plan lost the observed node.

    Adaptive execution replaces the operators above a shuffle stage that
    produced no rows with an empty relation; an ``observe()`` below that
    shuffle ran, but its metrics are dropped with the subtree, and
    ``obs.get`` would fail on the empty result.
    """
    # PySpark's Observation has no emptiness test; its JVM twin does
    return None if obs._jo.getAsJava().isEmpty() else obs.get


def merge_metrics(df: DataFrame, name: str = "merge_metrics"):
    """Ingest-merge audit metrics on a batch frame."""
    return observe_frame(df, name, *merge_metric_exprs(df))


def training_metrics(df: DataFrame, name: str = "training_metrics"):
    """Trainer load-path sanity metrics on a batch frame."""
    return observe_frame(df, name, *training_metric_exprs())
