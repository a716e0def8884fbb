"""Streaming inference: score/rank candidate streams with a trained model.

The reference ranks on-device from shipped artifacts; the engine-side
online analogue scores a LIVE candidate stream (decision requests
flowing in) with the fitted model. Two modes, matching the two batch
APIs (trainer/scoring.py):

- ``score_stream``: the scoring pipeline (one Arrow UDF that flattens
  and encodes, then the model transform) applied directly to a
  streaming DataFrame — every stage is narrow (no shuffle), so Structured
  Streaming runs it per micro-batch with nothing stateful; latency is
  micro-batch cadence, throughput identical to batch scoring.
- ``start_ranking_stream``: top-1-per-decision needs a per-group argmax
  (a shuffle), so it runs as ``foreachBatch(rank_items → append)`` —
  the same same-operators-in-foreachBatch design as the ingest stream,
  guaranteeing stream and batch rankings cannot diverge. Candidates for
  one decision must arrive in one micro-batch (they do: a decision
  request IS one payload), exactly the reference's request-scoped
  ranking contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..trainer.scoring import rank_items, score_items
from ..trainer.train import TrainedModel


def score_stream(tm: TrainedModel, stream: DataFrame,
                 item_col: str = "item", context_col: str = "context",
                 now_ts: float | None = None,
                 out_col: str = "score") -> DataFrame:
    """Streaming-safe scoring: identical operator chain to batch
    ``score_items`` (it IS batch score_items — every stage is narrow,
    so the plan is stream-legal as-is). Returned frame is streaming;
    attach any sink via ``writeStream``."""
    return score_items(tm, stream, item_col, context_col, now_ts, out_col)


def start_ranking_stream(tm: TrainedModel, stream: DataFrame,
                         sink_path: str, checkpoint_path: str,
                         group_col: str = "decision_id",
                         now_ts: float | None = None,
                         available_now: bool = True,
                         processing_time: str | None = None):
    """Rank candidates per decision each micro-batch and write winners
    to a parquet sink; returns the StreamingQuery.

    foreachBatch is at-least-once: a retry after a partial write would
    duplicate winners under a blind append. Each batch therefore
    overwrites its OWN `batch_id=<id>` subdirectory — the retry replaces
    the partial output instead of appending beside it, making the sink
    exactly-once. Readers load ``sink_path`` and partition discovery
    surfaces batch_id as a column.
    """
    def _rank_batch(batch: DataFrame, batch_id: int) -> None:
        (
            rank_items(tm, batch, group_col, now_ts=now_ts)
            .write.mode("overwrite")
            .parquet(f"{sink_path}/batch_id={batch_id}")
        )

    writer = (
        stream.writeStream.foreachBatch(_rank_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
