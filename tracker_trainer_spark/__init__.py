"""tracker_trainer_spark — a PySpark-native analytics/training-data engine.

Re-expresses the data-processing capabilities of the reference
improve-ai/tracker-trainer pipeline (ingest → merge → groom → train-encode)
as idiomatic Spark DataFrame / Structured Streaming plans, plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) such a pipeline needs at 100 TB scale.

Layout:
  session        SparkSession factory with scale-tuned defaults
  ksuid          KSUID codec (base62, embedded timestamp)
  schemas        canonical Spark schemas (track records, rewarded decisions)
  ingest/        scan → validate → project → merge → sink → groom
  trainer/       loader, JSON flatten, feature selection, string tables,
                 weights, two-phase train (XGBoost gated)
  functions/     text analysis, dedup, similarity search, multimodal
  streaming/     Structured Streaming ingest (foreachBatch merge)
  queries        the oracle-checked query registry used by __spark_entry__
  tables         table loader, rounding and memos shared by the registry
"""

__version__ = "0.1.0"
