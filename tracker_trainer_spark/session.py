"""SparkSession factory with defaults tuned for this engine.

Settings rationale (100 TB posture, tested on local[*]):
- AQE on: runtime partition coalescing + skew-join splitting replaces the
  reference's hand-written singleton-group fast path
  (reference: src/ingest/partition.py:315-331).
- mapKeyDedupPolicy=LAST_WIN: the rewards-map union dedups duplicate
  message_ids with dict.update semantics
  (reference: src/ingest/partition.py:202-210).
- zstd parquet: parity with the reference sink
  (reference: src/ingest/partition.py:91).
- Arrow enabled: all Python↔JVM transfer is columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Off: to put the Python call site in error contexts, PySpark wraps
    # every functions.* / Column call in extra py4j round trips (session
    # lookup, conf read, origin set + clear), paid while building plans.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # At 100 TB this is set per-cluster; 32 matches the local test harness
    # and keeps sf0.1 shuffle partitions fully occupied on local[32].
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    # 128 MB is the right production split size (100 TB = ~800k tasks);
    # overridable because LOCAL sf files are byte-small (<128 MB → ONE
    # input split → single-core first stages that a real cluster never
    # sees — bench.py sets 4 MB to restore production scan parallelism)
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
    # testdata events.parquet carries TIMESTAMP(NANOS); read as long and
    # normalize to microseconds at the scan (see tables._t)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "tracker-trainer-spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession) -> None:
    """Touch every core with a trivial pandas UDF so the per-core Python
    worker pool (one ~1s pandas/pyspark import per worker on first use)
    is paid before measurement, not inside it. Used by bench/stress
    harnesses; a no-op cost when the pool is already warm."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(s):
        return s

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(0, n * 1000, 1, n)
        .select(_warm(F.col("id").cast("double")).alias("v"))
        .agg(F.sum("v"))
        .collect()
    )


def spread(df, n: int | None = None):
    """Repartition a byte-small SCAN across cores only when its input
    splits under-parallelize it.

    Contract: call this on scan + narrow plans only. The partition-count
    probe (``df.rdd``) finalizes the physical plan — on a plan with an
    upstream shuffle under AQE that materializes query stages eagerly,
    and the subsequent repartition would recompute them. At real scale
    input splits already parallelize a scan and this is a no-op.
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def drain_partitions(source_path: str,
                     bytes_per_partition: int = 128 << 20,
                     cap: int = 4096) -> int:
    """Shuffle/state partition count for a bounded availableNow
    streaming drain, derived from the SOURCE size — never from the box.

    Every micro-batch pays a fixed state-store open/commit per shuffle
    partition (a stream-stream join opens four stores per partition), so
    a drain keyed to the session default (32 here) spends its wall on
    store bookkeeping when the source is small: measured at sf0.1
    local[32], the reward-join drain is 5.7 s at 32 partitions vs 1.5-
    1.6 s at the input-derived count, identical rows.  One partition per
    128 MiB of source (the production input-split size) keeps
    per-partition state in the tens-of-MB class; at 100 TB of source the
    same formula saturates the cap, so this is scale-adaptive, not a
    local[32] constant."""
    import os

    total = 0
    if os.path.isdir(source_path):
        for root, _, files in os.walk(source_path):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
    elif os.path.exists(source_path):
        total = os.path.getsize(source_path)
    return max(1, min(cap, -(-total // bytes_per_partition)))


def fanout(df, n: int | None = None):
    """Unconditionally re-spread a COMPACT relation that is about to be
    exploded/multiplied.

    AQE coalesces a shuffle stage by its *observed* byte size, so the
    small output of an agg (per-key sets, baskets, signatures) lands on
    a handful of partitions — and a downstream explode that multiplies
    rows 10-400× then runs on those few cores, invisible to AQE's
    estimator.  One extra exchange of the compact relation keeps the
    quadratic stage parallel at any scale (at 100 TB the same rebalance
    is what keeps pair generation off a single straggler).

    Unlike :func:`spread` this never probes ``df.rdd`` (which would
    eagerly materialize AQE query stages on shuffled plans); the input
    is known-small, so the repartition is always cheap relative to the
    explosion it parallelizes.
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)
