"""Shared table-access helpers for the query registry.

``queries.py`` and every ``queries_*_ext.py`` family module build their
plans on these: the memoized parquet table loader ``_t`` (with
``normalize_ns_ts``), the ``r4`` output rounding, the persist/artifact
memos that ``release_caches`` drains between timed runs, and the
footer-statistic lookups (``table_row_count``, ``table_column_min``,
``table_column_max``) that cost no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_ns_ts(df: DataFrame) -> DataFrame:
    """Normalize a nanos-as-long ``ts`` column (parquet nanosAsLong) to
    a micros timestamp, matching DuckDB's nanos→µs truncation of the
    same files. EXACT integer division — the former
    ``floor(ts / 1000)`` double path rounds the int64 through a 53-bit
    mantissa first (±128 ns above 2^53) and can floor one µs low on
    ns-precision data. Shared by the batch loader and every streaming
    registry query so the two read paths can never drift."""
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# DataFrame memo for the immutable input tables: every fresh
# ``spark.read.parquet`` schedules a small file-listing/footer job (a
# 1-task stage that still pays the ~50-100 ms job floor), once per table
# per query construction.  Reusing the DataFrame object reuses its
# resolved file index, exactly what a production catalog (metastore
# file-index cache) provides.  Keyed by the owning SparkSession so a
# restarted session never sees another session's plans; bounded FIFO
# like the sibling memos.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_MAX = 256


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # applicationId, not id(spark): a recycled CPython id after session
    # GC must never resurrect a dead session's plans
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = normalize_ns_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
            _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
        _TABLE_CACHE[key] = df
    return df


# Registry of persisted relations still live after a query returned its
# DataFrame: a registry query cannot unpersist inside its own body — the
# terminal action happens in the caller — so queries that persist a
# shared relation register it here and long-running harnesses (bench.py
# after every timed repeat, perfbench's registry workload) call
# ``release_caches()`` between queries.  A caller that never calls it
# (e.g. one that runs ``__spark_entry__.queries()`` in a loop) falls
# back to Spark's LRU block eviction — MEMORY_AND_DISK blocks are
# evictable, so accumulation degrades to the shuffle-file storage
# posture the persists replaced, never OOM.
_LIVE_CACHES: list[DataFrame] = []


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """persist() + registration for :func:`release_caches`."""
    from pyspark import StorageLevel

    _LIVE_CACHES.append(df)
    return df.persist(level or StorageLevel.MEMORY_AND_DISK)


def release_caches() -> int:
    """Unpersist every tracked relation; returns how many were released.

    Also drains the ``trained_artifact`` session memo.  The memo is legitimate for genuine repeat-probe API use (train
    once, probe many — the persistent-index analog), but a timing harness
    that calls ``release_caches()`` between runs must make every timed
    run pay full construction; leaving the memo live let bench repeats
    skip training, which inflates min-of-N.  DataFrame-valued entries
    (localCheckpoint blocks) are additionally unpersisted best-effort;
    their block storage is finally freed when the dropped py4j refs are
    GC'd and the ContextCleaner drains (harnesses follow this call with
    ``gc.collect()``)."""
    n = 0
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    for value in list(_ARTIFACT_CACHE.values()):
        parts = value if isinstance(value, (tuple, list)) else (value,)
        for part in parts:
            if hasattr(part, "unpersist"):
                try:
                    part.unpersist()
                except Exception:
                    pass
    _ARTIFACT_CACHE.clear()
    return n


# Session memo for DETERMINISTIC driver-side training artifacts —
# centroids, PQ codebooks, probe vectors: the k×dim float lists the
# ANN/KMeans trainers collect at query-construction time.  Sound
# because every memoized trainer is deterministic over immutable input
# (mod-k init, fixed rounds, 6-decimal-quantized means — no RNG), so a
# repeat construction re-collects bit-identical values; the production
# analog is the PERSISTENT INDEX the family already ships
# (similarity.build_ivf_index / build_ivfpq_index) — train once, probe
# many, session-local here.  Keyed by applicationId like _t (a new
# session always retrains); bounded FIFO like the sibling memos.
# Drained by release_caches(): a harness that times repeat runs drains
# this memo between them, so every timed run pays full construction —
# the memo only serves repeat probes WITHIN one harness-visible
# invocation (e.g. a caller probing the same trained index many times
# without releasing).
_ARTIFACT_CACHE: dict[tuple, object] = {}
_ARTIFACT_CACHE_MAX = 256


def trained_artifact(spark: SparkSession, key: tuple, fn):
    """Memoized deterministic training collect: ``fn()`` on first use
    per (session, key), the recorded value afterwards."""
    full_key = (spark.sparkContext.applicationId, *key)
    if full_key not in _ARTIFACT_CACHE:
        if len(_ARTIFACT_CACHE) >= _ARTIFACT_CACHE_MAX:
            _ARTIFACT_CACHE.pop(next(iter(_ARTIFACT_CACHE)))
        _ARTIFACT_CACHE[full_key] = fn()
    return _ARTIFACT_CACHE[full_key]


# Exact row counts of the immutable input tables, straight from parquet
# FOOTER metadata — zero Spark jobs (a ``count()`` would schedule one
# job per query construction).  Sound because the input dirs never
# change within a session; memoized the
# same way (and for the same reason) as ranking._BOUNDS_CACHE.  The
# production analog is the table catalog's row-count statistic.
# Bounded FIFO like the sibling memos (ranking._BOUNDS_CACHE,
# basket._DICT_CACHE): bench loops over many sf_dirs must not grow a
# session memo forever.
_ROW_COUNT_CACHE: dict[tuple, int] = {}
_ROW_COUNT_CACHE_MAX = 256


def table_row_count(sf_dir: str, name: str) -> int:
    key = (sf_dir, name)
    if key not in _ROW_COUNT_CACHE:
        import pyarrow.parquet as pq
        from pathlib import Path

        path = Path(f"{sf_dir}/{name}.parquet")
        files = sorted(path.glob("**/*.parquet")) if path.is_dir() else [path]
        if len(_ROW_COUNT_CACHE) >= _ROW_COUNT_CACHE_MAX:
            _ROW_COUNT_CACHE.pop(next(iter(_ROW_COUNT_CACHE)))
        _ROW_COUNT_CACHE[key] = sum(
            pq.ParquetFile(str(f)).metadata.num_rows for f in files)
    return _ROW_COUNT_CACHE[key]


# parquet physical types whose footer min/max is EXACT; BYTE_ARRAY /
# FIXED_LEN_BYTE_ARRAY stats may be truncated bounds (the writer is
# allowed to shorten them), float stats have NaN-ordering caveats, and
# INT96 stats are deprecated with UNDEFINED sort order (byte-wise compare
# does not match timestamp order; Spark itself ignores INT96 stats for
# pushdown) — callers here gate pack-width safety on these values, so
# anything non-exact returns None
_EXACT_STAT_TYPES = {"INT32", "INT64", "BOOLEAN"}


def _table_column_stat(sf_dir: str, name: str, column: str, which: str):
    key = (sf_dir, name, column, which)
    if key not in _ROW_COUNT_CACHE:
        import pyarrow.parquet as pq
        from pathlib import Path

        path = Path(f"{sf_dir}/{name}.parquet")
        files = sorted(path.glob("**/*.parquet")) if path.is_dir() else [path]
        pick = max if which == "max" else min
        best = None
        for fp in files:
            md = pq.ParquetFile(str(fp)).metadata
            idx = md.schema.names.index(column)
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx)
                stats = col.statistics
                if (stats is None or not stats.has_min_max
                        or str(col.physical_type) not in _EXACT_STAT_TYPES):
                    best = None
                    break
                v = stats.max if which == "max" else stats.min
                best = v if best is None else pick(best, v)
            else:
                continue
            break
        if len(_ROW_COUNT_CACHE) >= _ROW_COUNT_CACHE_MAX:
            _ROW_COUNT_CACHE.pop(next(iter(_ROW_COUNT_CACHE)))
        _ROW_COUNT_CACHE[key] = best
    return _ROW_COUNT_CACHE[key]


def table_column_max(sf_dir: str, name: str, column: str):
    """Exact column maximum from parquet FOOTER statistics — zero Spark
    jobs, same soundness argument and memo bounds as table_row_count.
    EXACT only for integer/boolean physical types: BYTE_ARRAY string
    stats may be writer-truncated upper bounds, so non-integer columns
    return None, as does any row group lacking the
    statistic — the caller must take its conservative path."""
    return _table_column_stat(sf_dir, name, column, "max")


def table_column_min(sf_dir: str, name: str, column: str):
    """Exact column minimum from parquet FOOTER statistics — the
    pack-eligibility twin of table_column_max (a negative key would
    corrupt a BIGINT pack whose max-only gate passes). Same
    None-means-unknown contract and integer-only exactness."""
    return _table_column_stat(sf_dir, name, column, "min")


def r4(c):
    """Round a float output column to 4 decimals (the oracle convention)."""
    return F.round(c, 4)
