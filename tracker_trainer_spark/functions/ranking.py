"""Distributed order statistics: literal-boundary range buckets +
per-bucket windows + tiny offset relations.

The single-task global window (``Window.orderBy`` with an empty — or
low-cardinality — partition spec over an unbounded relation) is the
canonical Spark scale bottleneck: the whole relation sorts on ONE task,
invisible at test scale and fatal at 100 TB.  This module re-expresses
the three shapes the registry needs (row_number/ntile, running sum,
exclusive prefix max) as fully parallel plans:

1. A DETERMINISTIC range-bucket column: ``bucket = #{boundaries ≤ key}``
   over P-1 literal split points.  Boundaries come from ONE
   construction-time ``approxQuantile`` pass (or a caller-supplied
   proxy — e.g. quantiles of the raw fact column instead of the
   aggregated relation), are frozen into the plan as literals, and
   therefore CANNOT disagree between plan branches.  This is the
   load-bearing design point: the obvious spelling —
   ``repartitionByRange`` + ``spark_partition_id()`` — is WRONG,
   because RangePartitioner re-samples per execution (seeded by RDD
   id), and the window branch and the offset-aggregation branch of the
   same plan each execute the exchange: their partition ids silently
   desync and the offset join corrupts ranks (caught at sf0.01 by the
   oracle gate; boundary values never affect results — see 3 — so the
   frozen-literal spelling is exact no matter how approximate the
   quantiles are).
2. A per-bucket window keyed by the bucket column — ONE hash exchange
   (the window's own), every sort per-bucket, fully parallel.
3. A tiny per-(bucket, group) summary relation (counts / sums / maxes),
   cumulated with a window over that TINY relation and broadcast-joined
   back:  global statistic = local statistic + combined offset of all
   earlier buckets.  Correct for ANY boundary placement: the caller
   supplies a total order (unique tiebreak required), so
   ``global_rank = local_rank + Σ earlier-bucket counts`` holds
   regardless of where the splits land — boundaries affect balance
   only, never results.

The broadcast offset relation is provably bounded: ``(P+1) ×
|distinct part_cols|`` rows (P is a config constant; every caller's
part_cols are fixed-cardinality columns like returnflag/event_type or
empty), never data-linear.

Cost: one data shuffle (same count as the single-task window) + one
construction-time column pass for the split points — the trade every
distributed top-N/percentile engine makes (TeraSort-style sampled
range partitioning), minus the resample hazard.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# Internal column names — underscored to stay out of callers' way and
# dropped before return.
_BKT = "__rr_bucket"
_LOC = "__rr_local"
_PART_STAT = "__rr_pstat"
_OFF = "__rr_off"
_N = "__rr_n"
_VAL = "__rr_val"


def _num_buckets(df: DataFrame, num_buckets: int | None) -> int:
    if num_buckets is not None:
        return int(num_buckets)
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def range_boundaries(df: DataFrame, key: Column, num_buckets: int,
                     relative_error: float = 0.01) -> list[float]:
    """P-1 approximate quantile split points of ``key`` — ONE
    construction-time pass (column-pruned scan; no shuffle when ``df``
    is a raw table).  Callers can precompute these on a cheaper PROXY
    relation (e.g. the raw fact column instead of an aggregate) — any
    monotone-plausible boundary set is correct, only balance varies."""
    if num_buckets <= 1:
        return []
    probe = df.select(key.cast("double").alias(_VAL)).where(
        F.col(_VAL).isNotNull())
    probs = [i / num_buckets for i in range(1, num_buckets)]
    qs = probe.approxQuantile(_VAL, probs, relative_error)
    return sorted(set(qs))


# Boundary sets are BALANCE HINTS, never inputs to results (ranks are
# invariant to split placement — see module docstring), so reusing a
# previously computed set for the same (source, column) is always
# sound: even a stale set against changed data yields correct output,
# only partition balance drifts.  The session-level memo exists because
# the approxQuantile pass is a separate Spark job (~0.3-0.5 s of pure
# job floor at bench scale) that would otherwise re-run on every query
# construction.  Bounded FIFO (the key space is (sf_dir, column,
# buckets) — small in any one process, but bench loops over many
# sf_dirs and conf values would otherwise grow it forever).
_BOUNDS_CACHE: dict[tuple, list[float]] = {}
_BOUNDS_CACHE_MAX = 256


def cached_boundaries(df: DataFrame, cache_key: tuple, key: Column,
                      num_buckets: int | None = None,
                      relative_error: float = 0.01) -> list[float]:
    """``range_boundaries`` with a per-session memo keyed by the
    caller's (source-path, column, …) tuple."""
    n = _num_buckets(df, num_buckets)
    full_key = (*cache_key, n)
    if full_key not in _BOUNDS_CACHE:
        if len(_BOUNDS_CACHE) >= _BOUNDS_CACHE_MAX:
            # FIFO eviction — any entry is safe to drop (recompute is
            # one approxQuantile job; results never depend on it).
            _BOUNDS_CACHE.pop(next(iter(_BOUNDS_CACHE)))
        _BOUNDS_CACHE[full_key] = range_boundaries(
            df, key, n, relative_error)
    return _BOUNDS_CACHE[full_key]


def _bucket_expr(key: Column, boundaries: Sequence[float]) -> Column:
    """#{boundaries ≤ key} as a literal CASE-sum — deterministic, pure
    JVM, O(P) per row with P ≈ 32.  NULL keys land in bucket 0, which
    matches Spark's NULLS FIRST *ascending* default only — a nullable
    key under a DESCENDING order (the negated-key ``with_*`` pattern,
    where Spark puts NULLs LAST) would rank NULL rows differently from
    the builtin window.  Hence the non-null contract on every ``with_*``
    entry point (enforced there, not here: this expression never sees a
    NULL in a conforming call)."""
    if not boundaries:
        return F.lit(0)
    b = F.lit(0)
    k = key.cast("double")
    for split in boundaries:
        b = b + F.when(k >= F.lit(float(split)), 1).otherwise(0)
    return F.coalesce(b, F.lit(0))


def _bucketed(df: DataFrame, bucket_key: Column,
              part_cols: Sequence[str],
              boundaries: Sequence[float] | None,
              num_buckets: int | None,
              boundary_key: tuple | None = None) -> DataFrame:
    if boundaries is None:
        if boundary_key is not None:
            boundaries = cached_boundaries(df, boundary_key, bucket_key,
                                           num_buckets)
        else:
            boundaries = range_boundaries(df, bucket_key,
                                          _num_buckets(df, num_buckets))
    return df.withColumn(_BKT, _bucket_expr(bucket_key, boundaries))


def _offsets(bucketed: DataFrame, part_cols: Sequence[str],
             stat_agg: Column, combine: str) -> DataFrame:
    """Per-(bucket, part) statistic plus its exclusive running
    combination over earlier buckets — the tiny relation whose
    broadcast join turns local window results into global ones.
    ``combine`` is "sum" or "max"; a total per group (``_N``) rides
    along for ntile."""
    per = bucketed.groupBy(_BKT, *part_cols).agg(stat_agg.alias(_PART_STAT))
    w_prev = (Window.partitionBy(*part_cols).orderBy(_BKT)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy(*part_cols)
    comb = F.sum if combine == "sum" else F.max
    return per.select(
        _BKT, *part_cols,
        comb(_PART_STAT).over(w_prev).alias(_OFF),
        F.sum(_PART_STAT).over(w_all).alias(_N),
    )


def with_global_rank(df: DataFrame, order_by: Sequence[Column],
                     part_cols: Sequence[str] = (), *,
                     bucket_key: Column, rank_col: str = "rank",
                     n_col: str | None = None,
                     boundaries: Sequence[float] | None = None,
                     boundary_key: tuple | None = None,
                     num_buckets: int | None = None) -> DataFrame:
    """``row_number()`` over a (per-group) total order without a
    single-task sort.  ``order_by`` MUST be a total order (include a
    unique tiebreak) and ``bucket_key`` a numeric expression monotone
    NON-DECREASING along it (negate for descending orders).
    ``bucket_key`` MUST be non-null on every row: NULL keys bucket
    FIRST (ascending semantics), so under a descending ``order_by``
    (where Spark sorts NULLs LAST) a nullable key would desync from the
    builtin window — coalesce or filter NULLs before calling.
    ``n_col``, if given, receives the group row count (needed by ntile
    arithmetic)."""
    bkt = _bucketed(df, bucket_key, part_cols, boundaries, num_buckets,
                    boundary_key)
    w_loc = Window.partitionBy(_BKT, *part_cols).orderBy(*order_by)
    local = bkt.withColumn(_LOC, F.row_number().over(w_loc))
    offs = _offsets(bkt, part_cols, F.count(F.lit(1)), "sum")
    out = (
        local.join(F.broadcast(offs), [_BKT, *part_cols])
        .withColumn(rank_col,
                    (F.col(_LOC) + F.coalesce(F.col(_OFF), F.lit(0)))
                    .cast("long"))
    )
    if n_col is not None:
        out = out.withColumn(n_col, F.col(_N).cast("long"))
    return out.drop(_BKT, _LOC, _OFF, _N)


def with_ntile(df: DataFrame, buckets: int, order_by: Sequence[Column],
               part_cols: Sequence[str] = (), *, bucket_key: Column,
               bucket_col: str = "bin",
               boundaries: Sequence[float] | None = None,
               boundary_key: tuple | None = None,
               num_buckets: int | None = None) -> DataFrame:
    """Exact ``ntile(buckets)`` semantics — bit-identical bucket
    membership to ``F.ntile`` over the same total order — via the
    distributed rank.  ntile puts the remainder in the FIRST buckets:
    with q = n div B, rem = n mod B, ranks 1..rem·(q+1) fall in buckets
    of size q+1 and the rest in buckets of size q.  All-integer
    arithmetic, so both engines (and the oracle's real NTILE) agree on
    every boundary."""
    rank, n = "__rr_rank", "__rr_total"
    ranked = with_global_rank(df, order_by, part_cols, rank_col=rank,
                              n_col=n, bucket_key=bucket_key,
                              boundaries=boundaries,
                              boundary_key=boundary_key,
                              num_buckets=num_buckets)
    b = int(buckets)
    tmp = (
        ranked
        .withColumn("__rr_q", F.expr(f"{n} div {b}"))
        .withColumn("__rr_rem", F.expr(f"{n} % {b}"))
        .withColumn("__rr_cut", F.expr("__rr_rem * (__rr_q + 1)"))
    )
    # q = 0 (fewer rows than buckets) keeps every rank inside `cut`, so
    # the `div __rr_q` branch never evaluates (CASE is lazy per row —
    # no ANSI divide-by-zero).
    bucket = F.expr(
        f"CASE WHEN {rank} <= __rr_cut"
        f" THEN ({rank} - 1) div (__rr_q + 1) + 1"
        f" ELSE __rr_rem + ({rank} - __rr_cut - 1) div __rr_q + 1 END")
    return (tmp.withColumn(bucket_col, bucket.cast("int"))
            .drop(rank, n, "__rr_q", "__rr_rem", "__rr_cut"))


def with_cumsum(df: DataFrame, value: Column, order_by: Sequence[Column],
                part_cols: Sequence[str] = (), *, bucket_key: Column,
                cum_col: str = "cum",
                total_col: str | None = None,
                boundaries: Sequence[float] | None = None,
                boundary_key: tuple | None = None,
                num_buckets: int | None = None) -> DataFrame:
    """Running sum of ``value`` over a (per-group) total order — the
    cumulative-distribution primitive (weighted median, ECDF) — without
    a single-task sort.  Exact when ``value`` is integral (addition
    order-insensitive); callers must pre-scale floats to integer units
    for cross-engine parity (registry convention).  ``bucket_key`` must
    be non-null (see ``with_global_rank``).

    ``total_col``, if given, exposes the per-group GRAND total of
    ``value`` — the offsets relation already aggregates it (``_N``
    rides every offsets row for ntile); naming it here saves callers
    that need cum AND total (weighted median's crossing predicate) a
    third full aggregation of ``df`` plus its broadcast join."""
    bkt = _bucketed(df, bucket_key, part_cols, boundaries, num_buckets,
                    boundary_key)
    bkt = bkt.withColumn(_VAL, value)
    w_loc = (Window.partitionBy(_BKT, *part_cols).orderBy(*order_by)
             .rowsBetween(Window.unboundedPreceding, 0))
    local = bkt.withColumn(_LOC, F.sum(_VAL).over(w_loc))
    offs = _offsets(bkt, part_cols, F.sum(_VAL), "sum")
    out = (
        local.join(F.broadcast(offs), [_BKT, *part_cols])
        .withColumn(cum_col, F.col(_LOC) + F.coalesce(F.col(_OFF), F.lit(0)))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_N))
    return out.drop(_BKT, _LOC, _OFF, _N, _VAL)


def with_prefix_max(df: DataFrame, value: Column, order_by: Sequence[Column],
                    part_cols: Sequence[str] = (), *, bucket_key: Column,
                    out_col: str = "prefix_max",
                    boundaries: Sequence[float] | None = None,
                    boundary_key: tuple | None = None,
                    num_buckets: int | None = None) -> DataFrame:
    """Exclusive prefix max: for each row, max(``value``) over all rows
    STRICTLY earlier in the total order (NULL for the first row) — the
    2-D skyline / dominance primitive.  Rows must be unique on
    ``order_by`` (run it on a distinct-key histogram), which makes the
    ROWS frame equal to the strict RANGE frame.  ``bucket_key`` must be
    non-null (see ``with_global_rank``)."""
    bkt = _bucketed(df, bucket_key, part_cols, boundaries, num_buckets,
                    boundary_key)
    bkt = bkt.withColumn(_VAL, value)
    w_loc = (Window.partitionBy(_BKT, *part_cols).orderBy(*order_by)
             .rowsBetween(Window.unboundedPreceding, -1))
    local = bkt.withColumn(_LOC, F.max(_VAL).over(w_loc))
    offs = _offsets(bkt, part_cols, F.max(_VAL), "max")
    return (
        local.join(F.broadcast(offs), [_BKT, *part_cols])
        # greatest() skips NULLs: first row of first bucket stays NULL
        .withColumn(out_col, F.greatest(F.col(_LOC), F.col(_OFF)))
        .drop(_BKT, _LOC, _OFF, _N, _VAL)
    )
