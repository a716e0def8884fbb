"""Interval (time-range) join: points ⨝ intervals without a theta join.

Spark has no native interval/range join (the reference has no joins at
all beyond the decision_id merge — SURVEY §2.3); a naive formulation
`left JOIN right ON key AND t BETWEEN lo AND hi` plans as an equi-join
on the key with the range as a residual filter, which collapses to a
per-key cross product — quadratic in the hot key and un-shardable,
since one key's whole point history must meet that key's whole interval
set inside a single task.

The scalable composition is bin bucketing (the standard overlap-join
technique in Spark/Flink land):

1. pick a bin width W (≈ the typical interval length);
2. each point maps to exactly ONE bin: floor(t / W);
3. each interval explodes to the bins its [lo, hi] span covers
   (≈ len/W + 1 rows — bounded, not data-dependent-quadratic);
4. equi-join on (key, bin) — a real hash join Catalyst can shuffle or
   broadcast, AQE-skew-splittable because the join key now includes
   time;
5. re-check the exact predicate `lo <= t <= hi` as a cheap residual.

Each (point, interval) match is produced exactly once — the point lives
in one bin and the interval covers that bin once — so no dedup pass is
needed. Cost scales with matches + interval_len/W, and the (key, bin)
key shards a hot key's timeline across executors instead of fusing it
into one task.

Intervals with no matching points simply produce no output rows (inner
semantics). A consumer that needs them — e.g. "purchases with zero
prior events" — re-attaches them by the interval's own key after
aggregating, which is one broadcast-able join against the (small)
interval table rather than outer-join bookkeeping inside the kernel.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    interval_start: str,
    interval_end: str,
    on: list[str],
    bin_seconds: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows = (interval columns ⊕ point columns) for every point whose
    `point_time` falls inside [interval_start, interval_end] and whose
    `on` keys match. Timestamps compare at MICROSECOND precision —
    second-truncated comparison (the old unix_timestamp spelling)
    silently widened the window by up to a second at each edge, which
    flips membership for boundary-second events (caught by the sf0.1
    oracle gate: one event in 100k landed in the truncation gap).

    Choose `bin_seconds` near the typical interval length: too small
    explodes intervals into many bins (row blow-up ≈ len/W), too large
    degrades back toward the per-key cross product within a bin.

    `num_partitions`, when given, repartitions BOTH sides explicitly on
    the (keys, bin) join columns.  An explicit repartition satisfies the
    join's required distribution (no extra exchange) and — the point —
    is exempt from AQE partition coalescing, which sizes partitions by
    BYTES and collapses this join's small-byte but CPU-heavy stages
    (µs residual over the candidate pairs) onto a handful of cores.
    Callers pass spark.sql.shuffle.partitions; leave None where the
    stage is I/O-bound and coalescing is the right call.
    """
    # Non-finite first: int(nan)/int(inf) raise their own opaque
    # ValueError/OverflowError before the contract message could fire
    # (ADVICE r5; the inf case via review r6)
    if (isinstance(bin_seconds, float) and not math.isfinite(bin_seconds)) \
            or bin_seconds != int(bin_seconds) or int(bin_seconds) < 1:
        # reject fractional values outright (2.5 would silently truncate
        # to 2 — consistent results, but the contract says whole seconds)
        # and 0 < bin_seconds < 1, which would truncate to a zero-width
        # bin (NULL keys → silently empty join)
        raise ValueError(
            f"bin_seconds must be a whole second >= 1, got {bin_seconds}")

    bin_us = F.lit(int(bin_seconds) * 1_000_000)
    pt = F.unix_micros(F.col(point_time).cast("timestamp"))
    lo = F.unix_micros(F.col(interval_start).cast("timestamp"))
    hi = F.unix_micros(F.col(interval_end).cast("timestamp"))

    p = points.withColumn("_bin", F.floor(pt / bin_us))
    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(lo / bin_us), F.floor(hi / bin_us))),
    )
    if num_partitions:
        p = p.repartition(num_partitions, *on, "_bin")
        iv = iv.repartition(num_partitions, *on, "_bin")
    return iv.join(p, [*on, "_bin"]).where(pt.between(lo, hi)).drop("_bin")


def anchored_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    interval_start: str,
    interval_end: str,
    on: list[str],
    bin_seconds: int,
    max_interval_seconds: int | None = None,
    num_partitions: int | None = None,
    prefer_shuffle_hash: bool = False,
) -> DataFrame:
    """`interval_join` with the explosion FLIPPED: points explode to
    every bin a matching interval's END (anchor) could occupy, and each
    interval maps to exactly ONE bin — ``floor(end / W)``.

    Same matches, same exactly-once argument (each pair meets only in
    the interval's unique anchor bin), same no-theta-join scaling.  The
    point of the flip is the OUTPUT PARTITIONING: rows arrive hashed by
    ``(*on, _anchor_bin)``, and every match of a given interval shares
    that key — so a downstream per-interval window or aggregate keyed
    ``(*on, "_anchor_bin", <interval id>)`` is already clustered and
    plans WITHOUT another exchange (Spark's HashPartitioning satisfies
    a ClusteredDistribution that is a superset of its expressions).
    `interval_join` clusters by the POINT's bin instead, which splits
    one interval's matches across two bins and forces the consumer to
    re-shuffle by interval id — the exchange this variant deletes
    (profiled in multitouch_attribution: a 39.6 MB purchase-keyed
    exchange + one stage level at sf1).

    Output keeps the ``_anchor_bin`` column — the consumer must include
    it (plus the `on` keys) in its window/groupBy partitioning for the
    exchange-free plan, then drop it.

    `max_interval_seconds` bounds the point-side explosion:
    ceil(max_len/W) + 1 candidate anchor bins per point (pass the exact
    interval length for fixed-width lookbacks — with W == len that is
    2 bins).  Defaults to `bin_seconds` (the fixed-width case).  The
    residual re-checks the exact span, so a LONGER true interval is a
    correctness error only if it exceeds this bound — guarded by a
    loud runtime check folded into the residual: intervals longer than
    the bound would silently lose matches, so they fail the join with
    a raised error instead (see `_too_long` below).

    `prefer_shuffle_hash` hints the interval (build) side to a
    shuffled hash join — skips BOTH sort-merge sorts.  Right when the
    consumer's window re-sorts anyway (the SMJ sort order (*on, bin)
    is a strict prefix of the window sort, so SMJ buys nothing) and
    the per-partition interval build fits memory (intervals are the
    SMALLER side by construction; the bin in the key shards hot keys).
    A/B at sf1 in multitouch_attribution: 1.13 s → 0.95 s min-of-4.
    """
    if (isinstance(bin_seconds, float) and not math.isfinite(bin_seconds)) \
            or bin_seconds != int(bin_seconds) or int(bin_seconds) < 1:
        raise ValueError(
            f"bin_seconds must be a whole second >= 1, got {bin_seconds}")
    if max_interval_seconds is None:
        max_interval_seconds = int(bin_seconds)
    if max_interval_seconds != int(max_interval_seconds) \
            or int(max_interval_seconds) < 1:
        raise ValueError(
            "max_interval_seconds must be a whole second >= 1, "
            f"got {max_interval_seconds}")

    bin_us = F.lit(int(bin_seconds) * 1_000_000)
    max_us = int(max_interval_seconds) * 1_000_000
    pt = F.unix_micros(F.col(point_time).cast("timestamp"))
    lo = F.unix_micros(F.col(interval_start).cast("timestamp"))
    hi = F.unix_micros(F.col(interval_end).cast("timestamp"))

    # a point t matches intervals with hi ∈ [t, t + max_len] → anchor
    # bins floor(t/W) .. floor((t + max_len)/W)
    p = points.withColumn(
        "_anchor_bin",
        F.explode(F.sequence(F.floor(pt / bin_us),
                             F.floor((pt + F.lit(max_us)) / bin_us))),
    )
    # fail LOUD on intervals longer than the declared bound (they would
    # silently lose matches): raise_error inside the anchor expression
    _too_long = F.when(
        hi - lo > F.lit(max_us),
        F.raise_error(F.concat(
            F.lit("anchored_interval_join: interval longer than "
                  "max_interval_seconds="), F.lit(str(max_interval_seconds)),
            F.lit("s: [") , F.col(interval_start).cast("string"),
            F.lit(", "), F.col(interval_end).cast("string"), F.lit("]"),
        )).cast("long"),
    ).otherwise(F.floor(hi / bin_us))
    iv = intervals.withColumn("_anchor_bin", _too_long)
    if num_partitions:
        p = p.repartition(num_partitions, *on, "_anchor_bin")
        iv = iv.repartition(num_partitions, *on, "_anchor_bin")
    if prefer_shuffle_hash:
        iv = iv.hint("shuffle_hash")
    return iv.join(p, [*on, "_anchor_bin"]).where(pt.between(lo, hi))


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: list[str],
    bin_seconds: int,
) -> DataFrame:
    """Interval × interval overlap join: rows = (left ⊕ right) for every
    pair whose [start, end] spans intersect and whose `on` keys match —
    the temporal-database overlap primitive (campaign windows × user
    sessions, outage spans × job runs).

    Same bin-bucketing as `interval_join`, with the exactly-once twist
    both-sides explosion needs: a pair sharing k bins would match k
    times, so each pair is emitted only in its CANONICAL bin — the bin
    containing the overlap's start, ``max(left_start, right_start)``.
    Both sides explode to their covered bins (bounded by span/W), the
    (key, bin) equi-join shards hot keys by time, and the residual
    checks the exact overlap plus canonical-bin ownership. No dedup
    pass, no theta join, each match produced exactly once.
    """
    if bin_seconds <= 0:
        raise ValueError(f"bin_seconds must be positive, got {bin_seconds}")

    llo, lhi = F.unix_timestamp(F.col(left_start)), F.unix_timestamp(F.col(left_end))
    rlo, rhi = F.unix_timestamp(F.col(right_start)), F.unix_timestamp(F.col(right_end))

    lv = left.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(llo / bin_seconds), F.floor(lhi / bin_seconds))),
    )
    rv = right.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(rlo / bin_seconds), F.floor(rhi / bin_seconds))),
    )
    # exact residual on the RAW timestamp columns — the second-truncated
    # unix_timestamp values are only bin coordinates; comparing them here
    # would admit pairs separated by a sub-second gap
    overlap = (F.col(left_start) <= F.col(right_end)) & (
        F.col(right_start) <= F.col(left_end)
    )
    # canonical ownership stays on the truncated grid: both sides' bin
    # ranges cover floor(max(lo)/W) regardless of sub-second parts, so
    # each overlapping pair is still emitted exactly once
    canonical = F.floor(F.greatest(llo, rlo) / bin_seconds) == F.col("_bin")
    return lv.join(rv, [*on, "_bin"]).where(overlap & canonical).drop("_bin")
