"""Interval-join kernel: exactness, boundaries, key isolation, plan shape.

The whole point of functions/range_join.py is replacing a theta join
with a bin-bucketed equi-join — so beyond row-level semantics these
tests pin that the physical plan is a hash join (no nested loop /
cartesian) and that each match is produced exactly once.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tracker_trainer_spark.functions.range_join import interval_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def frames(spark):
    points = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), "p0"),   # exactly at lo of iv1
            (1, _ts("2024-01-01T12:00:00"), "p1"),   # inside iv1
            (1, _ts("2024-01-02T00:00:00"), "p2"),   # exactly at hi of iv1
            (1, _ts("2024-01-02T00:00:01"), "p3"),   # 1s past hi → out
            (2, _ts("2024-01-01T12:00:00"), "p4"),   # right time, wrong key
            (1, _ts("2024-03-01T00:00:00"), "p5"),   # far outside
        ],
        "user_id long, ts timestamp, pid string",
    )
    intervals = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00"), "iv1"),
            # multi-bin interval (3 days) catching p1/p2/p3
            (1, _ts("2024-01-01T06:00:00"), _ts("2024-01-04T00:00:00"), "iv2"),
            # interval for a key with no points in range
            (3, _ts("2024-01-01T00:00:00"), _ts("2024-01-02T00:00:00"), "iv3"),
        ],
        "user_id long, lo timestamp, hi timestamp, ivid string",
    )
    return points, intervals


def _pairs(points, intervals, bin_seconds):
    out = interval_join(points, intervals, "ts", "lo", "hi",
                        on=["user_id"], bin_seconds=bin_seconds)
    return sorted((r.ivid, r.pid) for r in out.collect())


EXPECTED = [("iv1", "p0"), ("iv1", "p1"), ("iv1", "p2"),
            ("iv2", "p1"), ("iv2", "p2"), ("iv2", "p3")]


def test_matches_inclusive_bounds_and_keys(frames):
    points, intervals = frames
    assert _pairs(points, intervals, 86400) == EXPECTED


@pytest.mark.parametrize("bin_seconds", [3600, 43200, 7 * 86400])
def test_bin_width_never_changes_results(frames, bin_seconds):
    """Bin width is a physical knob only: any W produces the same rows,
    each exactly once (a multi-bin interval must not duplicate matches)."""
    points, intervals = frames
    assert _pairs(points, intervals, bin_seconds) == EXPECTED


def test_no_nested_loop_in_plan(frames):
    points, intervals = frames
    df = interval_join(points, intervals, "ts", "lo", "hi",
                       on=["user_id"], bin_seconds=86400)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rejects_bad_bin():
    for bad in (0, -1, 2.5, float("nan"), float("inf"), float("-inf")):
        # NaN must hit the same contract message, not int()'s own
        # opaque "cannot convert float NaN to integer" (ADVICE r5)
        with pytest.raises(ValueError, match="whole second"):
            interval_join(None, None, "ts", "lo", "hi",
                          on=["k"], bin_seconds=bad)


def test_oracle_agreement_against_theta_join(spark, frames):
    """Differential check: the bucketed join equals the naive theta join
    row-for-row on a randomized corpus."""
    import random

    rng = random.Random(11)
    base = dt.datetime(2024, 1, 1)
    pts = [(rng.randrange(5), base + dt.timedelta(seconds=rng.randrange(0, 10 * 86400)), f"p{i}")
           for i in range(300)]
    ivs = []
    for i in range(60):
        lo = base + dt.timedelta(seconds=rng.randrange(0, 9 * 86400))
        ivs.append((rng.randrange(5), lo,
                    lo + dt.timedelta(seconds=rng.randrange(1, 2 * 86400)), f"iv{i}"))
    points = spark.createDataFrame(pts, "user_id long, ts timestamp, pid string")
    intervals = spark.createDataFrame(ivs, "user_id long, lo timestamp, hi timestamp, ivid string")
    got = sorted(
        (r.ivid, r.pid)
        for r in interval_join(points, intervals, "ts", "lo", "hi",
                               on=["user_id"], bin_seconds=86400).collect()
    )
    want = sorted(
        (r.ivid, r.pid)
        for r in intervals.alias("i")
        .join(points.alias("p"),
              (F.col("i.user_id") == F.col("p.user_id"))
              & F.col("p.ts").between(F.col("i.lo"), F.col("i.hi")))
        .collect()
    )
    assert got == want and len(got) > 50


# ---------------------------------------------------------------------------
# anchored interval join (fixed-width lookback, exchange-free consumer)
# ---------------------------------------------------------------------------

def _anchored_pairs(points, intervals, bin_seconds, max_len):
    from tracker_trainer_spark.functions.range_join import anchored_interval_join
    out = anchored_interval_join(points, intervals, "ts", "lo", "hi",
                                 on=["user_id"], bin_seconds=bin_seconds,
                                 max_interval_seconds=max_len)
    return sorted((r.ivid, r.pid) for r in out.collect())


def test_anchored_matches_interval_join(frames):
    """Same matches, each exactly once — the flip changes only which
    side explodes and what the output is clustered by."""
    points, intervals = frames
    # iv2 is 3 days individual — bound must cover it
    assert _anchored_pairs(points, intervals, 86400, 3 * 86400) == EXPECTED


def test_anchored_differential_vs_theta(spark):
    import random

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    pts = [(rng.randrange(5), base + dt.timedelta(seconds=rng.randrange(0, 10 * 86400)), f"p{i}")
           for i in range(300)]
    ivs = []
    for i in range(60):
        lo = base + dt.timedelta(seconds=rng.randrange(0, 9 * 86400))
        ivs.append((rng.randrange(5), lo,
                    lo + dt.timedelta(seconds=rng.randrange(1, 2 * 86400)), f"iv{i}"))
    points = spark.createDataFrame(pts, "user_id long, ts timestamp, pid string")
    intervals = spark.createDataFrame(ivs, "user_id long, lo timestamp, hi timestamp, ivid string")
    got = _anchored_pairs(points, intervals, 86400, 2 * 86400)
    want = sorted(
        (r.ivid, r.pid)
        for r in intervals.alias("i")
        .join(points.alias("p"),
              (F.col("i.user_id") == F.col("p.user_id"))
              & F.col("p.ts").between(F.col("i.lo"), F.col("i.hi")))
        .collect()
    )
    assert got == want and len(got) > 50


def test_anchored_interval_too_long_fails_loud(frames):
    """An interval longer than max_interval_seconds would silently lose
    matches — the kernel must raise, not under-join."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from tracker_trainer_spark.functions.range_join import anchored_interval_join
    points, intervals = frames  # iv2 is 2.75 days long
    out = anchored_interval_join(points, intervals, "ts", "lo", "hi",
                                 on=["user_id"], bin_seconds=86400,
                                 max_interval_seconds=86400)
    with pytest.raises(SparkRuntimeException, match="max_interval_seconds"):
        out.collect()


def test_anchored_downstream_window_needs_no_exchange(frames):
    """The reason this variant exists: a per-interval window keyed
    (*on, _anchor_bin, interval-id) must reuse the join's own
    partitioning — no hashpartitioning on the interval id anywhere."""
    from pyspark.sql.window import Window

    from tracker_trainer_spark.functions.range_join import anchored_interval_join
    points, intervals = frames
    out = anchored_interval_join(points, intervals, "ts", "lo", "hi",
                                 on=["user_id"], bin_seconds=4 * 86400,
                                 max_interval_seconds=4 * 86400,
                                 num_partitions=4)
    w = Window.partitionBy("user_id", "_anchor_bin", "ivid").orderBy("ts", "pid")
    ranked = out.select("ivid", "pid", F.row_number().over(w).alias("r"))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(ivid" not in plan
    # exactly the two pinned input repartitions
    assert plan.count("Exchange hashpartitioning") == 2
    ranked.collect()


def test_anchored_rejects_bad_params():
    from tracker_trainer_spark.functions.range_join import anchored_interval_join
    for bad in (0, -1, 2.5, float("nan")):
        with pytest.raises(ValueError, match="whole second"):
            anchored_interval_join(None, None, "ts", "lo", "hi",
                                   on=["k"], bin_seconds=bad)
    with pytest.raises(ValueError, match="max_interval_seconds"):
        anchored_interval_join(None, None, "ts", "lo", "hi",
                               on=["k"], bin_seconds=60,
                               max_interval_seconds=0)


# ---------------------------------------------------------------------------
# interval × interval overlap join
# ---------------------------------------------------------------------------

def test_overlap_join_differential_vs_theta(spark):
    """Bucketed overlap join == the naive theta join on random
    intervals (including spans crossing many bins and exact-touch
    endpoints), each pair exactly once."""
    import numpy as np
    import pandas as pd
    from tracker_trainer_spark.functions.range_join import interval_overlap_join

    rng = np.random.default_rng(11)
    def mk(n, tag):
        lo = rng.integers(0, 5000, n)
        return pd.DataFrame({
            "k": rng.integers(0, 4, n),
            f"{tag}_id": np.arange(n),
            f"{tag}_lo": pd.to_datetime(lo, unit="s"),
            f"{tag}_hi": pd.to_datetime(lo + rng.integers(0, 900, n), unit="s"),
        })
    a, b = mk(80, "a"), mk(70, "b")
    A, B = spark.createDataFrame(a), spark.createDataFrame(b)

    got = sorted(
        (r.a_id, r.b_id)
        for r in interval_overlap_join(
            A, B, "a_lo", "a_hi", "b_lo", "b_hi", on=["k"], bin_seconds=300
        ).collect()
    )
    theta = A.alias("l").join(
        B.alias("r"),
        (F.col("l.k") == F.col("r.k"))
        & (F.col("l.a_lo") <= F.col("r.b_hi"))
        & (F.col("r.b_lo") <= F.col("l.a_hi")),
    )
    want = sorted((r.a_id, r.b_id) for r in theta.collect())
    assert got == want and len(got) > 0
    assert len(got) == len(set(got))  # exactly-once


def test_overlap_join_is_hash_join(spark):
    import pandas as pd
    from tracker_trainer_spark.functions.range_join import interval_overlap_join
    from tracker_trainer_spark.plans import physical_plan

    a = pd.DataFrame({"k": [1], "a_lo": pd.to_datetime([0], unit="s"),
                      "a_hi": pd.to_datetime([100], unit="s")})
    b = pd.DataFrame({"k": [1], "b_lo": pd.to_datetime([50], unit="s"),
                      "b_hi": pd.to_datetime([150], unit="s")})
    df = interval_overlap_join(
        spark.createDataFrame(a), spark.createDataFrame(b),
        "a_lo", "a_hi", "b_lo", "b_hi", on=["k"], bin_seconds=60,
    )
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_join_rejects_subsecond_gaps(spark):
    """The residual must compare raw timestamps: intervals separated by
    a sub-second gap share a truncated second but do NOT overlap."""
    import pandas as pd
    from tracker_trainer_spark.functions.range_join import interval_overlap_join

    a = pd.DataFrame({"k": [1, 1], "a_id": [0, 1],
                      "a_lo": pd.to_datetime([0, 5_000_000], unit="us"),
                      "a_hi": pd.to_datetime([200_000, 5_200_000], unit="us")})
    b = pd.DataFrame({"k": [1, 1], "b_id": [0, 1],
                      "b_lo": pd.to_datetime([800_000, 5_100_000], unit="us"),
                      "b_hi": pd.to_datetime([900_000, 5_900_000], unit="us")})
    got = sorted(
        (r.a_id, r.b_id)
        for r in interval_overlap_join(
            spark.createDataFrame(a), spark.createDataFrame(b),
            "a_lo", "a_hi", "b_lo", "b_hi", on=["k"], bin_seconds=60,
        ).collect()
    )
    # pair (0,0): gap 0.2s-0.8s within one second -> NOT a match;
    # pair (1,1): genuine sub-second overlap -> match
    assert got == [(1, 1)]


def test_overlap_join_differential_with_microsecond_timestamps(spark):
    """Random MICROSECOND-resolution intervals (the post-fix regime):
    bucketed overlap == theta join when truncated seconds collide but
    raw spans do or don't overlap."""
    import numpy as np
    import pandas as pd
    from tracker_trainer_spark.functions.range_join import interval_overlap_join

    rng = np.random.default_rng(21)
    def mk(n, tag):
        lo = rng.integers(0, 600_000_000, n)        # 10 min span, in us
        return pd.DataFrame({
            "k": rng.integers(0, 3, n),
            f"{tag}_id": np.arange(n),
            f"{tag}_lo": pd.to_datetime(lo, unit="us"),
            f"{tag}_hi": pd.to_datetime(lo + rng.integers(0, 90_000_000, n), unit="us"),
        })
    a, b = mk(60, "a"), mk(60, "b")
    A, B = spark.createDataFrame(a), spark.createDataFrame(b)
    got = sorted(
        (r.a_id, r.b_id)
        for r in interval_overlap_join(
            A, B, "a_lo", "a_hi", "b_lo", "b_hi", on=["k"], bin_seconds=30
        ).collect()
    )
    theta = A.alias("l").join(
        B.alias("r"),
        (F.col("l.k") == F.col("r.k"))
        & (F.col("l.a_lo") <= F.col("r.b_hi"))
        & (F.col("r.b_lo") <= F.col("l.a_hi")),
    )
    want = sorted((r.a_id, r.b_id) for r in theta.collect())
    assert got == want and len(got) == len(set(got)) and len(got) > 0


def test_interval_join_num_partitions_same_results(spark):
    """num_partitions is a physical knob only: pinned-parallelism runs
    must return exactly the default plan's rows, and the pinned plan
    must show the explicit repartition (RoundRobin-free hash
    partitioning on the join columns) instead of an AQE-coalescible
    ENSURE_REQUIREMENTS exchange."""
    import pandas as pd

    from tracker_trainer_spark.functions.range_join import interval_join
    from tracker_trainer_spark.plans import physical_plan

    pts = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2, 2],
        "t": pd.to_datetime([10, 50, 90, 130], unit="s"),
        "pid": [0, 1, 2, 3],
    }))
    ivs = spark.createDataFrame(pd.DataFrame({
        "k": [1, 2],
        "lo": pd.to_datetime([0, 80], unit="s"),
        "hi": pd.to_datetime([60, 140], unit="s"),
        "iid": [100, 200],
    }))
    base = interval_join(pts, ivs, "t", "lo", "hi", on=["k"],
                         bin_seconds=60)
    pinned = interval_join(pts, ivs, "t", "lo", "hi", on=["k"],
                           bin_seconds=60, num_partitions=8)
    want = sorted((r.iid, r.pid) for r in base.collect())
    got = sorted((r.iid, r.pid) for r in pinned.collect())
    assert got == want and len(got) == 4
    assert "REPARTITION_BY_NUM" in physical_plan(pinned)


def test_table_row_count_matches_spark(spark, sf_dir):
    """Parquet-footer counts must equal a real Spark count for every
    input table (and be stable through the memo)."""
    from tracker_trainer_spark.tables import _ROW_COUNT_CACHE, table_row_count

    for t in ("lineitem", "supplier", "events"):
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        assert table_row_count(sf_dir, t) == want
        assert table_row_count(sf_dir, t) == want  # memo path
        assert (sf_dir, t) in _ROW_COUNT_CACHE


def test_table_column_max_matches_spark(spark, sf_dir):
    """Parquet-footer column maxima must equal a real Spark max —
    they gate the copurchase pair pack (queries_recs_ext)."""
    from pyspark.sql import functions as F

    from tracker_trainer_spark.tables import table_column_max, table_column_min

    for t, c in (("lineitem", "l_partkey"), ("orders", "o_orderkey")):
        want = (spark.read.parquet(f"{sf_dir}/{t}.parquet")
                .agg(F.max(c)).collect()[0][0])
        assert table_column_max(sf_dir, t, c) == want
        assert table_column_max(sf_dir, t, c) == want  # memo path
        want_min = (spark.read.parquet(f"{sf_dir}/{t}.parquet")
                    .agg(F.min(c)).collect()[0][0])
        assert table_column_min(sf_dir, t, c) == want_min


def test_table_column_stats_none_for_inexact_types(sf_dir):
    """BYTE_ARRAY string footer stats may be writer-truncated bounds —
    the exactness contract (ADVICE r7) demands None for them, so a
    caller gating pack safety on a string column takes the
    conservative path instead of trusting a possibly-inexact value."""
    from tracker_trainer_spark.tables import (
        table_column_max, table_column_min)

    assert table_column_max(sf_dir, "part", "p_brand") is None
    assert table_column_min(sf_dir, "part", "p_brand") is None


def test_copurchase_pairs_pack_and_fallback_agree(spark, sf_dir):
    """The packed-BIGINT and wide-partkey fallback key paths of the
    shipped co-purchase pair generator must produce the identical
    (a, b, co) relation — the fallback is what runs when partkey
    footer stats exceed 2^31 (or are absent), so it must not be a
    dead branch."""
    from pyspark.sql import functions as F

    from tracker_trainer_spark.queries_recs_ext import copurchase_pairs

    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_partkey"))
    ob = (li.repartition("l_orderkey")
          .dropDuplicates(["l_orderkey", "l_partkey"]))
    packed = {(r.a, r.b): r.co
              for r in copurchase_pairs(ob, pack=True).collect()}
    wide = {(r.a, r.b): r.co
            for r in copurchase_pairs(ob, pack=False).collect()}
    assert packed == wide and len(packed) > 0
    # and the wide path survives keys past the 32-bit pack boundary
    big = ob.withColumn(
        "l_partkey", F.col("l_partkey").cast("bigint") + F.lit(2 ** 33))
    shifted = {(r.a - 2 ** 33, r.b - 2 ** 33): r.co
               for r in copurchase_pairs(big, pack=False).collect()}
    assert shifted == packed
