"""Stage-level profile of multitouch_attribution at sf1 (VERDICT r7
item 3: profile the way part_affinity_recs was profiled, THEN fix the
dominant stage only).

Stages nest — stage N's marginal cost is t(N) - t(N-1):
  1. events scan + purchase/touch split (two counts)
  2. interval_join membership (bin-bucketed equi-join + µs residual)
  3. + purchase-keyed repartition and the two windows (rank + count)
  4. + credit exprs + channel agg (the full query)

Usage: python scripts/profile_mta.py [sf_dir]   (default /tmp/sf1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from tracker_trainer_spark.session import get_spark, warm_python_workers  # noqa: E402


def t(label, action):
    t0 = time.time()
    out = action()
    dt = time.time() - t0
    print(f"  {label:55s} {dt:7.2f}s  {out}")
    return dt


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_spark(app_name="profile-mta", master="local[32]",
                      extra_conf={"spark.sql.shuffle.partitions": "32",
                                  "spark.ui.enabled": "false",
                                  "spark.sql.files.maxPartitionBytes": "4194304"})
    warm_python_workers(spark)
    from tracker_trainer_spark.functions.range_join import interval_join
    from tracker_trainer_spark.queries import QUERIES
    from tracker_trainer_spark.queries_attrib_ext import (
        MTA_LINEAR_CREDIT_SQL, MTA_POSITION_CREDIT_SQL, _MTA_WINDOW_DAYS)
    from tracker_trainer_spark.tables import _t

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = _t(spark, sf_dir, "events")

    print("== multitouch_attribution stages ==")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"))
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type")
    t("1. scan + split (purchases, touches)",
      lambda: (purchases.count(), touches.count()))

    intervals = purchases.withColumn(
        "w_start", F.col("p_ts") - F.expr(f"INTERVAL {_MTA_WINDOW_DAYS} DAYS"))
    matched = interval_join(
        touches, intervals, "ts", "w_start", "p_ts",
        on=["user_id"], bin_seconds=_MTA_WINDOW_DAYS * 86400,
        num_partitions=n_shuffle)
    t("2. + interval_join membership", lambda: matched.count())

    wp = Window.partitionBy("purchase_id")
    wr = wp.orderBy("ts", "event_id")
    ranked = matched.repartition(n_shuffle, "purchase_id").select(
        "purchase_id", "event_type",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wp).alias("k"))
    t("3. + purchase repartition + rank/count windows",
      lambda: ranked.count())

    credited = ranked.select(
        "event_type",
        F.expr(MTA_LINEAR_CREDIT_SQL).alias("lin"),
        F.expr(MTA_POSITION_CREDIT_SQL).alias("pos"))
    full = (credited.groupBy(F.col("event_type").alias("channel"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_touches"),
                 (F.round(F.sum("lin"), 4) + F.lit(0.0)).alias("linear_credit"),
                 (F.round(F.sum("pos"), 4) + F.lit(0.0)).alias("position_credit"))
            .orderBy("channel"))
    t("4. + credits + channel agg (full query)", lambda: full.count())

    best = None
    for _ in range(3):
        t0 = time.time()
        QUERIES["multitouch_attribution"](spark, sf_dir).collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"  registry query best-of-3                               {best:7.2f}s")


if __name__ == "__main__":
    main()
