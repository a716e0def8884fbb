"""Scale-stress: replicate the sf0.1 events table K× and measure the two
hot paths (ingest merge → timeline write, training encode) at each K.

Purpose: show throughput holds as data grows — the local[32] analogue of
the 100 TB question ("does the plan survive a scale-up, or does a
shuffle/collect blow up first?"). Row counts scale; partition counts,
driver memory, and shuffle structure must not.

Usage: python scripts/scale_stress.py [K ...]   (default: 1 4 16)
Prints one JSON line per K with rows and per-stage seconds + rows/s.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tracker_trainer_spark.queries import QUERIES  # noqa: E402
from tracker_trainer_spark.session import get_spark  # noqa: E402
from tracker_trainer_spark.tables import _t  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/scale_stress"


def replicated_events(spark, k: int):
    """K copies of events with distinct users/events per copy — key
    cardinality scales with volume, like real growth (not hot-key skew,
    which merge_rewarded_decisions(salt_buckets=...) covers separately)."""
    ev = _t(spark, SF_DIR, "events")
    copies = spark.range(k).select(F.col("id").alias("copy"))
    return (
        ev.crossJoin(copies)
        .withColumn("user_id", F.concat_ws("-", "user_id", "copy"))
        .withColumn("event_id", F.concat_ws("-", "event_id", "copy"))
        .drop("copy")
    )


def run(spark, k: int) -> dict:
    ev = replicated_events(spark, k).cache()
    n = ev.count()

    t0 = time.perf_counter()
    decisions = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy(F.col("user_id").alias("decision_id"))
        .agg(F.min_by("props", F.struct("ts", "event_id")).alias("item"),
             F.count(F.lit(1)).alias("count"))
    )
    rewards = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("decision_id"))
        .agg(F.sum("value").alias("reward"))
    )
    merged = decisions.join(rewards, "decision_id", "full_outer")
    out = f"{WORK}/timeline_k{k}"
    shutil.rmtree(out, ignore_errors=True)
    merged.write.mode("overwrite").parquet(out)
    t_merge = time.perf_counter() - t0

    t0 = time.perf_counter()
    # encode path on the replicated frame: reuse the registry plan shape
    # by pointing it at a parquet dir with the replicated table
    ev_dir = f"{WORK}/sf_k{k}"
    os.makedirs(ev_dir, exist_ok=True)
    ev.write.mode("overwrite").parquet(f"{ev_dir}/events.parquet")
    t_prep = time.perf_counter() - t0

    # the encode path drops purchase events — divide by what it encodes
    n_enc = ev.where(F.col("event_type") != "purchase").count()
    t0 = time.perf_counter()
    QUERIES["train_encode_events"](spark, ev_dir).count()
    t_encode = time.perf_counter() - t0

    ev.unpersist()
    return {
        "k": k, "rows": n,
        "merge_write_s": round(t_merge, 2),
        "merge_rows_per_s": round(n / t_merge),
        "encode_s": round(t_encode, 2),
        "encode_rows": n_enc,
        "encode_rows_per_s": round(n_enc / t_encode),
        "prep_s": round(t_prep, 2),
    }


def main():
    ks = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="scale-stress", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from tracker_trainer_spark.session import warm_python_workers

    warm_python_workers(spark)

    for k in ks:
        print(json.dumps(run(spark, k)), flush=True)
    spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
