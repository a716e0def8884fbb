"""Interleaved A/B: funnel HOF-over-collect_list vs window min(when).
Verifies bit-identical output, then times both alternately."""
import gc
import sys
import os
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F, Window
from tracker_trainer_spark.session import get_spark, warm_python_workers
from tracker_trainer_spark.tables import _t, release_caches

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

spark = get_spark("ab-funnel", master="local[32]",
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.sql.files.maxPartitionBytes": "4194304"})
spark.sparkContext.setLogLevel("ERROR")
warm_python_workers(spark)


def new_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    tv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    step1 = ev.withColumn("tv", tv)
    tc = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
               F.col("ts"))
    ).over(w)
    step2 = step1.withColumn("tc", tc)
    tp = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("tc")),
               F.col("ts"))
    ).over(w)
    step3 = step2.withColumn("tp", tp)
    return (
        step3.groupBy("user_id")
        .agg(F.max("tv").alias("t_view"), F.max("tc").alias("t_click"),
             F.max("tp").alias("t_purchase"))
        .orderBy("user_id")
    )


def old_funnel(spark, sf_dir):
    """The pre-r10 spelling, inlined so the A/B stays reproducible after
    the registry body switched to the window form (r10 commit 16e9a56)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("seq")
    )
    null_ts = F.lit(None).cast("timestamp")
    state = F.aggregate(
        "seq",
        F.struct(null_ts.alias("tv"), null_ts.alias("tc"), null_ts.alias("tp")),
        lambda s, e: F.struct(
            F.coalesce(
                s.getField("tv"),
                F.when(e.getField("event_type") == "view", e.getField("ts")),
            ).alias("tv"),
            F.coalesce(
                s.getField("tc"),
                F.when(
                    (e.getField("event_type") == "click")
                    & s.getField("tv").isNotNull()
                    & (e.getField("ts") > s.getField("tv")),
                    e.getField("ts"),
                ),
            ).alias("tc"),
            F.coalesce(
                s.getField("tp"),
                F.when(
                    (e.getField("event_type") == "purchase")
                    & s.getField("tc").isNotNull()
                    & (e.getField("ts") > s.getField("tc")),
                    e.getField("ts"),
                ),
            ).alias("tp"),
        ),
    )
    return (
        seq.select("user_id", state.alias("st"))
        .select(
            "user_id",
            F.col("st.tv").alias("t_view"),
            F.col("st.tc").alias("t_click"),
            F.col("st.tp").alias("t_purchase"),
        )
        .orderBy("user_id")
    )


old = old_funnel

a = old(spark, sf_dir).toPandas()
b = new_funnel(spark, sf_dir).toPandas()
assert list(a.columns) == list(b.columns), (a.columns, b.columns)
assert a.equals(b), "OUTPUT MISMATCH"
print(f"outputs identical: {len(a)} rows, dtypes {list(a.dtypes)}")

for label, fn in [("old-hof", old), ("new-win", new_funnel)] * 3:
    t0 = time.perf_counter()
    fn(spark, sf_dir).toPandas()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache(); release_caches(); gc.collect()
    print(f"{label}: {dt:.3f}s")
spark.stop()
