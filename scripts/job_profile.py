"""Per-job breakdown of one registry query: job ids, durations and stage
counts for a single construction + toPandas(), after a warm-up run of the
same query (session memos and boundary caches populated, JVM warm) — the
steady-state repeat is what the bench's best-of-3 measures.

Usage: python scripts/job_profile.py <query> [sf_dir] [--cold]
"""
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracker_trainer_spark.queries import QUERIES  # noqa: E402
from tracker_trainer_spark.session import get_spark, warm_python_workers  # noqa: E402
from tracker_trainer_spark.tables import release_caches  # noqa: E402

name = sys.argv[1]
sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") \
    else "/root/testdata/sf0.001"
cold = "--cold" in sys.argv

spark = get_spark(app_name=f"job-profile-{name}", master="local[32]",
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.sql.files.maxPartitionBytes": "4194304"})
spark.sparkContext.setLogLevel("ERROR")
warm_python_workers(spark)
QUERIES["events_type_stats"](spark, sf_dir).toPandas()

if not cold:
    QUERIES[name](spark, sf_dir).toPandas()
    spark.catalog.clearCache()
    release_caches()
    gc.collect()

store = spark.sparkContext._jsc.sc().statusStore()
before = store.jobsList(None).size()
t0 = time.perf_counter()
QUERIES[name](spark, sf_dir).toPandas()
wall = time.perf_counter() - t0

jobs = store.jobsList(None)
new = jobs.size() - before
print(f"\n{name}: {new} jobs, wall {wall:.3f}s "
      f"({'cold' if cold else 'warm repeat'})")
for i in range(new - 1, -1, -1):
    j = jobs.apply(i)
    dur = (j.completionTime().get().getTime() -
           j.submissionTime().get().getTime()) / 1000.0 \
        if j.completionTime().isDefined() else -1
    desc = j.description().isDefined() and j.description().get() or j.name()
    print(f"  job {j.jobId():4d}  {dur:7.3f}s  stages={j.stageIds().size()}  "
          f"{str(desc)[:100]}")
spark.stop()
