"""Reproduce the bench-order inflation cluster: run a contiguous slice of
the registry in bench conditions (same session conf, same per-repeat
drains) with or without the streaming rows, and print per-query min-of-3.

Usage: python scripts/repro_cluster.py <sf_dir> <start> <end> [--skip name ...]
"""
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracker_trainer_spark.queries import QUERIES  # noqa: E402
from tracker_trainer_spark.session import get_spark, warm_python_workers  # noqa: E402
from tracker_trainer_spark.tables import release_caches  # noqa: E402

argv = sys.argv[1:]
skip = set()
if "--skip" in argv:
    i = argv.index("--skip")
    skip = set(argv[i + 1:])
    argv = argv[:i]
sf_dir, start, end = argv[0], int(argv[1]), int(argv[2])

spark = get_spark(app_name="repro-cluster", master="local[32]",
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.sql.files.maxPartitionBytes": "4194304"})
spark.sparkContext.setLogLevel("ERROR")
warm_python_workers(spark)
QUERIES["events_type_stats"](spark, sf_dir).toPandas()

names = list(QUERIES)[start:end]
sweeps = int(os.environ.get("REPRO_SWEEPS", "1"))
t_start = time.perf_counter()
for sweep in range(sweeps):
    for name in names:
        if name in skip:
            print(f"{time.perf_counter()-t_start:7.1f}s  s{sweep} {name:35s} SKIPPED")
            continue
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).toPandas()
            runs.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            release_caches()
            gc.collect()
        print(f"{time.perf_counter()-t_start:7.1f}s  s{sweep} {name:35s} min={min(runs):7.3f} "
              f"runs={[round(r,2) for r in runs]}")
spark.stop()
