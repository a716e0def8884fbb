"""Per-query timing probe: Spark wall (best-of-N) + DuckDB oracle wall
for one or more registry queries at any sf_dir.  The inner loop for a
single perf rewrite — run before AND after to see only the query you
touched, without a full sf1_bench pass.

Usage: python scripts/qtime.py <sf_dir> <query> [query ...] [--n 3]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracker_trainer_spark.queries import ORACLES, QUERIES  # noqa: E402
from tracker_trainer_spark.session import get_spark, warm_python_workers  # noqa: E402
from tracker_trainer_spark.tables import release_caches  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    argv, args, n = sys.argv[1:], [], 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--n"):
            if "=" in a:
                n = int(a.split("=", 1)[1])
            else:  # bare "--n 5": consume the value token too
                n = int(argv[i + 1])
                i += 1
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    sf_dir, names = args[0], args[1:]

    spark = get_spark("qtime", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
                      extra_conf={"spark.sql.files.maxPartitionBytes": "4194304"})
    warm_python_workers(spark)

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/**/*.parquet')"
                if os.path.isdir(p) else
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    for name in names:
        best_s = None
        for _ in range(n):
            t0 = time.monotonic()
            cnt = QUERIES[name](spark, sf_dir).count()
            dt = time.monotonic() - t0
            best_s = dt if best_s is None else min(best_s, dt)
            # drain between runs like the benches do: a tracked_persist
            # query must re-materialize its caches every run, or run 2+
            # times a fully-warm cache the real harness never sees.
            # release_caches also drains the trained_artifact memo (r10);
            # gc frees dropped localCheckpoint blocks via ContextCleaner.
            spark.catalog.clearCache()
            release_caches()
            gc.collect()
        best_d = None
        sql = ORACLES.get(name)
        if sql:
            for _ in range(n):
                t0 = time.monotonic()
                con.execute(sql).fetchall()
                dt = time.monotonic() - t0
                best_d = dt if best_d is None else min(best_d, dt)
        ratio = f"{best_s / best_d:6.1f}x" if best_d else "   n/a"
        print(f"{name:40s} spark={best_s:7.3f}s duck={best_d if best_d else float('nan'):7.3f}s "
              f"ratio={ratio} rows={cnt}")


if __name__ == "__main__":
    main()
