"""Engine-bound bench at sf1 (~6M lineitem): the 2x-methodology settler.

At sf0.1, 91 of the registry's DuckDB baselines are under 50 ms, so the
aggregate Spark/DuckDB ratio mostly measures Spark's fixed per-job floor
(~0.1 s) rather than plans.  This script runs the registry on the
replicated sf1 instance (scripts/make_sf_scale.py — 10x sf0.1 with
consistent key offsets), where DuckDB baselines reach 0.5-10 s and the
job floor amortizes, and reports the ENGINE-BOUND ratio the plans
actually earn.

Scope (r9, VERDICT r8 item 6): the FULL oracle-backed registry.
documents/embeddings now scale via PER-COPY PERTURBED replication
(make_sf_scale.scale_text_tables — copy-specific token suffixes /
seeded embedding noise), which scales the dedup/ANN/text workload
linearly WITHOUT the cross-copy exact-duplicate inflation that verbatim
copies would cause (every 3-token shingle window of a copy c>0 contains
a rewritten token, so cross-copy shingle Jaccard is 0).  Rows-only
queries (no oracle SQL — model fits, streaming drains, groom loops)
stay out of a Spark-vs-DuckDB ratio by construction; the artifact
lists them under "rows_only_excluded" so the cut is explicit.

Usage: python scripts/sf1_bench.py [sf_dir] [min_duck_s]
       (defaults: /tmp/sf1 0.05)
Prints one JSON line; the full per-query map goes to BENCH_SF1.json
next to this repo's other bench artifacts.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracker_trainer_spark.queries import ORACLES, QUERIES  # noqa: E402
from tracker_trainer_spark.session import get_spark  # noqa: E402
from tracker_trainer_spark.tables import release_caches  # noqa: E402

SCALED_TABLES = {"region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"}


def eligible(name: str) -> bool:
    return ORACLES.get(name) is not None  # rows-only: no oracle to race


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    min_duck = float(sys.argv[2]) if len(sys.argv) > 2 else 0.05
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = [n for n in QUERIES if eligible(n)]

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(cpus)}")
    for t in SCALED_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')")
    # A handful of oracle SQLs are all-pairs spellings that DuckDB can
    # only run at the driver's sf0.01 (the Spark side uses LSH/banding/
    # blocking instead): at sf1 they spill unboundedly — the first full-
    # registry run filled 80 GB of /  before dying.  Cap the spill so an
    # infeasible oracle FAILS FAST and is recorded as such (the Spark
    # side still gets timed below); the cap is generous next to every
    # feasible oracle's footprint (none spilled at all in r8).
    con.execute("SET temp_directory = '/tmp/duck_spill'")
    con.execute("SET max_temp_directory_size = '24GiB'")
    duck: dict[str, float] = {}
    oracle_failed: dict[str, str] = {}
    # Repeat-policy: best-of-3 amortizes cold-cache noise on sub-minute
    # oracles; an oracle past 60 s is CPU-bound (noise ≪ wall) and a
    # single run stands — repeating the 20-minute all-pairs cosine
    # spellings three times would burn an hour to refine a number whose
    # error bar is seconds.  A 900 s watchdog interrupt()s a runaway
    # oracle so one infeasible spelling cannot wedge the whole artifact.
    import threading
    for n in names:
        runs = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                timer = threading.Timer(900.0, con.interrupt)
                timer.start()
                try:
                    con.execute(ORACLES[n]).df()
                finally:
                    timer.cancel()
                dt = time.perf_counter() - t0
                runs.append(dt)
                if dt > 60.0:
                    break
            duck[n] = min(runs)
        except Exception as e:  # noqa: BLE001
            first = (str(e).splitlines() or [""])[0]
            oracle_failed[n] = f"{type(e).__name__}: {first[:200]}"
            print(f"[duck FAIL] {n}: {oracle_failed[n]}", flush=True)
        print(f"[duck] {n}: {duck.get(n, 'FAILED')}", flush=True)
    con.close()

    # sf1 files have multiple row groups; the 4 MB split override is the
    # same scan-parallelism normalization the sf0.1 bench applies
    spark = get_spark(app_name="tts-sf1-bench", master=f"local[{cpus}]",
                      extra_conf={
                          "spark.ui.enabled": "false",
                          "spark.sql.files.maxPartitionBytes": "4194304",
                          # the single-node yardstick (DuckDB) hash-joins
                          # in memory without any size ceiling; on a
                          # 128 GiB box a 64 MB broadcast ceiling is
                          # still conservative operator tuning, and the
                          # 140 MB sf1 lineitem stays on the shuffle path
                          "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    from tracker_trainer_spark.session import warm_python_workers

    warm_python_workers(spark)
    QUERIES["events_type_stats"](spark, sf_dir).toPandas()

    timings: dict[str, float] = {}
    skipped: dict[str, str] = {}
    for n in names:
        runs = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                QUERIES[n](spark, sf_dir).toPandas()
                runs.append(time.perf_counter() - t0)
                # r10: drain between REPEATS like bench.py — every timed
                # run pays full construction (persisted intermediates and
                # the trained_artifact memo must not warm runs 2-3)
                spark.catalog.clearCache()
                release_caches()
                gc.collect()
            timings[n] = round(min(runs), 3)
        except Exception as e:  # noqa: BLE001
            # ADVICE r5: eligible() reads only the ORACLE text — a query
            # whose SPARK side touches documents/embeddings while its SQL
            # does not would pass the filter and die here on the sf1 dir
            # (which lacks those files). Record + skip instead of
            # aborting the whole bench; the JSON carries the skip so a
            # silently-shrunk query set can't masquerade as coverage.
            # (`or ['']`: a message-less exception must not IndexError
            # inside the handler that exists to survive exceptions.)
            first = (str(e).splitlines() or [""])[0]
            skipped[n] = f"{type(e).__name__}: {first[:200]}"
            print(f"[spark FAIL] {n}: {skipped[n]}", flush=True)
        else:
            print(f"[spark] {n}: {timings[n]}", flush=True)
        finally:
            # cleanup runs on the skip path too: a failed query's cached
            # intermediates (e.g. basket relations) must not occupy
            # storage memory during every subsequent timing
            spark.catalog.clearCache()
            release_caches()  # drain the tracked-persist registry
            # localCheckpoint blocks release via ContextCleaner once the
            # constructed DataFrames are GC'd (ADVICE r5 — see bench.py)
            gc.collect()

    names = [n for n in names if n in timings]
    # engine-bound ratio needs BOTH engines: oracle-infeasible queries
    # (duck failed at sf1) carry a Spark wall in "queries" but stay out
    # of the ratio — "oracle_failed" documents each cut with the error
    eb = [n for n in names if duck.get(n, 0.0) >= min_duck]
    spark_eb = sum(timings[n] for n in eb)
    duck_eb = sum(duck[n] for n in eb)
    # Honest-aggregate guard: a few all-pairs oracle spellings run
    # minutes in DuckDB while the Spark side's LSH/banded plans finish
    # in seconds — true algorithmic wins (the scale path IS the
    # product), but three 400 s yardstick walls would drown the other
    # 60+ ratios in the headline number.  Report the headline WITHOUT
    # them too, so the aggregate is meaningful either way.
    outliers = [n for n in eb if duck[n] > 60.0]
    eb_core = [n for n in eb if n not in outliers]
    spark_core = sum(timings[n] for n in eb_core)
    duck_core = sum(duck[n] for n in eb_core)
    out = {
        "metric": "sf1_engine_bound_ratio",
        "value": round(spark_eb / duck_eb, 3) if duck_eb else None,
        "unit": "x",
        "sf": 1.0,
        "n_queries_run": len(names),
        "rows_only_excluded": sorted(n for n in QUERIES
                                     if ORACLES.get(n) is None),
        "oracle_failed": oracle_failed,
        "skipped": skipped,
        "engine_bound": {
            "n_queries": len(eb),
            "min_duckdb_s": min_duck,
            "spark_total_s": round(spark_eb, 3),
            "duckdb_total_s": round(duck_eb, 3),
        },
        "engine_bound_excl_oracle_outliers": {
            "note": "queries whose DuckDB oracle exceeds 60 s excluded "
                    "(all-pairs oracle spellings vs Spark's LSH plans); "
                    "ratio over the remaining engine-bound set",
            "excluded": {n: round(duck[n], 1) for n in outliers},
            "n_queries": len(eb_core),
            "spark_total_s": round(spark_core, 3),
            "duckdb_total_s": round(duck_core, 3),
            "value": round(spark_core / duck_core, 3) if duck_core else None,
        },
        "spark_total_s": round(sum(timings.values()), 3),
        "duckdb_total_s": round(sum(duck.values()), 3),
        "queries": dict(sorted(timings.items())),
        "duckdb": {n: round(duck[n], 4) for n in sorted(duck) if n in timings},
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_SF1.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in out.items()
                      if k not in ("queries", "duckdb")}))


if __name__ == "__main__":
    main()
