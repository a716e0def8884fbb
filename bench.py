"""Registry benchmark: time the registry queries at $SPARK_GRAFT_SF_DIR
against their DuckDB oracles on the same files, and print one JSON line
{"metric": "headline_queries_total", "value": total_sec, "unit": "sec", ...}.

Usage: python bench.py [query ...]

With no arguments every registry query runs; named queries run alone, in
registry order. Any scale runs the same way: point $SPARK_GRAFT_SF_DIR at
its parquet directory (sf0.1 by default, or a replicated sf1 copy).

Each query is fully materialized so the measured time covers scan →
shuffle → action, not plan construction. Materialization is Arrow on BOTH
engines (Spark ``toPandas()``, DuckDB ``.df()``): row-object ``collect()``
/ ``fetchall()`` deserialization dominated wide results (propensity
explode: 0.95 s collect vs 0.43 s Arrow for identical engine work) and
measures the client protocol, not the engine.

Per query, the detail file also keeps the per-layer columns of the
reported (fastest) repeat: construction seconds and the jobs it started,
Catalyst analysis / optimization / planning, action seconds, jobs, stages,
tasks, shuffle-write and spill bytes, and rows fetched. They are read from
Spark's status store and Catalyst's phase tracker after the clock stops.
Only a full-registry run at the default sf0.1 directory rewrites the
committed BENCH_DETAIL.json; any other run writes its own file under the
git-ignored .bench_work/ (see ``detail_path``).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.spans import StatusStore, catalyst_phases  # noqa: E402
from tracker_trainer_spark.queries import ORACLES, QUERIES, release_caches  # noqa: E402
from tracker_trainer_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REPEATS = 3
# a runaway oracle spelling is interrupted and recorded, not waited on
ORACLE_TIMEOUT_S = 900.0
STORE_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")


def drain(spark) -> None:
    """Drop everything a query left behind, so the next run pays full
    construction:
    - clearCache: pinned InMemoryRelations (shingles, vocab, baskets);
    - release_caches: tracked persists and the trained-artifact memo;
    - gc.collect: localCheckpoint blocks are released only once the
      dropped DataFrame's RDD is GC'd and the ContextCleaner drains."""
    spark.catalog.clearCache()
    release_caches()
    gc.collect()


def detail_path(default_sf_dir: bool, sf: str, n_queries: int) -> str:
    """Repo-relative path of a run's detail file: the committed
    BENCH_DETAIL.json for the full registry at the default sf0.1
    directory ($SPARK_GRAFT_SF_DIR unset), else
    ``.bench_work/BENCH_DETAIL-sf<sf>-<n>q.json``."""
    if default_sf_dir and n_queries == len(QUERIES):
        return "BENCH_DETAIL.json"
    return os.path.join(".bench_work", f"BENCH_DETAIL-sf{sf}-{n_queries}q.json")


def run_repeat(spark, store: StatusStore, fn, sf_dir: str) -> dict:
    """One timed run of registry query ``fn``, its per-layer columns, then
    the drain (outside the timed region).

    Besides the query itself, only ``store.mark()`` (one py4j call) runs
    inside the clock; the status store and Catalyst's phase tracker are
    read after it stops."""
    mark = store.mark()
    start = time.perf_counter()
    df = fn(spark, sf_dir)
    built = time.perf_counter()
    built_mark = store.mark()
    fetch = time.perf_counter()
    rows = len(df.toPandas())
    end = time.perf_counter()

    rec = {"wall_s": end - start, "construct_s": built - start,
           "construct_jobs": built_mark - mark,
           **{f"{phase}_s": s for phase, s in catalyst_phases(df).items()},
           "action_s": end - fetch, "rows": rows}
    executed = store.since(mark)
    rec.update({k: executed[k] for k in STORE_KEYS})
    del df
    drain(spark)
    return rec


def duckdb_timings(sf_dir: str, threads: str,
                   names: list[str]) -> tuple[dict[str, float], dict[str, str]]:
    """Best-of-3 runtime of each named query's DuckDB oracle on the same
    parquet and thread budget — the single-node engine yardstick the
    Spark ratios are judged against (BASELINE.md 'within 2× of a tuned
    single-node engine'). Measured here, not argued in prose.

    An oracle that fails (spill cap, interrupt) is returned in the second
    map with its error and left out of the first."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    # A few all-pairs oracle spellings spill without bound at sf1 (the
    # Spark side uses LSH / banding instead); capped, they fail fast.
    spill_dir = os.path.join(tempfile.gettempdir(), "bench_duckdb_spill")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    con.execute("SET max_temp_directory_size = '24GiB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in names:
        if name not in ORACLES:
            continue
        runs = []
        try:
            for _ in range(REPEATS):
                timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
                timer.start()
                try:
                    start = time.perf_counter()
                    con.execute(ORACLES[name]).df()
                    runs.append(time.perf_counter() - start)
                finally:
                    timer.cancel()
        except duckdb.Error as e:
            first = (str(e).splitlines() or [""])[0]
            failed[name] = f"{type(e).__name__}: {first[:200]}"
            print(f"oracle failed: {name}: {failed[name]}", file=sys.stderr)
            continue
        out[name] = min(runs)  # unrounded: sub-ms oracles must not
        # round to 0.0 and silently vanish from the ratio map
    con.close()
    return out, failed


def main(argv: list[str]) -> None:
    unknown = sorted(set(argv) - set(QUERIES))
    if unknown:
        sys.exit(f"unknown registry queries: {' '.join(unknown)}")
    names = [n for n in QUERIES if not argv or n in argv]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # 4 MB splits: the sf parquet files are all under the 128 MB
    # production split size, so with the default every first stage runs
    # on ONE core — a small-file artifact a 100 TB cluster (≥128 MB
    # files) never sees, and one DuckDB doesn't share (it parallelizes
    # row groups regardless of file size). Restoring scan parallelism
    # here measures the plans, not the local file layout.
    spark = get_spark(app_name="tts-bench", master=f"local[{cpus}]",
                      extra_conf={
                          "spark.ui.enabled": "false",
                          "spark.sql.files.maxPartitionBytes": "4194304",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    store = StatusStore(spark)

    # warm the JVM code paths and the per-core Python UDF worker pool so
    # per-query numbers measure steady state, not process startup
    from tracker_trainer_spark.session import warm_python_workers

    warm_python_workers(spark)
    QUERIES["events_type_stats"](spark, sf_dir).toPandas()
    QUERIES["dedup_minhash_candidates"](spark, sf_dir).toPandas()
    drain(spark)

    # best-of-3 per query: single-shot numbers on a shared box mix
    # scheduler noise into the measurement (observed 5-10x swings on
    # identical plans); the min of three runs reports steady-state engine
    # time while still executing every query end-to-end each time.  The
    # drain after EVERY repeat makes each one pay full construction:
    # CacheManager matches canonicalized plans across repeat
    # constructions, so an undrained persist or training memo would let
    # repeats 2-3 skip work a single-shot run never skips.
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name in names:
        runs = [run_repeat(spark, store, QUERIES[name], sf_dir)
                for _ in range(REPEATS)]
        best = min(runs, key=lambda r: r["wall_s"])
        timings[name] = round(best["wall_s"], 3)
        layers[name] = {k: round(v, 4) if isinstance(v, float) else v
                        for k, v in best.items()}

    # Measure Spark's fixed per-query floor on THIS box right now:
    # best-of-5 of the smallest registry-shaped query (scan the 5-row
    # region table → hash agg over a 32-partition shuffle → Arrow
    # fetch).  60+ registry queries finish in a few hundred ms where
    # DuckDB takes single-digit ms, so the aggregate Spark/DuckDB ratio
    # at sf0.1 is dominated by this constant — plan analysis + stage
    # scheduling + Arrow roundtrip — which amortizes to nothing at
    # cluster scale.  The decomposition makes the artifact say that
    # with data instead of prose: corrected = sum(max(t_q - floor, 0)).
    # (A bare spark.range(1) job measures ~0.02 s and understates the
    # floor 10×; the scan+shuffle+agg shape measures ~0.2 s, matching
    # the observed per-query constant.)
    from pyspark.sql import functions as _F

    floor_runs = []
    for _ in range(5):
        start = time.perf_counter()
        (spark.read.parquet(f"{sf_dir}/region.parquet")
         .groupBy("r_regionkey")
         .agg(_F.count(_F.lit(1)).alias("n")).toPandas())
        floor_runs.append(time.perf_counter() - start)
    job_floor = min(floor_runs)

    duck, oracle_failed = duckdb_timings(sf_dir, cpus, names)
    ratios = {n: round(timings[n] / duck[n], 2)
              for n in timings if duck.get(n, 0) > 0}
    duck = {n: round(v, 4) for n, v in duck.items()}  # rounded for display

    total = round(sum(timings.values()), 3)
    duck_total = round(sum(duck.values()), 3)
    corrected_total = round(
        sum(max(t - job_floor, 0.0) for t in timings.values()), 3)

    # Engine-bound subset: queries whose DuckDB oracle itself does >=
    # 50 ms of work.  Below that, the oracle runs in microseconds and
    # the "ratio" measures nothing but Spark's fixed per-query constant
    # (the 2024-era single-node-engine comparison trap); above it, both
    # engines execute comparable work and the ratio reflects plan
    # quality.  Reported alongside the full aggregate, never instead.
    ENGINE_BOUND_MIN_DUCK_S = 0.05
    eb = [n for n in timings if duck.get(n, 0) >= ENGINE_BOUND_MIN_DUCK_S]
    eb_spark = sum(timings[n] for n in eb)
    eb_duck = sum(duck[n] for n in eb)
    eb_corr = sum(max(timings[n] - job_floor, 0.0) for n in eb)
    engine_bound = {
        "n_queries": len(eb),
        "min_duckdb_s": ENGINE_BOUND_MIN_DUCK_S,
        "spark_total_s": round(eb_spark, 3),
        "duckdb_total_s": round(eb_duck, 3),
        "ratio": round(eb_spark / eb_duck, 2) if eb_duck else None,
        "corrected_ratio": round(eb_corr / eb_duck, 2) if eb_duck else None,
    }

    # Full per-query maps overflow a ~2 KB tail capture of stdout, so
    # they go to a sidecar file and the printed line stays compact: the
    # totals, ratio distribution, and the 10 slowest queries.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "layers": layers,
        "duckdb_s": duck,
        "oracle_failed": oracle_failed,
        "spark_over_duckdb": ratios,
        "spark_job_floor_s": round(job_floor, 4),
        "overhead_corrected_total_s": corrected_total,
        "engine_bound": engine_bound,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail_file = detail_path("SPARK_GRAFT_SF_DIR" not in os.environ, sf, len(names))
    os.makedirs(os.path.dirname(os.path.join(REPO, detail_file)), exist_ok=True)
    with open(os.path.join(REPO, detail_file), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    sorted_ratios = sorted(ratios.values())
    if sorted_ratios:
        mid = len(sorted_ratios) // 2
        median_ratio = round(
            sorted_ratios[mid] if len(sorted_ratios) % 2
            else (sorted_ratios[mid - 1] + sorted_ratios[mid]) / 2, 2)
    else:
        median_ratio = None
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,  # 10 slowest; full map in the detail file
        "n_queries": len(timings),
        "duckdb_total_s": duck_total,
        "spark_over_duckdb_median": median_ratio,
        "spark_over_duckdb_max": max(sorted_ratios) if ratios else None,
        # fixed per-job scheduling floor measured on this box (best-of-5
        # trivial job) and the aggregate with that constant removed from
        # each query — the scale-relevant engine-time comparison
        "spark_job_floor_s": round(job_floor, 4),
        "overhead_corrected_total_s": corrected_total,
        "corrected_over_duckdb": (
            round(corrected_total / duck_total, 2) if duck_total else None),
        # the plan-quality comparison: only queries where the DuckDB
        # oracle itself does >=50ms of work (sub-ms oracles measure
        # Spark's fixed constant, not the engine)
        "engine_bound": engine_bound,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": detail_file,
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
