"""``bench.py``'s per-repeat body: the per-layer columns it records and
the drain it runs after every timed repeat; and which detail file a run
writes.

Two cheap registry queries at sf0.001 that leave state behind:
``customer_rfm_segments`` registers a tracked persist and
``embedding_top_pc`` memoizes a trained artifact, so the drain check
cannot pass vacuously.
"""

from __future__ import annotations

import bench
from perfbench.spans import StatusStore

from tracker_trainer_spark import tables
from tracker_trainer_spark.queries import QUERIES

NAMES = ("customer_rfm_segments", "embedding_top_pc")
COLUMNS = {"wall_s", "construct_s", "construct_jobs", "analysis_s",
           "optimization_s", "planning_s", "action_s", "jobs", "stages",
           "tasks", "shuffle_write_bytes", "spill_bytes", "rows"}


def test_run_repeat_records_layers_and_drains(spark, sf_dir):
    store = StatusStore(spark)
    left_behind = {}
    for name in NAMES:
        def query(spark, sf_dir, name=name):
            df = QUERIES[name](spark, sf_dir)
            left_behind[name] = len(tables._LIVE_CACHES) + len(tables._ARTIFACT_CACHE)
            return df

        rec = bench.run_repeat(spark, store, query, sf_dir)
        assert set(rec) == COLUMNS, name
        assert rec["jobs"] >= 1, name
        assert rec["rows"] >= 1, name
        assert rec["construct_s"] + rec["action_s"] <= rec["wall_s"], name
        assert not tables._LIVE_CACHES, name
        assert not tables._ARTIFACT_CACHE, name
    assert all(left_behind.values()), left_behind


def test_detail_path_only_full_default_run_writes_artifact():
    """Only the full registry at the default sf0.1 directory rewrites the
    committed BENCH_DETAIL.json; a subset or another scale gets its own
    git-ignored file, named by scale and query count."""
    full = len(QUERIES)
    assert bench.detail_path(True, "0.1", full) == "BENCH_DETAIL.json"
    assert bench.detail_path(True, "0.1", 2) == ".bench_work/BENCH_DETAIL-sf0.1-2q.json"
    assert (bench.detail_path(False, "0.001", full)
            == f".bench_work/BENCH_DETAIL-sf0.001-{full}q.json")
    assert bench.detail_path(False, "0.001", 2) == ".bench_work/BENCH_DETAIL-sf0.001-2q.json"
