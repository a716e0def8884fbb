"""The ingest body runs one Spark action per batch: its invalid-record
histogram and write figures ride the timeline write as observe()
metrics, so asking for them costs no job."""

import gzip
import json
import os
import time

from tracker_trainer_spark.ingest.reader import read_track_lines
from tracker_trainer_spark.ksuid import deterministic_ksuid
from tracker_trainer_spark.streaming.ingest_stream import merge_micro_batch

TS = int(time.time()) - 86_400


def _batch(tmp_path, name, lines):
    path = str(tmp_path / f"{name}.jsonl.gz")
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")
    return path


def _decision(i, model="m1"):
    return json.dumps({"message_id": deterministic_ksuid(TS + i, f"d{i}"),
                       "model": model, "count": 2, "item": {"i": i}})


def _reward(i, value):
    return json.dumps({"message_id": deterministic_ksuid(TS + i + 1, f"r{i}"),
                       "model": "m1", "decision_id": deterministic_ksuid(TS + i, f"d{i}"),
                       "reward": value})


_INVALID = ["not json", json.dumps({"message_id": "short", "model": "m1", "count": 2})]


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"one-pass-{time.monotonic_ns()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parquet_files(path):
    return [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def test_histogram_costs_no_job(spark, tmp_path):
    """Same batch with and without on_invalid: the same jobs run, and
    the callback gets the histogram after the append committed."""
    src = _batch(tmp_path, "mixed",
                 [_decision(i) for i in range(20)] + [_reward(3, 1.5)] + _INVALID)
    seen = []

    def report(hist):  # no Spark job here: it would count as one
        seen.append((hist, bool(_parquet_files(str(tmp_path / "with")))))

    with_cb, jobs_with = _jobs(spark, lambda: merge_micro_batch(
        read_track_lines(spark, src), str(tmp_path / "with"), on_invalid=report))
    without, jobs_without = _jobs(spark, lambda: merge_micro_batch(
        read_track_lines(spark, src), str(tmp_path / "without")))
    assert jobs_with == jobs_without > 0
    hist = {"unparseable": 1, "invalid message_id": 1}
    assert seen == [(hist, True)]
    assert with_cb == without == {
        "rows_read": 23, "valid": 21, "invalid": hist, "rows_written": 20,
        "rewarded_rows": 1, "reward_mass": 1.5}


def test_all_invalid_batch(spark, tmp_path):
    """Nothing valid: the callback still gets the full histogram (no
    hang on the observation), and nothing is appended."""
    src = _batch(tmp_path, "bad", _INVALID * 3)
    timeline = str(tmp_path / "tl")
    seen = []
    record, jobs_with = _jobs(spark, lambda: merge_micro_batch(
        read_track_lines(spark, src), timeline, on_invalid=seen.append))
    _, jobs_without = _jobs(spark, lambda: merge_micro_batch(
        read_track_lines(spark, src), str(tmp_path / "tl2")))
    assert jobs_with == jobs_without
    hist = {"unparseable": 3, "invalid message_id": 3}
    assert seen == [hist]
    assert record == {"rows_read": 6, "valid": 0, "invalid": hist,
                      "rows_written": 0, "rewarded_rows": 0, "reward_mass": 0.0}
    assert not _parquet_files(timeline)


def test_all_valid_batch_never_calls_back(spark, tmp_path):
    src = _batch(tmp_path, "good", [_decision(i, f"m{i % 2}") for i in range(8)])
    timeline = str(tmp_path / "tl")
    seen = []
    record = merge_micro_batch(read_track_lines(spark, src), timeline,
                               on_invalid=seen.append)
    assert seen == []
    assert record["invalid"] == {}
    assert record["rows_read"] == record["valid"] == record["rows_written"] == 8
    assert spark.read.parquet(timeline).count() == 8


def test_ksuid_decoded_once_per_id_column(spark, tmp_path, monkeypatch):
    """The written plan runs the KSUID-timestamp pandas UDF once per id
    column: no rule or observed metric re-decodes an id."""
    from tracker_trainer_spark.streaming import ingest_stream

    plans = []
    write = ingest_stream.write_timeline

    def spy(df, path, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, path, **kw)

    monkeypatch.setattr(ingest_stream, "write_timeline", spy)
    src = _batch(tmp_path, "mixed", [_decision(1), _reward(1, 2.0)] + _INVALID)
    merge_micro_batch(read_track_lines(spark, src), str(tmp_path / "tl"))
    (plan,) = plans
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("ksuid_timestamp_udf(message_id") == 1
    assert plan.count("ksuid_timestamp_udf(decision_id") == 1
