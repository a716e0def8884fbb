"""Regret-style sanity check (SURVEY §5): with a planted signal —
item "a" always rewarded, others never — the trained decision model must
score "a"-items above the alternatives. Fixed seeds throughout."""

import json
import random

import pytest
from pyspark.sql import functions as F

from tracker_trainer_spark import ksuid
from tracker_trainer_spark.ingest import (
    finalize_for_storage,
    merge_rewarded_decisions,
    parse_track_records,
    split_valid,
    to_rewarded_decisions,
    write_timeline,
)
from tracker_trainer_spark.ingest.reader import read_track_lines
from tracker_trainer_spark.trainer.scoring import score_items
from tracker_trainer_spark.trainer.train import train_two_phase

TS = 1650000000


@pytest.fixture(scope="module")
def signal_timeline(spark, tmp_path_factory):
    """Decisions whose reward depends ONLY on item.song == 'a'."""
    rng = random.Random(3)
    lines = []
    for i in range(200):
        did = ksuid.deterministic_ksuid(TS + i * 60, f"sig{i}")
        song = rng.choice(["a", "b", "c", "d"])
        rec = {"message_id": did, "model": "m1", "count": 4,
               "item": {"song": song, "tempo": rng.randint(60, 180)},
               "context": {"hour": rng.randint(0, 23)},
               "sample": {"song": rng.choice(["b", "c", "d"]),
                          "tempo": rng.randint(60, 180)}}
        lines.append(json.dumps(rec))
        if song == "a":
            rid = ksuid.deterministic_ksuid(TS + i * 60 + 30, f"r{i}")
            lines.append(json.dumps({
                "message_id": rid, "model": "m1", "decision_id": did, "reward": 10.0,
            }))
    path = str(tmp_path_factory.mktemp("sig") / "batch.jsonl")
    open(path, "w").write("\n".join(lines))
    table = str(tmp_path_factory.mktemp("sigtl") / "rd")
    parsed = parse_track_records(read_track_lines(spark, path))
    valid, invalid = split_valid(parsed)
    assert invalid.count() == 0
    write_timeline(finalize_for_storage(merge_rewarded_decisions(
        to_rewarded_decisions(valid), ("model", "decision_id"))), table)
    return table


def test_decision_model_learns_planted_signal(spark, signal_timeline):
    prop, dec = train_two_phase(
        spark, signal_timeline, model_seed=5, model="m1",
        max_features=20, explore=False,
    )
    # score a candidate set that differs only in song
    candidates = spark.createDataFrame(
        [(s, json.dumps({"song": s, "tempo": 120})) for s in ["a", "b", "c", "d"]],
        "song string, item string",
    ).withColumn("context", F.lit('{"hour":12}')).withColumn(
        "decision_id", F.lit(ksuid.deterministic_ksuid(TS + 99999, "probe"))
    )
    # t at scoring = the probe decision's KSUID timestamp
    scored = score_items(dec, candidates, now_ts=float(TS + 99999))
    scores = {r.song: r.score for r in scored.select("song", "score").collect()}
    assert scores["a"] > max(scores[s] for s in "bcd"), scores
