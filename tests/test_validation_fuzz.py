"""Fuzz the parse+validate pipeline against a pure-Python oracle.

Property: for ANY batch of lines — valid records, mutated records,
non-JSON garbage — the pipeline never throws, splits every line into
exactly one of (valid, invalid), and each line's reason (None when
valid) matches a line-by-line Python reimplementation of the
reference's validation rules (reference:
src/ingest/firehose_record.py:57-121). The ingest body's observed
histogram conserves lines and equals the groupBy histogram, and its
timeline equals the one the oracle's valid lines produce.
"""

from __future__ import annotations

import json
import random
import re
import tempfile
import time
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tracker_trainer_spark import ksuid as K
from tracker_trainer_spark.ingest.merge import (
    finalize_for_storage,
    merge_rewarded_decisions,
)
from tracker_trainer_spark.ingest.project import to_rewarded_decisions
from tracker_trainer_spark.ingest.reader import parse_track_records
from tracker_trainer_spark.ingest.sink import write_timeline
from tracker_trainer_spark.ingest.validate import (
    INVALID_REASONS,
    REASON_COL,
    invalid_record_histogram,
    split_valid,
    with_invalid_reason,
)
from tracker_trainer_spark.streaming.ingest_stream import merge_micro_batch

NOW = time.time()
PAST = int(NOW) - 10 * 86400


def _oracle_reason(line: str) -> str | None:
    """The first validation rule ``line`` fails, or None when valid."""
    try:
        rec = json.loads(line)
    except (ValueError, TypeError):
        return "unparseable"
    mid = rec.get("message_id") if isinstance(rec, dict) else None
    if not isinstance(mid, str) or not K.is_valid(mid, now=NOW):
        return "invalid message_id"
    model = rec.get("model")
    if (not isinstance(model, str) or len(model) > 64
            or not re.match(r"^[a-zA-Z0-9][\w\-.]{0,63}$", model)):
        return "invalid model"
    count = rec.get("count")
    if count is not None:  # decision-record rules (JSON-null count = absent)
        if isinstance(count, bool) or not isinstance(count, int) or count < 1:
            return "invalid count"
        if "sample" in rec and count == 1:
            return "invalid count of 1 with sample"
        return None
    # reward-record rules
    did = rec.get("decision_id")
    if not isinstance(did, str) or not K.is_valid(did, now=NOW):
        return "invalid decision_id"
    reward = rec.get("reward")
    if not isinstance(reward, (int, float)) or isinstance(reward, bool):
        return "invalid reward"
    return None


def _ksuids():
    return st.one_of(
        st.integers(0, 10_000).map(lambda i: K.deterministic_ksuid(PAST, i)),
        st.integers(0, 100).map(
            lambda i: K.deterministic_ksuid(int(NOW) + 86400, i)  # future
        ),
        st.sampled_from(["", "short", "x" * 27, "!" * 27]),
    )


_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(-10, 10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=8),
)
_payload = st.recursive(
    _json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(st.text(min_size=1, max_size=6), inner, max_size=3),
    ),
    max_leaves=6,
)


def _records():
    count_variants = st.one_of(
        st.integers(1, 50), st.integers(-5, 0), st.just(1),
        st.floats(allow_nan=False, allow_infinity=False),
        st.sampled_from(["3", True, None]),
    )
    reward_variants = st.one_of(
        st.integers(-100, 100),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.sampled_from(["1.5", True, None]),
    )
    model_variants = st.sampled_from(
        ["m1", "test-model-1.0", "0" * 64, "", "-leading-dash", "bad name",
         "x" * 65, None]
    )

    def build(mid, model, is_decision, count, reward, did, item, sample_present, sample):
        rec = {"message_id": mid, "model": model}
        if model is None:
            del rec["model"]
        if is_decision:
            rec["count"] = count
            rec["item"] = item
            if sample_present:
                rec["sample"] = sample
        else:
            rec["decision_id"] = did
            if reward != "ABSENT":
                rec["reward"] = reward
        return json.dumps(rec)

    return st.builds(
        build, _ksuids(), model_variants, st.booleans(), count_variants,
        st.one_of(reward_variants, st.just("ABSENT")), _ksuids(), _payload,
        st.booleans(), st.one_of(_payload, st.none()),
    )


_lines = st.lists(
    st.one_of(
        _records(),
        st.sampled_from(
            ['not json', '', '[1,2]', '123', '{"unclosed', '{}', 'null',
             '{"message_id": 7}']
        ),
    ),
    min_size=1, max_size=50,
)


def _lines_frame(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "line string")


def _rows(spark, path) -> Counter:
    """Timeline rows as a multiset of every column's value."""
    df = spark.read.parquet(path)
    return Counter(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _oracle_timeline(spark, lines, path) -> None:
    """The ingest chain on the oracle's valid lines, no Spark validation."""
    valid = parse_track_records(_lines_frame(
        spark, [ln for ln in lines if _oracle_reason(ln) is None]))
    write_timeline(finalize_for_storage(merge_rewarded_decisions(
        to_rewarded_decisions(valid), ("model", "decision_id"))), path)


def _check_batch(spark, lines, tmp):
    """Validate ``lines`` every way the engine can and compare each
    result with the oracle; returns merge_micro_batch's record."""
    want = Counter(_oracle_reason(ln) for ln in lines)
    want_hist = {r: n for r, n in want.items() if r is not None}

    checked = with_invalid_reason(
        parse_track_records(_lines_frame(spark, lines)), now_ts=NOW)
    got = {r["line"]: r[REASON_COL]
           for r in checked.select("line", REASON_COL).collect()}
    for ln in lines:
        assert got[ln] == _oracle_reason(ln), ln

    parsed = parse_track_records(_lines_frame(spark, lines))
    grouped = {r["reason"]: r["count"]
               for r in invalid_record_histogram(parsed, now_ts=NOW).collect()}
    assert grouped == want_hist

    # the body reads its own clock; no generated KSUID is dated between
    # NOW and then, so its future guard agrees with the oracle's
    seen = []
    record = merge_micro_batch(_lines_frame(spark, lines), f"{tmp}/got",
                               on_invalid=seen.append)
    assert seen == ([want_hist] if want_hist else [])
    assert record["invalid"] == want_hist
    # conservation: every line read is valid or counted under one reason
    assert record["rows_read"] == len(lines)
    assert record["valid"] + sum(record["invalid"].values()) == len(lines)
    assert record["valid"] == want[None]

    # a message_id sent with two different payloads merges to an
    # arbitrary one of them, so only batches without one are comparable
    valid = {ln for ln in lines if _oracle_reason(ln) is None}
    if valid and len({json.loads(ln)["message_id"] for ln in valid}) == len(valid):
        _oracle_timeline(spark, lines, f"{tmp}/want")
        assert _rows(spark, f"{tmp}/got") == _rows(spark, f"{tmp}/want")
    return record


@settings(deadline=None, max_examples=8)
@given(lines=_lines)
def test_split_valid_matches_python_oracle(spark, lines):
    df = _lines_frame(spark, lines)
    parsed = parse_track_records(df)
    valid, invalid = split_valid(parsed, now_ts=NOW)
    got_valid = sorted(r["line"] for r in valid.select("line").collect())
    got_invalid = [r["line"] for r in invalid.select("line").collect()]
    assert len(got_valid) + len(got_invalid) == len(lines)
    want_valid = sorted(ln for ln in lines if _oracle_reason(ln) is None)
    assert got_valid == want_valid


@settings(deadline=None, max_examples=8)
@given(lines=_lines)
def test_reasons_and_observed_histogram_match_python_oracle(spark, lines):
    with tempfile.TemporaryDirectory() as tmp:
        _check_batch(spark, lines, tmp)


def _fixed_batch() -> list[str]:
    """A seeded batch over two models: decisions, rewards (some resent,
    some for decisions outside the batch), future-dated ids and records
    failing each of the seven rules."""
    rng = random.Random(11)
    lines = []
    for i in range(60):
        did = K.deterministic_ksuid(PAST + i, f"d{i}")
        rec = {"message_id": did, "model": f"m{i % 2}", "count": rng.randint(1, 4),
               "item": {"i": i}, "context": {"c": rng.randint(0, 3)}}
        if rec["count"] > 1:
            rec["sample"] = {"i": rng.randint(0, 9)}
        lines.append(json.dumps(rec))
        for j in range(rng.choice([0, 0, 1, 2])):
            target = did if rng.random() < 0.8 else K.deterministic_ksuid(PAST, f"x{i}")
            lines.append(json.dumps({
                "message_id": K.deterministic_ksuid(PAST + 100 + i, f"r{i}.{j}"),
                "model": rec["model"], "decision_id": target,
                "reward": rng.choice([1, 0.5, -2.25, 0])}))
    lines += lines[-3:]  # resent
    lines += [
        "{not json",
        json.dumps({"message_id": K.deterministic_ksuid(int(NOW) + 86400, 1),
                    "model": "m0", "count": 2, "item": 1}),
        json.dumps({"message_id": K.deterministic_ksuid(PAST, "b1"),
                    "model": "bad model", "count": 2}),
        json.dumps({"message_id": K.deterministic_ksuid(PAST, "b2"),
                    "model": "m0", "count": 2.5}),
        json.dumps({"message_id": K.deterministic_ksuid(PAST, "b3"),
                    "model": "m0", "count": 1, "sample": None}),
        json.dumps({"message_id": K.deterministic_ksuid(PAST, "b4"), "model": "m1",
                    "decision_id": K.deterministic_ksuid(int(NOW) + 86400, 2),
                    "reward": 1}),
        json.dumps({"message_id": K.deterministic_ksuid(PAST, "b5"), "model": "m1",
                    "decision_id": K.deterministic_ksuid(PAST, "d0"),
                    "reward": "1"}),
    ]
    return lines


def test_micro_batch_timeline_equals_oracle_chain(spark, tmp_path):
    """On a fixed batch the one-action ingest body appends exactly the
    rows the oracle's valid lines merge to, counts every rule, and
    reports the appended rows' reward figures."""
    lines = _fixed_batch()
    record = _check_batch(spark, lines, str(tmp_path))
    assert set(record["invalid"]) == set(INVALID_REASONS)
    assert record["invalid"]["invalid decision_id"] == 1
    want = spark.read.parquet(str(tmp_path / "want")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("rewards") != "{}", 1)).alias("rewarded"),
        F.sum("reward").alias("mass")).first()
    assert record["rows_written"] == want["rows"] > 60
    assert 0 < record["rewarded_rows"] == want["rewarded"] < want["rows"]
    assert record["reward_mass"] == pytest.approx(want["mass"], abs=1e-9)
