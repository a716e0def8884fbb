"""Record validation: one reason column, null for valid records.

Reference semantics (reference: src/ingest/firehose_record.py:57-121):
- every record: valid KSUID ``message_id`` (27-char base62, not future),
  valid ``model`` name (regex, length 1..64).
- ``count`` present ⇒ decision record: count must be a JSON integer >= 1;
  a present ``sample`` (even set-null) with count == 1 is invalid.
- ``count`` absent ⇒ reward record: valid KSUID ``decision_id`` and a
  numeric (non-bool, non-string) ``reward`` are required.

The rules live in ONE column expression, :func:`invalid_reason`, which
names the first rule a record fails (the reference's exception
histogram keys, src/ingest/firehose_record.py:223-232). The valid
predicate, the valid/invalid split and the histogram all derive from
it, so they cannot disagree. The only Python involved is the
vectorized KSUID timestamp decode, which :func:`with_invalid_reason`
runs once per id column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ksuid import KSUID_LEN, ksuid_timestamp
from ..schemas import MODEL_NAME_PATTERN
from .reader import _INT_TYPE, _NUMERIC_TYPE_RE

# Reason strings in rule order; a record's reason is the first it fails.
INVALID_REASONS = (
    "unparseable",
    "invalid message_id",
    "invalid model",
    "invalid count",
    "invalid count of 1 with sample",
    "invalid decision_id",
    "invalid reward",
)

REASON_COL = "invalid_reason"
# id column -> its decoded KSUID timestamp column
_ID_TS_COLS = {"message_id": "message_id_ts", "decision_id": "decision_id_ts"}


def is_decision_col() -> Column:
    """Decision iff a (valid-integer) count >= 1 is present.

    Invalid counts make the whole record invalid, so downstream of
    :func:`valid_record_predicate` this is simply `count IS NOT NULL`.
    """
    return F.col("count").isNotNull()


def _ksuid_ok(id_col: str, now_ts: float | None) -> Column:
    """KSUID format + not-future (ksuid.is_valid) over the decoded column."""
    c, ts = F.col(id_col), F.col(_ID_TS_COLS[id_col])
    now = (F.lit(now_ts) if now_ts is not None
           else F.unix_timestamp(F.current_timestamp()).cast("double"))
    return (
        c.isNotNull()
        & (F.length(c) == KSUID_LEN)
        & c.rlike(r"^[0-9A-Za-z]{27}$")
        & ts.isNotNull()
        & ~F.isnan(ts)
        & (ts <= now)
    )


def invalid_reason(now_ts: float | None = None) -> Column:
    """Column over :func:`with_invalid_reason`'s decoded-id frame: null
    for a valid record, else the :data:`INVALID_REASONS` entry of its
    first failing rule.

    Each rule is written as what a valid record satisfies and guarded
    with ``coalesce(ok, false)``: a rule that evaluates to null counts
    as failed, so no record can slip through as null.
    """
    count_present = F.col("count_type").isNotNull()
    count = F.col("count")
    passes = (
        F.col("parsed"),
        _ksuid_ok("message_id", now_ts),
        F.col("model").isNotNull()
        & (F.length("model") <= 64)
        & F.col("model").rlike(MODEL_NAME_PATTERN),
        ~count_present | ((F.col("count_type") == _INT_TYPE) & (count >= 1)),
        ~count_present | ~(F.col("has_sample") & (count == 1)),
        count_present | _ksuid_ok("decision_id", now_ts),
        count_present
        | (F.col("has_reward") & F.col("reward_type").rlike(_NUMERIC_TYPE_RE)),
    )
    fails = [~F.coalesce(ok, F.lit(False)) for ok in passes]
    reason = F.when(fails[0], F.lit(INVALID_REASONS[0]))
    for name, failed in zip(INVALID_REASONS[1:], fails[1:]):
        reason = reason.when(failed, F.lit(name))
    return reason


def valid_record_predicate(now_ts: float | None = None) -> Column:
    """Keep valid records; over the same frame as :func:`invalid_reason`."""
    return invalid_reason(now_ts).isNull()


def with_invalid_reason(parsed: DataFrame, now_ts: float | None = None) -> DataFrame:
    """parse_track_records output + each id's decoded KSUID timestamp +
    ``invalid_reason``.

    The decode is a pandas UDF; selecting it as a column before any rule
    reads it runs the UDF once per id column per row.
    """
    decoded = parsed.withColumns(
        {ts: ksuid_timestamp(F.col(c)) for c, ts in _ID_TS_COLS.items()})
    return decoded.withColumn(REASON_COL, invalid_reason(now_ts))


def split_valid(parsed: DataFrame, now_ts: float | None = None) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid) split, both with ``parsed``'s columns."""
    checked = with_invalid_reason(parsed, now_ts)
    reason = F.col(REASON_COL)
    return (checked.where(reason.isNull()).select(*parsed.columns),
            checked.where(reason.isNotNull()).select(*parsed.columns))


def invalid_record_histogram(parsed: DataFrame, now_ts: float | None = None) -> DataFrame:
    """Count invalid records by reason as a groupBy (its own scan; the
    ingest body gets the same counts from ``observe`` on its write)."""
    return (
        with_invalid_reason(parsed, now_ts)
        .where(F.col(REASON_COL).isNotNull())
        .groupBy(F.col(REASON_COL).alias("reason"))
        .count()
    )
