"""KSUID codec: 27-char base62 ids with an embedded creation timestamp.

Layout (public segmentio/ksuid spec): 20 bytes = 4-byte big-endian
seconds-since-KSUID-epoch (epoch offset 1400000000) + 16 payload bytes,
rendered as exactly 27 base62 characters (0-9A-Za-z).

The reference uses these as decision/message ids; the embedded timestamp
drives partition dating and the future-id validity check
(reference: src/ingest/utils.py:53-72, src/ingest/partition.py:428-429).

Spark-side helpers return vectorized UDF columns (Arrow batches); the
codec itself is dependency-free pure Python.
"""

from __future__ import annotations

import datetime as _dt

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

KSUID_EPOCH = 1400000000
KSUID_LEN = 27
_ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_CHAR_VAL = {c: i for i, c in enumerate(_ALPHABET)}
# max 20-byte value => base62 '27 z's would overflow; the real max:
_MAX_RAW = (1 << 160) - 1


def encode(raw: bytes) -> str:
    """20 raw bytes -> 27-char base62 string (zero-padded)."""
    if len(raw) != 20:
        raise ValueError("KSUID raw payload must be 20 bytes")
    n = int.from_bytes(raw, "big")
    out = []
    for _ in range(KSUID_LEN):
        n, r = divmod(n, 62)
        out.append(_ALPHABET[r])
    return "".join(reversed(out))


def decode(ksuid: str) -> bytes:
    """27-char base62 string -> 20 raw bytes. Raises ValueError if invalid."""
    if not isinstance(ksuid, str) or len(ksuid) != KSUID_LEN:
        raise ValueError(f"KSUID must be a {KSUID_LEN}-char string")
    n = 0
    for ch in ksuid:
        try:
            n = n * 62 + _CHAR_VAL[ch]
        except KeyError:
            raise ValueError(f"invalid base62 char {ch!r}") from None
    if n > _MAX_RAW:
        raise ValueError("KSUID value out of 160-bit range")
    return n.to_bytes(20, "big")


def from_parts(timestamp: float | int, payload: bytes) -> str:
    """Build a KSUID from a unix timestamp (seconds) + 16 payload bytes."""
    if len(payload) != 16:
        raise ValueError("payload must be 16 bytes")
    ts = int(timestamp) - KSUID_EPOCH
    if not 0 <= ts < (1 << 32):
        raise ValueError("timestamp out of KSUID range")
    return encode(ts.to_bytes(4, "big") + payload)


def timestamp_of(ksuid: str) -> float:
    """Unix timestamp (seconds, UTC) embedded in the KSUID."""
    raw = decode(ksuid)
    return float(int.from_bytes(raw[:4], "big") + KSUID_EPOCH)


def is_valid(ksuid, now: float | None = None) -> bool:
    """Valid = 27-char base62 AND not from the future.

    Future ids are rejected because they would create an ever-growing hot
    partition (reference: src/ingest/utils.py:62-67).
    """
    if not isinstance(ksuid, str) or len(ksuid) != KSUID_LEN:
        return False
    try:
        ts = timestamp_of(ksuid)
    except ValueError:
        return False
    if now is None:
        now = _dt.datetime.now(_dt.timezone.utc).timestamp()
    return ts <= now


def deterministic_ksuid(timestamp: float | int, key: int | str, seed: int = 0) -> str:
    """Reproducible KSUID for synthetic data: payload from xxh64(key, seed)."""
    from .hashing import xxh64

    h1 = xxh64(str(key), seed)
    h2 = xxh64(str(key), seed + 1)
    payload = h1.to_bytes(8, "big") + h2.to_bytes(8, "big")
    return from_parts(timestamp, payload)


# ---------------------------------------------------------------- Spark side

@F.pandas_udf(StringType())  # type object, not DDL string: a DDL
# return type parses via the ACTIVE session at decoration time, and
# this decorates at module import — often before any session exists
def _ksuid_from_parts_udf(ts: pd.Series, key: pd.Series) -> pd.Series:
    """Vectorized deterministic KSUID builder (Arrow batches; the codec
    itself is pure Python — base62 over 160-bit ints has no vectorized
    spelling, and id GENERATION is a bounded write-path cost, not a
    query hot path). NULL ts or key yields NULL output — without the
    mask, a None/NaN reaches int() and raises deep in an executor task
    with an opaque traceback."""
    return pd.Series([
        None if t is None or k is None or pd.isna(t) or pd.isna(k)
        else deterministic_ksuid(int(t), int(k))
        for t, k in zip(ts, key)
    ])


def ksuid_column(ts_col, key_col) -> Column:
    """Column: reproducible KSUID from (unix-seconds, integer key) —
    the distributed spelling of :func:`deterministic_ksuid`, so
    synthetic timelines build their ids scan-side instead of collecting
    rows to the driver."""
    t = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    return _ksuid_from_parts_udf(t.cast("long"), k.cast("long"))


@F.arrow_udf(DoubleType())
def ksuid_timestamp_udf(ids: pa.Array) -> pa.Array:
    """Vectorized KSUID -> unix seconds (NaN for invalid ids). An Arrow
    UDF like the trainer's flatten and encode: UDFs of one eval type in
    a projection share one Python round trip, mixed types get one each."""
    def _ts(s):
        try:
            return timestamp_of(s)
        except (ValueError, TypeError):
            return float("nan")
    return pa.array([_ts(s) for s in ids.to_pylist()], pa.float64())


def ksuid_timestamp(col) -> Column:
    """Column: embedded unix timestamp (double seconds) of a KSUID column."""
    return ksuid_timestamp_udf(col)


def is_valid_ksuid_col(col, now_ts: float | None = None) -> Column:
    """Column predicate implementing :func:`is_valid` (format + not-future)."""
    c = F.col(col) if isinstance(col, str) else col
    ts = ksuid_timestamp(c)
    now = F.lit(now_ts) if now_ts is not None else F.unix_timestamp(F.current_timestamp()).cast("double")
    return (
        c.isNotNull()
        & (F.length(c) == KSUID_LEN)
        & c.rlike(r"^[0-9A-Za-z]{27}$")
        & ts.isNotNull()
        & ~F.isnan(ts)
        & (ts <= now)
    )
