"""Unit surface of functions/basket.py — the mask-histogram mining
primitives that back basket_pair_lift / frequent_brand_triples.

The registry queries check end-to-end parity; these tests pin the
primitives' CONTRACTS so a future caller can't misuse them silently:
histogram counts re-associate exactly, bit decoding is ascending,
packed combination order equals tuple order, and the dictionary memo
is keyed by the immutable identity.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from tracker_trainer_spark.functions.basket import (
    _DICT_CACHE,
    bits_expr,
    clear_dictionary_cache,
    index_dictionary,
    mask_histogram,
    packed_pairs_expr,
    packed_triples_expr,
)


@pytest.fixture()
def baskets_df(spark):
    # 6 baskets over a 5-item domain, with duplicates inside baskets
    # (must dedup) and duplicate item SETS across baskets (must count)
    rows = [
        (1, 0), (1, 2), (1, 2),          # {0,2}
        (2, 2), (2, 0),                  # {0,2} again (other order)
        (3, 1),                          # {1}
        (4, 0), (4, 1), (4, 3), (4, 4),  # {0,1,3,4}
        (5, 4), (5, 3), (5, 1), (5, 0),  # {0,1,3,4} again
        (6, 3),                          # {3}
    ]
    return spark.createDataFrame(rows, ["bk", "bi"])


def test_mask_histogram_counts_distinct_sets(spark, baskets_df):
    hist = {r["mask"]: r["cnt"]
            for r in mask_histogram(baskets_df, "bk", "bi").collect()}
    assert hist == {
        0b00101: 2,   # {0,2} twice
        0b00010: 1,   # {1}
        0b11011: 2,   # {0,1,3,4} twice
        0b01000: 1,   # {3}
    }


def test_mask_histogram_min_bits_filters_before_histogram(spark, baskets_df):
    hist = {r["mask"]: r["cnt"]
            for r in mask_histogram(baskets_df, "bk", "bi",
                                    min_bits=3).collect()}
    assert hist == {0b11011: 2}


def test_bits_expr_decodes_ascending(spark):
    df = spark.createDataFrame([(0b11011,), (0b1,), (0b0,)], ["mask"])
    got = [r[0] for r in
           df.select(bits_expr(5).alias("bs")).collect()]
    assert got == [[0, 1, 3, 4], [0], []]


def test_packed_pairs_match_itertools_combinations(spark):
    bs = [0, 1, 3, 4]
    df = spark.createDataFrame([(bs,)], ["bs"])
    got = df.select(packed_pairs_expr().alias("p")).collect()[0][0]
    want = [(a << 5) + b for a, b in itertools.combinations(bs, 2)]
    assert got == want
    # packed ascending == tuple ascending (the top-k tiebreak property)
    assert got == sorted(got)


def test_packed_triples_match_itertools_combinations(spark):
    bs = [0, 2, 3, 4]
    df = spark.createDataFrame([(bs,)], ["bs"])
    got = df.select(packed_triples_expr().alias("t")).collect()[0][0]
    want = [(a << 10) + (b << 5) + c
            for a, b, c in itertools.combinations(bs, 3)]
    assert got == want
    assert got == sorted(got)


def test_weighted_histogram_counts_equal_per_basket_counts(spark, baskets_df):
    """The load-bearing identity: Σ over distinct masks of
    cnt · C(bits, 2) pair occurrences == per-basket pair counting."""
    hist = mask_histogram(baskets_df, "bk", "bi")
    via_hist = (
        hist.withColumn("bs", bits_expr(5))
        .select(F.explode(packed_pairs_expr()).alias("pk"), "cnt")
        .groupBy("pk").agg(F.sum("cnt").alias("n"))
    )
    naive = (
        baskets_df.groupBy("bk")
        .agg(F.array_sort(F.collect_set("bi")).alias("bs"))
        .select(F.explode(packed_pairs_expr()).alias("pk"))
        .groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, via_hist.collect())) == \
        sorted(map(tuple, naive.collect()))


def test_index_dictionary_memo(spark):
    clear_dictionary_cache()
    df = spark.createDataFrame([("b",), ("a",), ("b",)], ["v"])
    first = index_dictionary(df, "v", cache_key=("k1",))
    assert first == ["a", "b"]
    # memo hit: same key returns the cached list without touching df
    assert index_dictionary(
        spark.createDataFrame([("zzz",)], ["v"]), "v",
        cache_key=("k1",)) == ["a", "b"]
    assert ("k1",) in _DICT_CACHE
    clear_dictionary_cache()
    assert not _DICT_CACHE


def test_mask_histogram_domain_width_guard(spark, baskets_df):
    with pytest.raises(ValueError, match="63-bit mask"):
        mask_histogram(baskets_df, "bk", "bi", domain_size=64)
    # 63 is the last safe width
    mask_histogram(baskets_df, "bk", "bi", domain_size=63)


def test_check_pack_width_guard():
    from tracker_trainer_spark.functions.basket import check_pack_width

    check_pack_width(31, 5, "ok")
    with pytest.raises(ValueError, match="5-bit pack"):
        check_pack_width(32, 5, "overflow")
