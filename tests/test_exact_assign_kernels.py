"""r10: the ANN/KMeans TRAINING rounds reassign through exact-fold
Arrow kernels (similarity.l2_assign_exact / ivf_assign_exact /
pq_encode_exact / pq_sub_assign_exact) instead of interpreted HOF
literal trees.  The optimization is only sound if every kernel is
BIT-IDENTICAL to the HOF spelling it replaced — same left-to-right
fold association, same lowest-cid tiebreak — so this test evaluates
both spellings over the real embeddings corpus and requires exact
equality row for row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tracker_trainer_spark.functions.similarity import (
    _lit_vec,
    ivf_assign_exact,
    l2_assign_exact,
    pq_encode_exact,
    pq_sub_assign_exact,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    from tracker_trainer_spark.queries_ml_ext import _emb_double
    from tracker_trainer_spark.tables import _t

    return _emb_double(_t(spark, SF_DIR, "embeddings"))


def _centroids(emb, k):
    """Deterministic per-cell means — knife-edge-free realistic inputs."""
    rows = (
        emb.select((F.col("vec_id") % k).cast("int").alias("cid"),
                   F.posexplode("emb").alias("pos", "v"))
        .groupBy("cid", "pos").agg(F.round(F.avg("v"), 6).alias("m"))
        .collect()
    )
    dim = 1 + max(r["pos"] for r in rows)
    cmap: dict = {}
    for r in rows:
        cmap.setdefault(r["cid"], [0.0] * dim)[r["pos"]] = r["m"]
    return {c: cmap[c] for c in sorted(cmap)}


def test_l2_assign_exact_matches_hof(spark, emb):
    cents = _centroids(emb, 4)
    from tracker_trainer_spark.queries_ml_ext import _assign_expr

    both = emb.select(
        _assign_expr(cents)["cid"].alias("hof"),
        l2_assign_exact("emb", sorted(cents.items())).alias("kernel"),
    )
    assert both.where(F.col("hof") != F.col("kernel")).count() == 0


def test_ivf_assign_exact_matches_expanded_hof(spark, emb):
    cmap = _centroids(emb, 8)
    cands = [
        F.struct(
            (F.lit(float(sum(v * v for v in c)))
             - 2.0 * F.aggregate(
                 F.zip_with(F.col("emb"), _lit_vec(c), lambda x, y: x * y),
                 F.lit(0.0), lambda acc, x: acc + x,
             )).alias("dist"),
            F.lit(cid).alias("cid"),
        )
        for cid, c in sorted(cmap.items())
    ]
    both = emb.select(
        F.array_min(F.array(*cands))["cid"].alias("hof"),
        ivf_assign_exact("emb", [cmap[c] for c in sorted(cmap)]).alias("kernel"),
    )
    assert both.where(F.col("hof") != F.col("kernel")).count() == 0


def _books(emb, m, k):
    cmap = _centroids(emb, k)
    dim = len(next(iter(cmap.values())))
    assert dim % m == 0
    d = dim // m
    return [[cmap[c][s * d:(s + 1) * d] for c in sorted(cmap)]
            for s in range(m)]


def test_pq_encode_exact_matches_hof(spark, emb):
    m, k = 4, 4
    books = _books(emb, m, k)
    d = len(books[0][0])
    hof = F.array(*[
        F.array_min(F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.slice("emb", s * d + 1, d),
                        _lit_vec(books[s][j]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0), lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(j).alias("cid"),
            )
            for j in range(k)
        ]))["cid"]
        for s in range(m)
    ])
    both = emb.select(
        hof.alias("hof"), pq_encode_exact("emb", books).alias("kernel"))
    assert both.where(F.col("hof") != F.col("kernel")).count() == 0


def test_pq_sub_assign_exact_matches_when_chain(spark, emb):
    m, k = 4, 4
    books = _books(emb, m, k)
    d = len(books[0][0])
    sv = emb.select(
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice("emb", s * d + 1, d).alias("sv"))
            for s in range(m)
        ])).alias("x")
    ).select(F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv"))
    expr = None
    for s in range(m):
        cands = [
            F.struct(
                F.aggregate(
                    F.zip_with(F.col("sv"), _lit_vec(c),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(j).alias("cid"),
            )
            for j, c in enumerate(books[s])
        ]
        am = F.array_min(F.array(*cands))["cid"]
        cond = F.col("sub") == s
        expr = F.when(cond, am) if expr is None else expr.when(cond, am)
    both = sv.select(
        expr.alias("hof"),
        pq_sub_assign_exact("sv", "sub", books).alias("kernel"))
    assert both.where(F.col("hof") != F.col("kernel")).count() == 0
