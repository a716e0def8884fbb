"""Algorithm invariants for the r4 query families — properties the
DuckDB oracle CANNOT check (it runs the same spelling, so a shared
algorithmic mistake would pass parity): credit conservation, leakage
freedom, recurrence fidelity against an independent reference, and
eigenvector recovery against numpy."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_mta_credits_conserve_per_purchase(spark, sf_dir):
    """Every purchase with >=1 touch must hand out EXACTLY 1.0 of
    linear credit and 1.0 of position credit (conservation is the
    defining property of an attribution model; parity can't see a
    model that consistently leaks mass on both engines)."""
    from tracker_trainer_spark.functions.range_join import interval_join
    from tracker_trainer_spark.tables import _t
    from tracker_trainer_spark.queries_attrib_ext import (
        _MTA_WINDOW_DAYS,
        MTA_LINEAR_CREDIT_SQL,
        MTA_POSITION_CREDIT_SQL,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"))
    intervals = purchases.withColumn(
        "w_start", F.col("p_ts") - F.expr(f"INTERVAL {_MTA_WINDOW_DAYS} DAYS"))
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type")
    from pyspark.sql.window import Window
    matched = interval_join(touches, intervals, "ts", "w_start", "p_ts",
                            on=["user_id"],
                            bin_seconds=_MTA_WINDOW_DAYS * 86400)
    wp = Window.partitionBy("purchase_id")
    wr = wp.orderBy("ts", "event_id")
    per_purchase = (
        matched.select(
            "purchase_id",
            F.row_number().over(wr).alias("r"),
            F.count(F.lit(1)).over(wp).alias("k"))
        .select(
            "purchase_id",
            # the PRODUCTION credit expressions, imported — a
            # non-conserving weight change in the query cannot stay in
            # sync with a copied test
            F.expr(MTA_LINEAR_CREDIT_SQL).alias("lin"),
            F.expr(MTA_POSITION_CREDIT_SQL).alias("pos"))
        .groupBy("purchase_id")
        .agg(F.sum("lin").alias("lt"), F.sum("pos").alias("pt"))
        .collect()
    )
    assert per_purchase, "no purchases matched any touch"
    for row in per_purchase:
        assert abs(row["lt"] - 1.0) < 1e-9, row
        assert abs(row["pt"] - 1.0) < 1e-9, row


def test_pit_join_is_leakage_free(spark, sf_dir):
    """No spine row may ever see a feature snapshot published AFTER its
    own timestamp — the defining rule of point-in-time correctness.
    Re-derive each matched snapshot's publish time from its contents
    and assert publish_ts <= purchase_ts row by row."""
    from tracker_trainer_spark.tables import _t
    from tracker_trainer_spark.queries_feature_ext import feature_pit_join

    out = feature_pit_join(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    # reconstruct the daily feature table and verify each non-cold-start
    # match corresponds to a snapshot with publish_ts <= ts
    fa = (
        ev.groupBy(
            "user_id",
            (F.date_trunc("day", F.col("ts"))
             + F.expr("INTERVAL 1 DAY")).alias("fts"))
        .agg(F.count(F.lit(1)).alias("d_events"))
        .withColumn("fts_us",
                    F.unix_micros(F.col("fts").cast("timestamp")))
    )
    j = out.where(F.col("d_events") > 0).join(
        fa, ["user_id", "d_events"], "inner"
    ).where(F.col("fts_us") <= F.col("ts_us"))
    # every matched row must have at least ONE valid (<= ts) snapshot
    # with that exact feature value
    n_matched = out.where(F.col("d_events") > 0).count()
    if n_matched == 0:
        # the first-200-by-id spine sample can be ALL day-1 cold-starts
        # at larger SFs (event ids are time-ordered) — the leakage
        # property is vacuous there, not violated
        pytest.skip("spine sample is all cold-start at this SF")
    assert j.select("purchase_id").distinct().count() == \
        out.where(F.col("d_events") > 0).select("purchase_id") \
           .distinct().count(), "a PIT match has no valid snapshot"


def test_holt_matches_independent_python_recurrence(spark, sf_dir):
    """The in-engine Holt fold must reproduce a plain Python
    implementation of the textbook recurrence bit-for-bit (the oracle
    runs the same SQL-ish spelling; this reference shares NO code with
    either engine)."""
    from tracker_trainer_spark.queries_seq_ext import holt_linear_forecast
    from tracker_trainer_spark.queries_stats_ext import daily_purchase_cents

    daily = sorted(
        (r["day"], r["cents"])
        for r in daily_purchase_cents(spark, sf_dir).collect()
    )
    xs = [float(c) for _, c in daily]
    got = {r["day"]: (r["level"], r["trend"])
           for r in holt_linear_forecast(spark, sf_dir).collect()}
    assert len(got) == len(xs) - 1

    def r4_half_up(x: float) -> float:
        # Holt states are exact dyadic rationals that genuinely land on
        # .xxxx5 decimal midpoints; both engines round halves AWAY from
        # zero there, while python's round() is half-even — Decimal
        # HALF_UP over repr(x) matches the engines
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP)) + 0.0

    l, b = xs[0], xs[1] - xs[0]
    for t in range(1, len(xs)):
        if t >= 2:
            x = xs[t]
            nl = 0.5 * x + 0.5 * (l + b)
            b = 0.25 * ((0.5 * x + 0.5 * (l + b)) - l) + 0.75 * b
            l = nl
        day = daily[t][0]
        gl, gb = got[day]
        assert gl == r4_half_up(l), (day, gl, l)
        assert gb == r4_half_up(b), (day, gb, b)


def test_top_pc_recovers_planted_component(spark, tmp_path):
    """Three power-iteration rounds must recover a PLANTED dominant
    direction (spike + small isotropic noise → large spectral gap →
    fast convergence) within cosine 0.99 of numpy's exact leading
    eigenvector of the same quantized covariance — proving the
    algorithm converges, which parity alone cannot (both engines could
    agree on a wrong iteration). The real sf corpora are deliberately
    near-isotropic (see embedding_isotropy), where ANY direction is
    almost an eigenvector and 3 rounds cannot — and need not — match
    eigh's arbitrary pick; a planted spike is the honest recovery
    test."""
    from tracker_trainer_spark.queries_linalg_ext import (
        _PC_DIM,
        embedding_top_pc,
    )

    rng = np.random.RandomState(11)
    spike = rng.randn(_PC_DIM)
    spike /= np.linalg.norm(spike)
    n = 400
    X = (rng.randn(n, 1) * 5.0) @ spike[None, :] \
        + 0.3 * rng.randn(n, _PC_DIM)
    import pandas as pd
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [row.astype("float32") for row in X],
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet"))
    v = np.array([r["loading"]
                  for r in embedding_top_pc(spark, str(tmp_path)).collect()])
    Xd = X.astype("float32").astype("float64")
    Xc = Xd - Xd.mean(axis=0)
    C = np.round((Xc.T @ Xc) / (n - 1), 6)
    top = np.linalg.eigh(C)[1][:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, f"power iteration missed the planted spike: {cos}"


# --------------------------------------------------------------------------
# r5 additions
# --------------------------------------------------------------------------

def test_mwu_rank_sum_identity(spark, sf_dir):
    """U_a + U_b = n_a·n_b exactly — the defining identity of the
    Mann-Whitney statistic. Parity can't check it (both engines run
    the same rank spelling); the identity catches a rank-table or
    midrank mistake that is consistent across engines."""
    from tracker_trainer_spark.functions.sampling import hash_bucket
    from pyspark.sql.window import Window

    orders = __import__(
        "tracker_trainer_spark.queries", fromlist=["_t"])._t(
            spark, sf_dir, "orders")
    base = orders.select(
        (hash_bucket("o_orderkey") % 2).alias("v"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    vc = base.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("t"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vc.select(
        "cents",
        (F.lit(2) * (F.sum("t").over(w).cast("long") - F.col("t"))
         + F.col("t") + F.lit(1)).alias("r2"))
    pv = base.groupBy("v", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    sums = {r["v"]: (r["nv"], r["s2"]) for r in (
        pv.join(ranked, "cents").groupBy("v").agg(
            F.sum("n").cast("long").alias("nv"),
            F.sum(F.col("n") * F.col("r2")).cast("long").alias("s2"))
        .collect())}
    (n_a, s2a), (n_b, s2b) = sums[0], sums[1]
    u2a = s2a - n_a * (n_a + 1)
    u2b = s2b - n_b * (n_b + 1)
    assert u2a + u2b == 2 * n_a * n_b, "U_a + U_b != n_a*n_b"


def test_spearman_self_correlation_is_one(spark, tmp_path):
    """rho(x, x) must be exactly 1.0 — catches a moments or rank
    mistake that parity cannot see."""
    import pandas as pd
    from tracker_trainer_spark.queries_stats_ext import spearman_price_corr

    n = 500
    pdf = pd.DataFrame({
        "l_orderkey": range(1, n + 1),
        "l_linenumber": [1] * n,
        # y strictly increases with x -> perfect monotone relation
        "l_quantity": [float(1 + i % 50) for i in range(n)],
        "l_extendedprice": [float(10 + (1 + i % 50) * 7) for i in range(n)],
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet"))
    row = spearman_price_corr(spark, str(tmp_path)).collect()[0]
    assert row["spearman_rho"] == 1.0


def test_mixture_weights_sum_to_budget(spark, sf_dir):
    """Largest-remainder apportionment must hand out EXACTLY the
    budget — the property naive rounding violates."""
    from tracker_trainer_spark.queries_feature_ext import (
        _MIX_BUDGET, corpus_mixture_weights)

    rows = corpus_mixture_weights(spark, sf_dir).collect()
    assert sum(r["weight"] for r in rows) == _MIX_BUDGET
    assert all(r["extra"] in (0, 1) for r in rows)


def test_oov_rate_bounds_and_vocab_coverage(spark, sf_dir):
    """OOV counts are bounded by token counts, and shrinking the vocab
    can only raise (or keep) every doc's OOV count — monotonicity of
    coverage in vocab size."""
    from tracker_trainer_spark.queries_seq_ext import tokenizer_oov_rate

    big = {r["doc_id"]: r["oov_tokens"]
           for r in tokenizer_oov_rate(spark, sf_dir, 100).collect()}
    small = {r["doc_id"]: r["oov_tokens"]
             for r in tokenizer_oov_rate(spark, sf_dir, 10).collect()}
    full = tokenizer_oov_rate(spark, sf_dir, 100).collect()
    assert all(0 <= r["oov_tokens"] <= r["n_tokens"] for r in full)
    assert all(small[d] >= big[d] for d in big)


def test_zone_map_audit_internal_consistency(spark, sf_dir):
    """Pruned partitions never exceed the partition count, matching
    rows never exceed scanned rows, and a predicate that prunes
    NOTHING must scan every row the fact table has."""
    from tracker_trainer_spark.tables import _t
    from tracker_trainer_spark.queries_attrib_ext import (
        zone_map_pruning_audit)

    total = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull()).count()
    for r in zone_map_pruning_audit(spark, sf_dir).collect():
        assert 0 <= r["n_pruned"] <= r["n_partitions"]
        assert r["rows_matching"] <= r["rows_scanned"] <= total
        if r["n_pruned"] == 0:
            assert r["rows_scanned"] == total
