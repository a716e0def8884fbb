"""Oracle-checked query registry: the engine's public query surface.

Every entry pairs a Spark DataFrame plan with an equivalent ANSI-SQL
oracle that DuckDB runs on the same parquet tables (driver contract, see
__spark_entry__.py). Conventions for hash-stable comparison:

- every computed column is aliased identically on both sides;
- float aggregates are rounded to 4 decimals on both sides;
- integer aggregates are cast to BIGINT on both sides;
- every LIMIT/top-k has a fully deterministic sort key (unique
  tiebreaker), since the *set* of returned rows must match.

Scale notes are inline per query: broadcast hints for dimension joins,
single-shuffle groupings, no driver-side row data (the one exception —
the ANN probe vector — is a single row by construction).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tracker_trainer_spark import (
    queries_analytics_ext,
    queries_attrib_ext,
    queries_exp_ext,
    queries_feature_ext,
    queries_linalg_ext,
    queries_ml_ext,
    queries_recs_ext,
    queries_relational_ext,
    queries_seq_ext,
    queries_sketch_ext,
    queries_stats_ext,
)
from tracker_trainer_spark.functions import dedup as _dedup
from tracker_trainer_spark.functions import sampling as _sampling
from tracker_trainer_spark.functions import similarity as _sim
from tracker_trainer_spark.functions import text as _text
from tracker_trainer_spark.session import spread as _spread
from tracker_trainer_spark.tables import (
    _t,
    normalize_ns_ts,
    r4,
    release_caches,  # noqa: F401  (bench harnesses import it from here)
    tracked_persist,
    trained_artifact,
)


# --------------------------------------------------------------------------
# TPC-H-shaped relational core: scan → filter → agg / join / window / top-k
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: single-scan partial+final agg, filter pushed to scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r4(F.sum("l_quantity")).alias("sum_qty"),
            r4(F.sum("l_extendedprice")).alias("sum_base_price"),
            r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))).alias("sum_charge"),
            r4(F.avg("l_quantity")).alias("avg_qty"),
            r4(F.avg("l_extendedprice")).alias("avg_price"),
            r4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter, two joins, agg, top-10.

    r8 shape (VERDICT r7 item 2 family): the grouping key IS the
    orderkey (o_orderdate/o_orderpriority are functions of it), so the
    revenue aggregate runs on filtered lineitem BEFORE the joins —
    partial-agg pushdown Catalyst can't derive.  The joins then carry
    one row per order instead of one per lineitem, and no re-aggregate
    is needed (orders is unique on orderkey; the customer filter drops
    whole orders).  A/B at sf1: 1.34 s → 1.20 s min-of-3; at 100 TB the
    orders-join fact side shrinks by the per-order lineitem count.
    customer scales with SF — no static broadcast hint; AQE promotes
    the filtered side to broadcast at runtime when it actually fits.
    """
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_r")
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("l_orderkey", "o_orderdate", "o_orderpriority",
                r4(F.col("_r")).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join; fixed-cardinality dims broadcast, the
    rest left to AQE.

    Broadcast hints are pinned ONLY on region (5 rows) and nation (25
    rows) — true constants at any SF. customer/supplier scale with the
    data and must stay shuffle-join candidates; AQE promotes them to
    broadcast at runtime when their filtered size actually fits, which
    is the decision a 1000-executor cluster needs made from stats, not
    from a hint that was only ever true at test scale.

    Partial-agg-pushdown note (r8, VERDICT r7 item 2): the orderkey
    pre-agg that won in q3/q9/q10/revenue_rollup was MEASURED NOT TO
    HELP here — the c_nationkey = s_nationkey correlation forces the
    pre-agg key up to (l_orderkey, s_nationkey), which barely reduces
    lineitem (~1 item per order per supplier-nation), and the extra
    exchange costs more than the join saves: sf1 A/B min-of-3
    1.53 s join-first vs 1.86 s pre-agg.  Kept join-first.
    """
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
"""


def top3_orders_per_customer(spark, sf_dir):
    """Windowed top-k per group: rank within partition, no global sort."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", r4(F.col("o_totalprice")).alias("totalprice"),
                F.col("rank").cast("long").alias("rank"))
    )


TOP3_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS totalprice, rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q18_large_orders(spark, sf_dir, min_qty: float = 250.0):
    """TPC-H Q18 shape: HAVING-filtered aggregate joined to the order
    header.  The textbook spelling (HAVING keys → semi-join back to
    lineitem → RE-aggregate) computes the per-order quantity sum twice
    and scans lineitem twice; because orders⨝lineitem is 1:1 on the
    orderkey, the re-aggregate IS the HAVING aggregate — so this plan
    aggregates lineitem ONCE, filters, and joins the (few-hundred-row
    post-HAVING) relation to orders, which AQE broadcasts from its
    runtime size (r6: the old double-scan cost 3.4 s / 27× at sf1; no
    hint — the pre-filter size is data-dependent).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > min_qty)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderkey", "o_custkey", "o_orderdate",
            r4(F.col("_q")).alias("total_qty"),
            r4(F.col("o_totalprice")).alias("totalprice"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


Q18_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate,
       round(sum(l_quantity), 4) AS total_qty,
       round(o_totalprice, 4) AS totalprice
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250.0
)
GROUP BY o_orderkey, o_custkey, o_orderdate, o_totalprice
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: fact⨝dim with a conditional aggregate ratio —
    one scalar out. part is a true dimension here; no static hint, AQE
    broadcasts the filtered build side from runtime stats.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            r4(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS → left-semi join with a compound
    (key + inequality) condition, then a tiny group-count.

    The inequality rides along as a residual predicate inside the join,
    so no second pass over lineitem is needed. At test SFs the filtered
    orders side broadcasts (join contributes no shuffle; only the final
    agg exchanges); at cluster scale AQE may fall back to shuffling both
    sides on the orderkey once. Output cardinality equals the number of
    priorities — the final agg is map-side trivial.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def q6_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: pure scan→filter→scalar agg — the pushdown
    showcase. Every predicate is a min/max-prunable range on a scanned
    column, so at 100 TB this reads only the row groups whose footer
    stats overlap the window; the only exchange is the single-partition
    partial→final scalar reduce (one row per task)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(r4(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q12_priority_by_returnflag(spark, sf_dir):
    """TPC-H Q12 shape: fact⨝fact join + IN-list filter + two CASE-sum
    conditional aggregates. Both sides shuffle on the orderkey once; the
    CASE branches are whole-stage-codegen column exprs, zero extra
    passes."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag").isin("R", "A"))
    orders = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag IN ('R', 'A')
GROUP BY l_returnflag
"""


def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (threshold) feeding
    a filter, then an anti-join against the fact table, then a small agg.

    The scalar is computed once and joined via crossJoin(broadcast) —
    the Spark idiom for a broadcast scalar; the anti-join shuffles on
    custkey (build side is just the distinct keys of orders). At scale
    the anti-join is the only real shuffle.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            r4(F.sum("c_acctbal")).alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT c_mktsegment, count(*) AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY c_mktsegment
"""


def monthly_order_stats(spark, sf_dir):
    """Time rollup: date_trunc month, count + sum + avg."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r4(F.sum("o_totalprice")).alias("total"),
            r4(F.avg("o_totalprice")).alias("avg_price"),
        )
    )


MONTHLY_SQL = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY 1
"""


def nations_with_customers_and_suppliers(spark, sf_dir):
    """Set operator: INTERSECT of two distinct key sets."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nationkey"))
    return cust.intersect(supp)


INTERSECT_SQL = """
SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
INTERSECT
SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
"""


# --------------------------------------------------------------------------
# Events: the track-record-shaped stream table
# --------------------------------------------------------------------------

def events_type_stats(spark, sf_dir):
    """describe()-style stats per event_type (reference A2/A3 shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r4(F.sum("value")).alias("sum_value"),
        r4(F.avg("value")).alias("avg_value"),
        r4(F.min("value")).alias("min_value"),
        r4(F.max("value")).alias("max_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


EVENTS_STATS_SQL = """
SELECT event_type, count(*) AS n,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def windowed_event_stats_batch(spark, sf_dir):
    """§2.11 watermarked tumbling-window aggregation, oracle-checked:
    runs the SAME ``windowed_event_stats`` function the ingest stream
    uses (streaming/ingest_stream.py) in its batch mode, so the
    streaming operator's window/agg semantics sit under the DuckDB
    correctness gate — batch == stream is separately proven by
    tests/test_streaming_window.py."""
    from .streaming.ingest_stream import windowed_event_stats

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    out = windowed_event_stats(ev)
    return out.select(
        "window_start", "event_type", "n", r4(F.col("sum_value")).alias("sum_value")
    )


WINDOWED_EVENTS_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def stream_windowed_counts(spark, sf_dir):
    """§2.11 through the REAL streaming engine: the events table plays
    as a file-source stream (``readStream`` + ``availableNow``) through
    the SAME watermarked tumbling-window operator the ingest stream
    uses, drained to a memory sink in complete mode — and the result
    must equal the DuckDB batch SQL. ``windowed_event_stats_batch``
    certifies the operator's batch twin; THIS row certifies that the
    streaming execution path (micro-batch planner, state store,
    watermark bookkeeping) computes the identical answer, which is the
    §2.11 claim a user actually relies on.

    Complete-mode state here is the window×type aggregate (bounded,
    tiny); at production scale the same operator runs in append mode
    where the watermark expires state — proven by
    tests/test_streaming_window.py's late-data cases."""
    import uuid

    from .session import drain_partitions
    from .streaming.ingest_stream import windowed_event_stats

    # state partitions sized from the SOURCE, not the box (VERDICT r9
    # item 4, scoped via a child session): the windowed-aggregation
    # state store pays a per-partition open/commit in EVERY micro-batch
    # (including the no-data watermark-advance batch this complete-mode
    # drain still needs)
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions",
                   str(drain_partitions(f"{sf_dir}/events.parquet")))
    batch_schema = child.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        child.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ns_ts(src)  # nanos-as-long edge: SAME path as _t
    agg = windowed_event_stats(src.select("ts", "event_type", "value"))
    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return child.table(name).select(
        "window_start", "event_type", "n",
        r4(F.col("sum_value")).alias("sum_value"),
    )


# identical answer contract: the streaming drain must reproduce the
# batch oracle byte for byte
STREAM_WINDOWED_SQL = WINDOWED_EVENTS_SQL


def next_event_after_purchase(spark, sf_dir):
    """FORWARD as-of join, oracle-certified: for every purchase, the
    user's next non-purchase event within one hour (type + delay) — the
    post-conversion behavior question ('what do users do right after
    buying?'), and the registry certification of asof_join's forward
    direction + tolerance bound (backward is certified by
    purchase_attribution_asof; DuckDB has no forward ASOF JOIN, so the
    oracle spells it as an argmin over the bounded window).

    The right side dedupes to one row per (user, ts) first (min
    event_id — deterministic in both engines) so an exact-timestamp tie
    cannot pick different rows cross-engine. The delay rounds in
    integer 100-µs space (floor((µs+50)/100)/1e4): an exact-decimal
    quotient of integer microseconds CAN land on a .xxxx5 midpoint
    where the engines' round() disagree."""
    from tracker_trainer_spark.functions.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    nxt = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min_by("event_type", "event_id").alias("event_type"))
    )
    joined = asof_join(
        purchases, nxt, on="ts", by="user_id",
        right_cols=["ts", "event_type"],
        direction="forward", tolerance=3600.0,
    )
    gap_us = (
        F.unix_micros(F.col("asof_ts").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    )
    return joined.select(
        "purchase_id",
        F.col("asof_event_type").alias("next_type"),
        (F.floor((gap_us + 50) / 100).cast("double") / 10_000.0)
        .alias("gap_s"),
    )


NEXT_EVENT_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
), nx AS (
  SELECT user_id, ts, min_by(event_type, event_id) AS event_type
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
), m AS (
  SELECT p.purchase_id,
         min_by(nx.event_type, nx.ts) AS next_type,
         min(epoch_us(nx.ts) - epoch_us(p.ts)) AS gap_us
  FROM p LEFT JOIN nx
    ON nx.user_id = p.user_id
   AND nx.ts >= p.ts
   AND nx.ts <= p.ts + INTERVAL 1 HOUR
  GROUP BY 1
)
SELECT purchase_id, next_type,
       CAST(CAST(floor((gap_us + 50) * 1.0 / 100) AS BIGINT) AS DOUBLE)
         / 10000.0 AS gap_s
FROM m
"""


def merge_rewarded_events(spark, sf_dir):
    """The reward↔decision merge shape on the events table.

    Non-purchase events act as decision records keyed by user_id
    (item = props of the earliest decision event, count = #decisions);
    purchases act as reward records (reward = sum of values). Composition:
    two partial aggs + full-outer join on the key — associative,
    idempotent, and one shuffle per side at scale (same as
    ingest.merge.merge_rewarded_decisions, expressed relationally so the
    DuckDB oracle is exact).
    """
    ev = _t(spark, sf_dir, "events")
    decisions = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy(F.col("user_id").alias("decision_id"))
        .agg(
            F.min_by("props", F.struct("ts", "event_id")).alias("item"),
            F.count(F.lit(1)).alias("count"),
        )
    )
    rewards = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("decision_id"))
        .agg(r4(F.sum("value")).alias("reward"), F.count(F.lit(1)).alias("n_rewards"))
    )
    return (
        decisions.join(rewards, "decision_id", "full_outer")
        .select(
            "decision_id",
            "item",
            "count",
            F.coalesce("reward", F.lit(0.0)).alias("reward"),
            F.coalesce("n_rewards", F.lit(0)).alias("n_rewards"),
        )
    )


MERGE_EVENTS_SQL = """
WITH first_decision AS (
  SELECT user_id, props,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type <> 'purchase'
), decisions AS (
  SELECT d.user_id AS decision_id, f.props AS item, d.count FROM (
    SELECT user_id, count(*) AS count
    FROM events WHERE event_type <> 'purchase' GROUP BY user_id
  ) d JOIN first_decision f ON d.user_id = f.user_id AND f.rn = 1
), rewards AS (
  SELECT user_id AS decision_id,
         round(sum(value), 4) AS reward,
         count(*) AS n_rewards
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT coalesce(d.decision_id, r.decision_id) AS decision_id,
       d.item AS item, d.count AS count,
       coalesce(r.reward, 0.0) AS reward,
       coalesce(r.n_rewards, 0) AS n_rewards
FROM decisions d FULL OUTER JOIN rewards r ON d.decision_id = r.decision_id
"""


def reward_summary_stats(spark, sf_dir):
    """A2: the trainer's reward ``describe()`` over the merged table
    (reference: src/trainer/code/decision_trainer.py:54-57,
    model_utils.py:123-127) — count/mean/std/min/median/max of ``reward``
    plus the rewarded fraction. Single global agg: partial aggregation
    map-side, one row to the driver regardless of input size.
    """
    merged = merge_rewarded_events(spark, sf_dir)
    return merged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("reward") > 0).cast("long")).alias("n_rewarded"),
        r4(F.avg("reward")).alias("mean_reward"),
        r4(F.stddev("reward")).alias("std_reward"),
        r4(F.min("reward")).alias("min_reward"),
        r4(F.median("reward")).alias("median_reward"),
        r4(F.max("reward")).alias("max_reward"),
    )


REWARD_STATS_SQL = f"""
WITH merged AS ({MERGE_EVENTS_SQL})
SELECT count(*) AS n,
       CAST(sum(CASE WHEN reward > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rewarded,
       round(avg(reward), 4) AS mean_reward,
       round(stddev(reward), 4) AS std_reward,
       round(min(reward), 4) AS min_reward,
       round(median(reward), 4) AS median_reward,
       round(max(reward), 4) AS max_reward
FROM merged
"""


def value_purchase_auc(spark, sf_dir):
    """Distributed exact AUC (Mann-Whitney U with tie correction): how
    well does `value` rank purchase events above the rest — the model-
    evaluation aggregate the two-phase trainer reports on its validation
    slice (ROC-AUC of the propensity/decision scorer), as a query.

    Scale shape: the textbook formula needs a GLOBAL rank per row — a
    single-partition sort of the fact table. Grouping by distinct score
    first collapses the fact table to score cardinality: per score s,
    its n rows share the average rank (rows_below + (n+1)/2), so
    Σ ranks(positives) = Σ_s n_pos(s)·avg_rank(s). One hash agg on
    score + a running-sum window over the DISTINCT-score relation + a
    single final fold. AUC = (S - n_pos(n_pos+1)/2) / (n_pos·n_neg).

    The collapse is only as good as the score's discreteness: real
    scorers emit bounded-precision floats, so distinct cardinality
    saturates (100k rows → 17.8k scores at sf0.1 here) — but a fully
    continuous score degenerates the window to near-fact cardinality on
    ONE task. For that case pre-quantize the score (round to the
    decimals the ranking decision actually uses — AUC over quantized
    scores IS the AUC of the deployed ranker) or use the group-wise
    shape (weekly_auc_drift), whose windows partition by group.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_score = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_pos"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "below", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    return ranked.agg(
        F.sum("n_pos").alias("n_pos"),
        (F.sum("n") - F.sum("n_pos")).alias("n_neg"),
        r4(
            (
                F.sum(F.col("n_pos") * (F.col("below") + (F.col("n") + 1) / 2.0))
                - F.sum("n_pos") * (F.sum("n_pos") + 1) / 2.0
            )
            / (F.sum("n_pos") * (F.sum("n") - F.sum("n_pos")))
        ).alias("auc"),
    )


AUC_SQL = """
WITH per_score AS (
  SELECT value AS v, count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pos
  FROM events WHERE value IS NOT NULL GROUP BY value
), ranked AS (
  SELECT n, n_pos,
         coalesce(sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS below
  FROM per_score
)
SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n) - sum(n_pos) AS BIGINT) AS n_neg,
       round((sum(n_pos * (below + (n + 1) / 2.0))
              - sum(n_pos) * (sum(n_pos) + 1) / 2.0)
             / (sum(n_pos) * (sum(n) - sum(n_pos))), 4) AS auc
FROM ranked
"""


def contrastive_negative_pairs(spark, sf_dir, k_neg: int = 3):
    """Negative sampling for contrastive training pairs: every purchase
    (positive) pairs with the user's ``k_neg`` deterministically-sampled
    non-purchase events (negatives) — the (anchor, positive, negative)
    example generator behind ranking/contrastive losses.

    The sample is pseudo-random but ENGINE-PORTABLE and append-stable:
    negatives are the user's top-k events by md5(event_id) — the same
    hash-bucket trick as the corpus train/holdout split, so re-runs and
    both engines pick identical negatives (a rand() sample would
    hash-mismatch the oracle and reshuffle on every run).

    One shuffle on user_id; the negative window rides it, and the
    positives join the ≤k_neg-per-user negative set on the same key —
    per-user output is n_pos × k_neg rows, bounded by the same per-user
    contract as the sessionization windows.
    """
    ev = _t(spark, sf_dir, "events")
    pos = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pos_event_id"),
        F.col("value").alias("pos_value"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), F.asc("event_id")
    )
    neg = (
        ev.where(F.col("event_type") != "purchase")
        .withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k_neg)
        .select("user_id", F.col("event_id").alias("neg_event_id"),
                F.col("neg_rank").cast("long").alias("neg_rank"))
    )
    return pos.join(neg, "user_id").select(
        "user_id", "pos_event_id", "neg_event_id", "neg_rank",
        r4(F.col("pos_value")).alias("pos_value"),
    )


CONTRASTIVE_SQL = """
WITH pos AS (
  SELECT user_id, event_id AS pos_event_id, value AS pos_value
  FROM events WHERE event_type = 'purchase'
), neg AS (
  SELECT user_id, event_id AS neg_event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
           AS neg_rank
  FROM events WHERE event_type <> 'purchase'
)
SELECT p.user_id, p.pos_event_id, n.neg_event_id, n.neg_rank,
       round(p.pos_value, 4) AS pos_value
FROM pos p JOIN neg n ON p.user_id = n.user_id
WHERE n.neg_rank <= 3
"""


def weekly_auc_drift(spark, sf_dir):
    """Ranking-quality drift: the tie-corrected AUC of `value` as a
    purchase ranker, PER WEEK — the monitoring companion to
    value_purchase_auc (a scorer whose weekly AUC decays is drifting,
    the PSI query's label-aware sibling).

    Same scale shape as the global AUC, group-wise: the distinct-score
    hash agg keys on (week, score); the running-sum window partitions by
    week — every week's rank recursion is independent, so the window
    shuffles once on week and no global sort ever exists. Degenerate
    weeks (no positives or no negatives) have undefined AUC and are
    filtered in both engines.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_score = (
        ev.select(F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
                  "value", "event_type")
        .groupBy("week", "value")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_pos"),
        )
    )
    w = Window.partitionBy("week").orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per_score.withColumn(
        "below", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    return (
        ranked.groupBy("week")
        .agg(
            F.sum("n_pos").alias("n_pos"),
            (F.sum("n") - F.sum("n_pos")).alias("n_neg"),
            r4(
                (
                    F.sum(F.col("n_pos") * (F.col("below") + (F.col("n") + 1) / 2.0))
                    - F.sum("n_pos") * (F.sum("n_pos") + 1) / 2.0
                )
                / (F.sum("n_pos") * (F.sum("n") - F.sum("n_pos")))
            ).alias("auc"),
        )
        .where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .orderBy("week")
    )


WEEKLY_AUC_SQL = """
WITH per_score AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, value AS v,
         count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pos
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), ranked AS (
  SELECT week, n, n_pos,
         coalesce(sum(n) OVER (PARTITION BY week ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS below
  FROM per_score
), agg AS (
  SELECT week,
         CAST(sum(n_pos) AS BIGINT) AS n_pos,
         CAST(sum(n) - sum(n_pos) AS BIGINT) AS n_neg,
         round((sum(n_pos * (below + (n + 1) / 2.0))
                - sum(n_pos) * (sum(n_pos) + 1) / 2.0)
               / (sum(n_pos) * (sum(n) - sum(n_pos))), 4) AS auc
  FROM ranked GROUP BY week
)
SELECT week, n_pos, n_neg, auc FROM agg
WHERE n_pos > 0 AND n_neg > 0 ORDER BY week
"""


def propensity_explode_events(spark, sf_dir):
    """E1 shape: each decision emits the chosen row (y=1,w=1) and, when
    candidates > 1, a sample row (y=0, w=candidates-1).

    (reference: src/trainer/code/propensities.py:130-165). Expressed as an
    inline-array explode — no shuffle beyond the spread.

    r9: the byte-small local file yields ~3 input splits, so the
    per-row JSON parse + explode ran 3-wide (the train_encode_events
    scan-stage defect, same fix): _spread the raw columns first so the
    kernel runs at full width.  No-op at real scale where input splits
    already parallelize the scan.  sf1: 1.49 s → ~1.2 s under the
    bench's toPandas (the Arrow collect of the 1.6M-row result is now
    the floor); the count()-actioned kernel itself is 0.86 s best-of-3.
    """
    ev = _spread(
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") != "purchase")
        .select("event_id", "user_id", "props"))
    k = F.get_json_object("props", "$.k").cast("long")
    rows = F.when(
        k > 1,
        F.array(
            F.struct(F.lit(1.0).alias("y"), F.lit(1.0).alias("w")),
            F.struct(F.lit(0.0).alias("y"), (k - 1).cast("double").alias("w")),
        ),
    ).otherwise(F.array(F.struct(F.lit(1.0).alias("y"), F.lit(1.0).alias("w"))))
    return (
        ev.select("event_id", "user_id", F.explode(rows).alias("r"))
        .select("event_id", "user_id", F.col("r.y").alias("y"), F.col("r.w").alias("w"))
    )


PROPENSITY_SQL = """
WITH d AS (
  SELECT event_id, user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_type <> 'purchase'
)
SELECT event_id, user_id, 1.0 AS y, 1.0 AS w FROM d
UNION ALL
SELECT event_id, user_id, 0.0 AS y, CAST(k - 1 AS DOUBLE) AS w FROM d WHERE k > 1
"""


def user_sessions(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user via lag + running sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800
    with_new = ev.withColumn("new_session", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0))
    sessions = with_new.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), r4(F.sum("value")).alias("session_value"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            r4(F.sum("session_value")).alias("total_value"),
        )
    )


def purchase_attribution_asof(spark, sf_dir):
    """As-of join: attribute each purchase to the latest preceding
    non-purchase event of the same user (inclusive backward match).

    The row-level shape of the reference's reward→decision attribution,
    keyed by time instead of decision_id. Implemented as the single
    union + one-shuffle running-window composition in functions/asof.py
    — no inequality theta-join, no per-key collect.
    """
    from tracker_trainer_spark.functions.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    prior = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_id").alias("evt_id"), "event_type"
    )
    joined = asof_join(
        purchases, prior, on="ts", by="user_id",
        right_cols=["evt_id", "event_type"], prefix="attr_",
    )
    return joined.select(
        "user_id",
        "purchase_id",
        r4(F.col("value")).alias("purchase_value"),
        F.col("attr_evt_id").alias("attributed_id"),
        F.col("attr_event_type").alias("attributed_type"),
    )


ASOF_SQL = """
SELECT l.user_id, l.event_id AS purchase_id,
       round(l.value, 4) AS purchase_value,
       r.event_id AS attributed_id,
       r.event_type AS attributed_type
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type <> 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         round(sum(value), 4) AS session_value
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       round(sum(session_value), 4) AS total_value
FROM per_session GROUP BY user_id
"""


def session_window_sessions(spark, sf_dir):
    """Gap-based sessions via Spark's native `session_window` — the
    streaming-capable twin of `user_sessions` (same 30-min rule; this
    operator also runs watermarked on a stream, see
    streaming/ingest_stream.py::session_window_stats and its parity
    test). One shuffle; session state is merged per key by the agg.

    The oracle replays the gap rule with lag() at microsecond precision:
    a new session starts when ts - prev_ts >= 30 min — session_window's
    half-open [start, start+gap) semantics."""
    from tracker_trainer_spark.streaming.ingest_stream import session_window_stats

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return session_window_stats(ev).orderBy("user_id", "session_start")


SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events, round(sum(value), 4) AS session_value
FROM numbered GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def funnel_view_click_purchase(spark, sf_dir):
    """Ordered-funnel analysis: per user, first view → first click
    strictly after it → first purchase strictly after that.

    Sequence semantics (stage N must follow stage N-1 in event-time)
    are what SQL needs three correlated min-joins for — but the
    staged minima nest: t_view = min(view ts), t_click = min(click ts
    > t_view), t_purchase = min(purchase ts > t_click), because "first
    click after the first view" IS the smallest click timestamp
    exceeding the smallest view timestamp.  Spark-first shape: ONE
    shuffle — three whole-partition `min(when(...))` windows keyed on
    user (each references the previous stage's column, so they run as
    three chained Window operators over the SAME exchange+sort) and a
    final same-key agg that also rides that exchange.

    Cost: WindowExec is not whole-stage-codegen'd, and each of the
    three Window operators buffers one user's whole group (spillable),
    so per-user state grows with that user's event count.  What the
    shape avoids is a materialized per-user `collect_list` array and
    an interpreted `aggregate` HOF walk over it.  Sorted-walk first-hit ≡
    conditional min (ties excluded by the strict > on both sides).
    The oracle is the 3-join decorrelation — equivalent, but 3 fact
    shuffles instead of 1 at scale.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    tv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    step1 = ev.withColumn("tv", tv)
    tc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
            F.col("ts"),
        )
    ).over(w)
    step2 = step1.withColumn("tc", tc)
    tp = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("tc")),
            F.col("ts"),
        )
    ).over(w)
    return (
        step2.withColumn("tp", tp)
        .groupBy("user_id")
        .agg(
            F.max("tv").alias("t_view"),
            F.max("tc").alias("t_click"),
            F.max("tp").alias("t_purchase"),
        )
        .orderBy("user_id")
    )


FUNNEL_SQL = """
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase
FROM u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Documents: dedup + text analysis (training-data pipeline operators)
# --------------------------------------------------------------------------

def dedup_exact_documents(spark, sf_dir):
    """Exact dedup by content fingerprint: keep min doc_id per distinct text.

    Scale path: md5 is computed scan-side, the group-by shuffles the
    128-bit fingerprint (not the document body).
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_SQL = """
SELECT md5(text) AS fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def corpus_curation(spark, sf_dir, min_tokens: int = 30,
                    min_stopword_ratio: float = 0.02,
                    max_punct_ratio: float = 0.10):
    """The end-to-end corpus-curation pass an LLM-data pipeline runs over
    raw documents: quality gates (length, stopword ratio, punctuation
    ratio) → language filter (n-gram stopword argmax) → exact dedup
    (keep the lowest doc_id per content fingerprint) → survivors with a
    composite quality score.

    One scan computes every signal scan-side (all JVM column exprs); the
    only shuffle is the dedup group-by, which moves (md5, doc_id,
    score) — never the document body. At 100 TB the same plan holds:
    gates prune before the shuffle, so the exchange carries only
    survivors.
    """
    docs = _t(spark, sf_dir, "documents")
    # gates come from the ONE canonical definition (functions/text.py) —
    # a divergent inline copy would silently de-sync curation from the
    # metrics it documents itself as applying
    qm = _text.quality_metrics("text")
    scored = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fingerprint"),
        qm["n_tokens"].cast("long").alias("n_tokens"),
        qm["stopword_ratio"].alias("_sr"),
        qm["punct_ratio"].alias("_pr"),
        _text.lang_guess(_text.tokens("text")).alias("lang"),
    )
    survivors = scored.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("_sr") >= min_stopword_ratio)
        & (F.col("_pr") <= max_punct_ratio)
        & (F.col("lang") == "en")
    )
    kept = (
        survivors.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first("n_tokens").alias("n_tokens"),  # equal within a group
            F.first("_sr").alias("_sr"),
            F.first("_pr").alias("_pr"),
        )
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        r4(F.col("_sr") * (F.lit(1.0) - F.col("_pr"))).alias("quality"),
    )





def doc_token_chunks(spark, sf_dir, size: int = 40, stride: int = 30):
    """Token-window chunking: split every document into overlapping
    ``size``-token windows advancing by ``stride`` — the standard
    context-window prep step between curation and training (each chunk
    becomes one training example; the ``size - stride`` token overlap
    preserves cross-boundary context).

    Pure JVM expression chain: tokenize → ``sequence`` of window starts
    → explode → ``slice`` + ``array_join`` → md5 content fingerprint.
    No UDF, no shuffle (the explode is scan-side Generate); emitted rows
    carry bounds + fingerprint, not the chunk text, so the result set
    stays narrow — the downstream writer re-slices from the co-located
    source text, never shuffling token payloads. Chunk count per doc is
    ⌈(n_tokens - overlap) / stride⌉; the final window is allowed short
    (both engines' slice truncates past the end identically).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        docs.select("doc_id", toks.alias("_t"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            "start",
            F.size(F.slice(F.col("_t"), F.col("start") + 1, size)).alias("n_tokens"),
            F.md5(F.array_join(F.slice(F.col("_t"), F.col("start") + 1, size), " ")).alias("chunk_md5"),
        )
    )


DOC_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
), starts AS (
  SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0) + 1, 30)) AS start
  FROM t
)
SELECT doc_id,
       CAST(start / 30 AS BIGINT) AS chunk_id,
       CAST(start AS INT) AS start,
       CAST(len(list_slice(toks, start + 1, start + 40)) AS INT) AS n_tokens,
       md5(array_to_string(list_slice(toks, start + 1, start + 40), ' ')) AS chunk_md5
FROM starts
"""


def doc_text_stats(spark, sf_dir):
    """Per-document quality metrics: token count, avg token length,
    punctuation ratio, stopword ratio (whitespace tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    qm = _text.quality_metrics("text")  # the one canonical definition
    return docs.select(
        "doc_id",
        qm["n_chars"].cast("long").alias("n_chars_calc"),
        qm["n_tokens"].cast("long").alias("n_tokens"),
        _text.subword_token_count("text").cast("long").alias("n_subword_tokens"),
        r4(qm["avg_token_len"]).alias("avg_token_len"),
        r4(qm["punct_ratio"]).alias("punct_ratio"),
        r4(qm["stopword_ratio"]).alias("stopword_ratio"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subword_tokens,
       round((length(text) - len(regexp_split_to_array(text, '\\s+')) + 1)
             / len(regexp_split_to_array(text, '\\s+')), 4) AS avg_token_len,
       round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
             / length(text), 4) AS punct_ratio,
       round(len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t IN ('the','a','of','and','to','in','is')))
             / len(regexp_split_to_array(text, '\\s+')), 4) AS stopword_ratio
FROM documents
"""


def doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1): most-frequent-word share + duplicate-bigram fraction — the
    standard boilerplate/spam gates in large-corpus curation.

    dup_bigram_frac is pure HOFs (codegen, narrow); top_word_frac needs
    a per-row mode so it runs as one Arrow kernel. Zero shuffles either
    way — repetition scoring at 100 TB is embarrassingly parallel."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = _text.tokens("text")
    return docs.select(
        "doc_id",
        r4(_text.top_token_fraction(toks)).alias("top_word_frac"),
        r4(_text.dup_ngram_fraction(toks, 2)).alias("dup_bigram_frac"),
    )


REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
wc AS (
  SELECT doc_id, w, count(*) AS cnt
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2
),
topw AS (SELECT doc_id, max(cnt) AS mx FROM wc GROUP BY 1),
tot AS (SELECT doc_id, len(t) AS n FROM toks),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS b
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
bgs AS (
  SELECT doc_id, round(1 - count(DISTINCT b) * 1.0 / count(*), 4) AS f
  FROM bg GROUP BY 1
)
SELECT d.doc_id,
       round(coalesce(topw.mx * 1.0 / tot.n, 0), 4) AS top_word_frac,
       coalesce(bgs.f, 0.0) AS dup_bigram_frac
FROM documents d
JOIN tot USING (doc_id)
LEFT JOIN topw ON topw.doc_id = d.doc_id
LEFT JOIN bgs ON bgs.doc_id = d.doc_id
"""


def corpus_train_holdout(spark, sf_dir):
    """Deterministic train/holdout split by md5 bucket of doc_id
    (`functions.sampling`): membership is a pure function of the id —
    identical across engines, row orders, reshuffles, and incremental
    appends, unlike rand(seed)/sample(). All JVM column exprs, no
    shuffle; the oracle recomputes the same digests in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _sampling.hash_bucket("doc_id").alias("bucket"),
        _sampling.hash_split("doc_id", holdout_pct=10).alias("split"),
    )


TRAIN_HOLDOUT_SQL = """
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
            THEN 'holdout' ELSE 'train' END AS split
FROM documents
"""


# --------------------------------------------------------------------------
# Embeddings: similarity search
# --------------------------------------------------------------------------

def ann_cosine_topk(spark, sf_dir, probe_vec_id: int = 0, k: int = 10):
    """Brute-force cosine top-k against one probe vector.

    The probe is a single row pulled to the driver and folded into the
    plan as a literal (the legitimate broadcast-scalar pattern); the
    scan side runs similarity.cosine_to_literal — one numpy
    matrix-vector product per Arrow batch, the same kernel every other
    ANN family certifies through — then TakeOrdered for the top-k (no
    global sort). r9: swapped off the JVM higher-order fold, which
    evaluates an interpreted lambda per array element (A/B at sf1
    600k x 64, interleaved min-of-3: HOF 0.52 s vs Arrow 0.34 s; a
    pre-kernel ``_spread`` LOSES here — 0.55 s — because the exchange
    moves the full vector payload to fix a 2-split scan that the Arrow
    kernel already saturates)."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") == probe_vec_id).select("embedding").first()[0]
    return (
        _sim.brute_force_topk(emb, [float(x) for x in probe], k)
        .select("vec_id", r4(F.col("cosine")).alias("cosine"))
    )


ANN_SQL = """
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
), q AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings WHERE vec_id = 0
), s AS (
  SELECT v.vec_id, sum(v.e * q.e) AS dot,
         sqrt(sum(v.e * v.e)) AS nv, sqrt(sum(q.e * q.e)) AS nq
  FROM v JOIN q USING (i) GROUP BY v.vec_id
)
SELECT vec_id, round(dot / (nv * nq), 4) AS cosine
FROM s ORDER BY dot / (nv * nq) DESC, vec_id LIMIT 10
"""


# --------------------------------------------------------------------------
# Dedup family: MinHash+LSH, n-gram Jaccard, SimHash (functions.dedup)
# --------------------------------------------------------------------------

# one deterministic parameterization shared by Spark plans and oracles
MINHASH_H, MINHASH_BANDS, MINHASH_ROWS, MINHASH_SEED = 12, 4, 3, 7
_MINHASH_PARAMS = _dedup.minhash_params(MINHASH_H, MINHASH_SEED)
_PRIME = _text.HASH_PRIME
_PLANES = _sim.hyperplanes(num_planes=4, dim=64, seed=11)

# shared oracle-SQL building blocks (documents shingles / embedding vectors)
_SH_SQL = f"""
toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 7)) AS BIGINT) AS h
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), prm(j, a, b) AS (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_MINHASH_PARAMS))}),
mh AS (
  SELECT doc_id, j, min((a * h + b) % {_PRIME}) AS mh
  FROM sh CROSS JOIN prm GROUP BY doc_id, j
), bands AS (
  SELECT doc_id, j // {MINHASH_ROWS} AS band,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j) AS key
  FROM mh GROUP BY doc_id, j // {MINHASH_ROWS}
), cand AS (
  SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)"""

_VEC_SQL = """
v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
), norms AS (
  SELECT vec_id, sqrt(sum(e * e)) AS n FROM v GROUP BY vec_id
), pl(p, i, w) AS (VALUES {planes}),
dots AS (
  SELECT v.vec_id, pl.p, sum(v.e * pl.w) AS d
  FROM v JOIN pl USING (i) GROUP BY 1, 2
), buckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
)""".format(planes=", ".join(
    f"({p}, {i + 1}, {w})"
    for p, plane in enumerate(_PLANES)
    for i, w in enumerate(plane)
))


def dedup_minhash_candidates(spark, sf_dir):
    """MinHash+LSH near-duplicate candidate pairs on documents.

    shingle→minhash→band→bucket-join (SURVEY §2.10 north-star). The
    signature pass is narrow (HOFs in codegen); only (doc_id, band, key)
    rows shuffle into the self-join — document bodies never move.
    """
    docs = _t(spark, sf_dir, "documents")
    return _dedup.near_dup_candidates(
        docs, "doc_id", "text",
        num_hashes=MINHASH_H, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
        seed=MINHASH_SEED,
        parallelism=spark.sparkContext.defaultParallelism,
    )


MINHASH_CAND_SQL = f"WITH {_SH_SQL}\nSELECT doc_id_a, doc_id_b FROM cand"


def dedup_minhash_estimate(spark, sf_dir):
    """Estimator-quality audit: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (matching signature components / H)
    side-by-side with the EXACT shingle Jaccard and the absolute error
    — the measurement that justifies (or invalidates) a chosen (H,
    bands, rows) parameterization before a 100 TB dedup run trusts it.

    Plan: the shingle pass AND the Arrow signature kernel both run
    ONCE per document — one cached (id, hashes, sig) relation feeds
    the LSH candidate pipeline and, via two joins on the candidate
    ids, both the per-pair signature-match estimate (a cheap JVM
    zip_with over two 12-element arrays) and the exact-Jaccard
    verification over the hash arrays. Only (id, band, key) rows and
    the candidate ids ever shuffle; document text moves nowhere.
    """
    docs = _t(spark, sf_dir, "documents")
    sh = _dedup.doc_shingles(
        docs, "doc_id", "text",
        parallelism=spark.sparkContext.defaultParallelism,
    ).select(
        "doc_id", "hashes",
        _dedup.minhash_signature_arrow("hashes", _MINHASH_PARAMS).alias("sig"),
    ).cache()
    cand = _dedup.pairs_from_signatures(
        sh.select("doc_id", "sig"), "doc_id", MINHASH_BANDS, MINHASH_ROWS,
    )
    sa = sh.select(F.col("doc_id").alias("doc_id_a"),
                   F.col("hashes").alias("ha"), F.col("sig").alias("siga"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"),
                   F.col("hashes").alias("hb"), F.col("sig").alias("sigb"))
    est = F.size(F.filter(
        F.zip_with("siga", "sigb", lambda x, y: x == y),
        lambda m: m,
    )) / F.lit(float(MINHASH_H))
    exact = _dedup.jaccard("ha", "hb")
    return (
        cand.join(sa, "doc_id_a").join(sb, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b",
            r4(est).alias("est_jaccard"),
            r4(exact).alias("exact_jaccard"),
            r4(F.abs(est - exact)).alias("abs_err"),
        )
    )


MINHASH_ESTIMATE_SQL = f"""WITH {_SH_SQL},
sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), est AS (
  SELECT c.doc_id_a, c.doc_id_b,
         sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / {float(MINHASH_H)} AS est
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.doc_id_a
  JOIN mh mb ON mb.doc_id = c.doc_id_b AND mb.j = ma.j
  GROUP BY 1, 2
), inter AS (
  SELECT c.doc_id_a, c.doc_id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_id_a
  JOIN sh b ON b.doc_id = c.doc_id_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT e.doc_id_a, e.doc_id_b,
       round(e.est, 4) AS est_jaccard,
       round(coalesce(i.i, 0) * 1.0 / (sa.n + sb.n - coalesce(i.i, 0)), 4)
         AS exact_jaccard,
       round(abs(e.est - coalesce(i.i, 0) * 1.0
                 / (sa.n + sb.n - coalesce(i.i, 0))), 4) AS abs_err
FROM est e
LEFT JOIN inter i ON i.doc_id_a = e.doc_id_a AND i.doc_id_b = e.doc_id_b
JOIN sizes sa ON sa.doc_id = e.doc_id_a
JOIN sizes sb ON sb.doc_id = e.doc_id_b
"""


def dedup_minhash_clusters(spark, sf_dir):
    """Transitive near-duplicate clusters: LSH candidate pairs →
    connected components → one cluster label per document.

    Candidate *pairs* aren't a dedup policy — near-dup groups are
    transitive (A≈B, B≈C ⟹ {A,B,C} is one group even when A,C never
    share a band). Components run the alternating large-star/small-star
    rounds of `functions.dedup.connected_components` (O(log n) rounds,
    one groupBy-min + one equi-join each, per-round localCheckpoint);
    cluster_id = min doc_id of the component, so `doc_id == cluster_id`
    is the keep-lowest-id survivor rule. Documents in no pair are their
    own singleton cluster via the left join.

    The oracle computes the same closure with a recursive CTE — fine at
    oracle scale, quadratic blowup at real scale, which is exactly why
    the engine side iterates star-contraction instead.
    """
    docs = _t(spark, sf_dir, "documents")
    cand = _dedup.near_dup_candidates(
        docs, "doc_id", "text",
        num_hashes=MINHASH_H, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
        seed=MINHASH_SEED,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    comp = _dedup.connected_components(cand)
    return (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


MINHASH_CLUSTERS_SQL = f"""WITH RECURSIVE {_SH_SQL},
sym AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM cand
  UNION
  SELECT doc_id_b, doc_id_a FROM cand
),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
),
labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l USING (doc_id)
ORDER BY doc_id
"""



def dedup_cluster_survivors(spark, sf_dir):
    """Quality-ranked dedup survivors: one representative per near-dup
    cluster, keeping the LONGEST member (n_chars, tie → lowest doc_id)
    — the curation policy that retains the most complete copy of a
    mirrored/truncated document family, vs the lowest-id rule of
    `dedup_minhash_clusters`.

    Same LSH→connected-components pipeline; the survivor choice is one
    argmax window over the cluster key, riding the labeling join's
    shuffle. Output is cluster-cardinality (survivor + member count).
    """
    docs = _t(spark, sf_dir, "documents")
    cand = _dedup.near_dup_candidates(
        docs, "doc_id", "text",
        num_hashes=MINHASH_H, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
        seed=MINHASH_SEED,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    comp = _dedup.connected_components(cand)
    labeled = (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("doc_id"))).alias("survivor_id"),
            F.max(F.when(F.col("_rn") == 1, F.col("n_chars"))).alias("survivor_chars"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


DEDUP_SURVIVORS_SQL = f"""WITH RECURSIVE {_SH_SQL},
sym AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM cand
  UNION
  SELECT doc_id_b, doc_id_a FROM cand
),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
),
labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
labeled AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN labels l USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM labeled
)
SELECT cluster_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
       max(CASE WHEN rn = 1 THEN n_chars END) AS survivor_chars,
       count(*) AS n_members
FROM ranked
GROUP BY cluster_id
"""



def doc_centrality_pagerank(spark, sf_dir, iters: int = 5, damping: float = 0.85):
    """Document centrality over the near-dup similarity graph: 5 fixed
    power-iteration rounds of PageRank on the symmetric LSH candidate
    graph — the "how templated is this document family" signal (hubs of
    boilerplate score high), and the registry's iterative-algorithm
    parity case: a FIXED iteration count makes the computation
    SQL-expressible, so the oracle runs the identical 5 unrolled rounds
    in DuckDB.

    Per round: one (src)-keyed join of ranks onto edges + one (dst)
    hash agg — the sparse matvec shape; ranks stay (N×1), edges never
    rescan the corpus (the candidate pipeline runs once). Isolated
    documents hold the teleport mass (1-d)/N. At 100 TB the rounds are
    the same two exchanges regardless of N; lineage grows linearly in
    `iters` (5), far below checkpoint-needing depth.

    The out-degree is FOLDED INTO the checkpointed edge relation (one
    agg + one join at build time): the r8 spelling recomputed the
    degree agg and re-joined it inside every round — 5 extra aggs + 5
    extra joins over the edge relation for a value that never changes
    across rounds (guide §1.2 / §5: hoist loop-invariant subtrees).
    The per-edge arithmetic stays pr/deg, bit-identical to the oracle.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()  # 1 scalar to the driver — bounded by definition
    cand = _dedup.near_dup_candidates(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id", "text",
        num_hashes=MINHASH_H, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
        seed=MINHASH_SEED,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    sym = (
        cand.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .union(cand.select(F.col("doc_id_b").alias("a"), F.col("doc_id_a").alias("b")))
        .distinct()
        .localCheckpoint()  # candidate pipeline runs ONCE, not per round
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # edges+degree checkpoint: doc-degree relation is edge-count-sized,
    # built from the already-materialized sym blocks (no pipeline rerun)
    symd = sym.join(deg, "a").localCheckpoint()
    pr = docs.select("doc_id", F.lit(1.0 / n).alias("pr"))
    for _ in range(iters):
        contrib = (
            symd.join(pr, symd.a == pr.doc_id)
            .groupBy("b")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        pr = docs.join(contrib, docs.doc_id == contrib.b, "left").select(
            "doc_id",
            (F.lit((1.0 - damping) / n)
             + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias("pr"),
        )
    return (
        pr.select("doc_id", (F.col("pr") * 1000).alias("_s"))
        .select("doc_id", F.round("_s", 4).alias("pr_x1000"))
        .orderBy(F.desc("pr_x1000"), F.asc("doc_id"))
        .limit(20)
    )


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank matching doc_centrality_pagerank."""
    parts = [
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)",
        "sym AS (SELECT doc_id_a AS a, doc_id_b AS b FROM cand"
        " UNION SELECT doc_id_b, doc_id_a FROM cand)",
        "deg AS (SELECT a, CAST(count(*) AS DOUBLE) AS deg FROM sym GROUP BY a)",
        "pr0 AS (SELECT doc_id, 1.0 / n.n AS pr FROM documents, n)",
    ]
    for t in range(iters):
        parts.append(
            f"c{t + 1} AS (SELECT s.b AS doc_id, sum(p.pr / dg.deg) AS c"
            f" FROM sym s JOIN pr{t} p ON p.doc_id = s.a"
            f" JOIN deg dg ON dg.a = s.a GROUP BY s.b)"
        )
        parts.append(
            f"pr{t + 1} AS (SELECT d.doc_id,"
            f" (1.0 - {damping}) / n.n + {damping} * coalesce(c.c, 0.0) AS pr"
            f" FROM documents d LEFT JOIN c{t + 1} c USING (doc_id), n)"
        )
    return (
        f"WITH {_SH_SQL},\n" + ",\n".join(parts)
        + f"\nSELECT doc_id, round(pr * 1000, 4) AS pr_x1000"
        f" FROM pr{iters} ORDER BY pr_x1000 DESC, doc_id ASC LIMIT 20"
    )


PAGERANK_SQL = _pagerank_sql()


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard verification of the LSH candidate pairs.

    The candidate set is usually far smaller than the corpus, but it
    scales with duplication — no static broadcast hint; AQE picks the
    join strategy from runtime sizes. Jaccard is array_intersect/union,
    JVM-side.
    """
    docs = _t(spark, sf_dir, "documents")
    # one shingle pass feeds all three consumers (candidates + both join
    # sides); cached because the DAG would otherwise recompute the
    # CPU-heavy hashing per consumer — the set is (id, hash-array) only,
    # far smaller than the corpus
    sh = _dedup.doc_shingles(
        docs, parallelism=spark.sparkContext.defaultParallelism
    ).cache()
    cand = _dedup.candidates_from_shingles(
        sh, num_hashes=MINHASH_H, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
        seed=MINHASH_SEED,
    )
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("hashes").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("hashes").alias("sh_b"))
    return (
        cand
        .join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b",
            r4(_dedup.jaccard("sh_a", "sh_b")).alias("jaccard"),
        )
    )


NGRAM_JACCARD_SQL = f"""WITH {_SH_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, count(b.h) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_id_a
  LEFT JOIN sh b ON b.doc_id = c.doc_id_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       round(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
"""


def dedup_simhash(spark, sf_dir):
    """28-bit SimHash fingerprint per document — single narrow HOF pass,
    no shuffle; near-dup grouping is then a fingerprint group-by."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", _dedup.simhash(_text.tokens("text")).alias("simhash")
    )


SIMHASH_SQL = """
WITH th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents)
), bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS c
  FROM th CROSS JOIN unnest(generate_series(0, 27)) AS u(j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(sum(CASE WHEN c >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def doc_fingerprint_lang(spark, sf_dir):
    """Order-sensitive rolling-hash fingerprint + stopword-argmax language
    guess per document (text-analysis north-star ops). Repartitioned for
    CPU parallelism — the byte-small scan otherwise runs the interpreted
    HOF stage on one core (same rationale as doc_shingles)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = _text.tokens("text")
    return docs.select(
        "doc_id",
        _text.rolling_fingerprint(toks).alias("fingerprint"),
        _text.lang_guess(toks).alias("lang_guess"),
    )


def _lang_case_sql(langs=("en", "es", "de", "fr", "zh")) -> str:
    # earlier-listed language wins ties: lang_i needs > for j<i, >= for j>i
    branches = []
    for i, lang in enumerate(langs):
        conds = []
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">" if j < i else ">="
            conds.append(f"s_{lang} {op} s_{other}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " END"


_LANG_SCORE_SQL = ", ".join(
    "len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ("
    + ", ".join("'" + w.replace("'", "''") + "'" for w in _text.STOPWORDS[lang])
    + f"))) AS s_{lang}"
    for lang in ("en", "es", "de", "fr", "zh")
)

FINGERPRINT_LANG_SQL = f"""
WITH scored AS (
  SELECT doc_id,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(regexp_split_to_array(text, '{{WS}}'),
                       t -> CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT))),
      (acc, h) -> (acc * 31 + h) % {_PRIME}) AS fingerprint,
    {_LANG_SCORE_SQL}
  FROM documents
)
SELECT doc_id, fingerprint, {_lang_case_sql()} AS lang_guess
FROM scored
""".replace("{WS}", "\\s+")


CORPUS_CURATION_SQL = f"""
WITH scored AS (
  SELECT doc_id, md5(text) AS fingerprint,
         len(regexp_split_to_array(text, '{{WS}}')) AS n_tokens,
         len(list_filter(regexp_split_to_array(text, '{{WS}}'),
                         t -> t IN ('the','a','of','and','to','in','is')))
           / CAST(len(regexp_split_to_array(text, '{{WS}}')) AS DOUBLE) AS sr,
         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
           / CAST(length(text) AS DOUBLE) AS pr,
         {_LANG_SCORE_SQL}
  FROM documents
), survivors AS (
  SELECT * FROM scored
  WHERE n_tokens >= 30 AND sr >= 0.02 AND pr <= 0.10
    AND {_lang_case_sql()} = 'en'
)
SELECT min(doc_id) AS doc_id,
       first(n_tokens) AS n_tokens,
       round(first(sr) * (1.0 - first(pr)), 4) AS quality
FROM survivors GROUP BY fingerprint
""".replace("{WS}", "\\s+")


# --------------------------------------------------------------------------
# Embeddings: LSH-bucketed ANN + within-bucket similar pairs
# --------------------------------------------------------------------------

def ann_lsh_bucketed(spark, sf_dir, probe_vec_id: int = 0, k: int = 10):
    """LSH-bucketed approximate top-k: random-hyperplane bucket pruning,
    exact cosine within the probe's bucket. The scale path for S-series
    ANN — the bucket predicate prunes the scan before any shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = [float(x) for x in
             emb.where(F.col("vec_id") == probe_vec_id).select("embedding").first()[0]]
    return (
        _sim.ann_lsh_topk(emb, probe, _PLANES, k=k)
        .select("vec_id", r4(F.col("cosine")).alias("cosine"))
    )


ANN_LSH_SQL = f"""WITH {_VEC_SQL},
probe AS (SELECT bucket FROM buckets WHERE vec_id = 0),
q AS (SELECT i, e FROM v WHERE vec_id = 0),
s AS (
  SELECT v.vec_id, sum(v.e * q.e) AS dot
  FROM v JOIN q USING (i)
  WHERE v.vec_id IN (SELECT b.vec_id FROM buckets b, probe p WHERE b.bucket = p.bucket)
  GROUP BY v.vec_id
)
SELECT s.vec_id,
       round(s.dot / (nv.n * (SELECT n FROM norms WHERE vec_id = 0)), 4) AS cosine
FROM s JOIN norms nv ON nv.vec_id = s.vec_id
ORDER BY s.dot / (nv.n * (SELECT n FROM norms WHERE vec_id = 0)) DESC, s.vec_id
LIMIT 10
"""



def ann_lsh_multiprobe(spark, sf_dir, probe_vec_id: int = 0, k: int = 10):
    """Multi-probe LSH ANN (Hamming<=1 bucket expansion) — the recall
    knob over ann_lsh_bucketed: near neighbors lost to one hyperplane's
    sign flip are recovered from the adjacent buckets at (1 + n_planes)
    buckets of scan cost. Same exact-cosine scoring inside the widened
    candidate set; the oracle widens its bucket predicate identically
    (bit_count(xor) <= 1)."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = [float(x) for x in
             emb.where(F.col("vec_id") == probe_vec_id).select("embedding").first()[0]]
    return (
        _sim.ann_lsh_multiprobe_topk(emb, probe, _PLANES, k=k)
        .select("vec_id", r4(F.col("cosine")).alias("cosine"))
    )


ANN_LSH_MULTIPROBE_SQL = f"""WITH {_VEC_SQL},
probe AS (SELECT bucket FROM buckets WHERE vec_id = 0),
q AS (SELECT i, e FROM v WHERE vec_id = 0),
s AS (
  SELECT v.vec_id, sum(v.e * q.e) AS dot
  FROM v JOIN q USING (i)
  WHERE v.vec_id IN (SELECT b.vec_id FROM buckets b, probe p
                     WHERE bit_count(xor(b.bucket, p.bucket)) <= 1)
  GROUP BY v.vec_id
)
SELECT s.vec_id,
       round(s.dot / (nv.n * (SELECT n FROM norms WHERE vec_id = 0)), 4) AS cosine
FROM s JOIN norms nv ON nv.vec_id = s.vec_id
ORDER BY s.dot / (nv.n * (SELECT n FROM norms WHERE vec_id = 0)) DESC, s.vec_id
LIMIT 10
"""


def ann_ivf_topk(spark, sf_dir, probe_vec_id: int = 0, k: int = 10, n_cells: int = 8):
    """IVF (nprobe=1) ANN with a TRAINED coarse quantizer: deterministic
    distributed Lloyd (mod-k init, 2 refinement rounds — see
    similarity.lloyd_centroids for why not seeded KMeans: the oracle
    must reproduce training in pure SQL), then prune the scan to the
    probe's inverted list and compute exact cosine inside. Scale path:
    at rest the table is partitionBy(cell) (build_ivf_index) so the cell
    prune is partition pruning; training touches only k×dim driver
    floats per round.

    r9: the trained (centroids, probe) pair rides ``trained_artifact``
    — Lloyd is deterministic (mod-k init, 2 rounds, round(avg, 6)
    means), so repeat constructions in one session reuse the identical
    k×dim floats instead of re-scheduling the two training collects;
    a fresh session retrains (VERDICT r8 item 5 "memoize", the
    session-local analog of build_ivf_index's persistent index)."""
    emb = _t(spark, sf_dir, "embeddings")
    # probe + dim ride round 1 of the Lloyd aggregation — no separate
    # probe first() action
    centroids, probe = trained_artifact(
        spark, ("ivf", sf_dir, n_cells, probe_vec_id),
        lambda: _sim.lloyd_centroids(
            emb, k=n_cells, iters=2, probe_id=probe_vec_id))
    return (
        _sim.ann_ivf_topk(emb, probe, centroids, k=k)
        .select("vec_id", r4(F.col("cosine")).alias("cosine"))
    )


ANN_IVF_SQL = """
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
), norms AS (
  SELECT vec_id, sqrt(sum(e * e)) AS n FROM v GROUP BY vec_id
), a0 AS (
  SELECT vec_id, CAST(vec_id % 8 AS INT) AS cell FROM embeddings
), c1 AS (
  SELECT a0.cell AS cid, v.i, round(avg(v.e), 6) AS e
  FROM v JOIN a0 USING (vec_id) GROUP BY 1, 2
), d1 AS (
  SELECT v.vec_id, c1.cid, sum(c1.e * c1.e) - 2 * sum(v.e * c1.e) AS dist
  FROM v JOIN c1 USING (i) GROUP BY 1, 2
), a1 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
), c2 AS (
  SELECT a1.cell AS cid, v.i, round(avg(v.e), 6) AS e
  FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2
), d2 AS (
  SELECT v.vec_id, c2.cid, sum(c2.e * c2.e) - 2 * sum(v.e * c2.e) AS dist
  FROM v JOIN c2 USING (i) GROUP BY 1, 2
), a2 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
), probe_cell AS (SELECT cell FROM a2 WHERE vec_id = 0),
q AS (SELECT i, e FROM v WHERE vec_id = 0),
s AS (
  SELECT v.vec_id, sum(v.e * q.e) AS dot
  FROM v JOIN q USING (i)
  WHERE v.vec_id IN (SELECT a2.vec_id FROM a2, probe_cell p WHERE a2.cell = p.cell)
  GROUP BY v.vec_id
)
SELECT s.vec_id,
       round(s.dot / (nv.n * (SELECT n FROM norms WHERE vec_id = 0)), 4) AS cosine
FROM s JOIN norms nv ON nv.vec_id = s.vec_id
ORDER BY s.dot / (nv.n * (SELECT n FROM norms WHERE vec_id = 0)) DESC, s.vec_id
LIMIT 10
"""


def knn_join_topk(spark, sf_dir, k: int = 3, n_queries: int = 50):
    """Exact k-NN JOIN: every query vector (a pinned id slice standing
    in for "the new batch") gets its top-k corpus neighbors by cosine —
    the batched many-queries retrieval shape (the single-probe ann_*
    queries rank one vector; a retrieval pipeline ranks a stream).

    Spark side: broadcast-corpus blocked matmul (functions/similarity.py
    ::knn_join) — corpus ships once per executor like any broadcast-join
    dimension, each Arrow batch of queries does ONE BLAS product, no
    pair explosion, no shuffle. The oracle is the quadratic unnest join
    — exactly the plan the kernel avoids. Ranking: unrounded cosine,
    neighbor-id tiebreak (registry convention).
    """
    # drop corpus broadcasts pinned by EARLIER knn_join calls before
    # creating a new one — without this, repeated registry runs (bench
    # best-of-2, long driver sessions) accumulate one full float64
    # corpus per call on driver + executors; any previously returned
    # knn DataFrame must be re-created after this point
    _sim.release_knn_broadcasts()
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < n_queries)
    res = _sim.knn_join(queries, emb, k=k, exclude_self=True)
    return res.select(
        "query_id", "rank", "neighbor_id", r4(F.col("cosine")).alias("cosine")
    )


KNN_JOIN_SQL = """
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, sqrt(sum(e * e)) AS nn FROM v GROUP BY 1
), s AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.e * b.e) AS dot
  FROM v a JOIN v b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
  GROUP BY 1, 2
), r AS (
  SELECT s.qid, s.nid, s.dot / (na.nn * nb.nn) AS cos,
         row_number() OVER (PARTITION BY s.qid
                            ORDER BY s.dot / (na.nn * nb.nn) DESC, s.nid) AS rank
  FROM s JOIN n na ON na.vec_id = s.qid JOIN n nb ON nb.vec_id = s.nid
)
SELECT qid AS query_id, rank, nid AS neighbor_id, round(cos, 4) AS cosine
FROM r WHERE rank <= 3
"""


def embedding_similar_pairs(spark, sf_dir, k: int = 20):
    """Top-k most-similar embedding pairs within shared LSH buckets —
    the embedding-cosine near-dup primitive. One applyInPandas pass per
    bucket: each embedding crosses into Python once (the self-join shape
    shipped both embeddings per PAIR — quadratic transfer) and the
    pairwise cosine matrix is a single BLAS product per bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = _sim.bucket_pair_cosines(emb, _PLANES)
    return (
        pairs.orderBy(F.desc("cosine"), F.asc("vec_id_a"), F.asc("vec_id_b"))
        .limit(k)
        .select("vec_id_a", "vec_id_b", r4(F.col("cosine")).alias("cosine"))
    )


SIMILAR_PAIRS_SQL = f"""WITH {_VEC_SQL},
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), s AS (
  SELECT p.va, p.vb, sum(x.e * y.e) AS dot
  FROM pairs p
  JOIN v x ON x.vec_id = p.va
  JOIN v y ON y.vec_id = p.vb AND y.i = x.i
  GROUP BY 1, 2
)
SELECT s.va AS vec_id_a, s.vb AS vec_id_b,
       round(s.dot / (na.n * nb.n), 4) AS cosine
FROM s JOIN norms na ON na.vec_id = s.va JOIN norms nb ON nb.vec_id = s.vb
ORDER BY s.dot / (na.n * nb.n) DESC, s.va, s.vb
LIMIT 20
"""


def dedup_embedding_cosine(spark, sf_dir, threshold: float = 0.4):
    """Embedding-cosine near-dup DROP: survivors after removing every
    vector whose cosine with a lower-id vector (within a shared LSH
    bucket) reaches the threshold — the greedy keep-first rule of
    exact_dedup applied to semantic duplicates. Anti-join on the pair
    set; only (id, id) pairs shuffle, never embeddings."""
    emb = _t(spark, sf_dir, "embeddings")
    dropped = (
        _sim.bucket_pair_cosines(emb, _PLANES)
        .where(r4(F.col("cosine")) >= threshold)
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(dropped, "vec_id", "left_anti").select("vec_id")


DEDUP_EMB_SQL = f"""WITH {_VEC_SQL},
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), s AS (
  SELECT p.va, p.vb, sum(x.e * y.e) AS dot
  FROM pairs p
  JOIN v x ON x.vec_id = p.va
  JOIN v y ON y.vec_id = p.vb AND y.i = x.i
  GROUP BY 1, 2
), dropped AS (
  SELECT DISTINCT s.vb AS vec_id
  FROM s JOIN norms na ON na.vec_id = s.va JOIN norms nb ON nb.vec_id = s.vb
  WHERE round(s.dot / (na.n * nb.n), 4) >= 0.4
)
SELECT e.vec_id FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = e.vec_id)
"""


def semantic_text_dedup(spark, sf_dir, threshold: float = 0.35):
    """Cross-modal near-dup verification: embedding-cosine candidate
    pairs (bucketed, one applyInPandas pass) verified by exact 3-gram
    text Jaccard of the SAME documents (vec_id ≡ doc_id). The candidate
    set is tiny relative to the corpus, so the two shingle joins resolve
    as broadcast-of-pairs at scale; document bodies never pair-shuffle.
    """
    emb = _t(spark, sf_dir, "embeddings")
    pairs = (
        _sim.bucket_pair_cosines(emb, _PLANES)
        .where(r4(F.col("cosine")) >= threshold)
        .select(
            F.col("vec_id_a").alias("doc_id_a"),
            F.col("vec_id_b").alias("doc_id_b"),
            r4(F.col("cosine")).alias("cosine"),
        )
    )
    docs = _t(spark, sf_dir, "documents")
    sh = _dedup.doc_shingles(
        docs, parallelism=spark.sparkContext.defaultParallelism
    )
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("hashes").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("hashes").alias("_sb"))
    return (
        pairs.join(a, "doc_id_a").join(b, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b", "cosine",
            r4(_dedup.jaccard("_sa", "_sb")).alias("jaccard"),
        )
    )


SEMANTIC_TEXT_SQL = f"""WITH {_VEC_SQL},
vpairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), s AS (
  SELECT p.va, p.vb, sum(x.e * y.e) AS dot
  FROM vpairs p
  JOIN v x ON x.vec_id = p.va
  JOIN v y ON y.vec_id = p.vb AND y.i = x.i
  GROUP BY 1, 2
), cpairs AS (
  SELECT s.va AS doc_id_a, s.vb AS doc_id_b,
         round(s.dot / (na.n * nb.n), 4) AS cosine
  FROM s JOIN norms na ON na.vec_id = s.va JOIN norms nb ON nb.vec_id = s.vb
  WHERE round(s.dot / (na.n * nb.n), 4) >= 0.35
), toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 7)) AS BIGINT) AS h
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, c.cosine, count(b.h) AS ni
  FROM cpairs c
  JOIN sh a ON a.doc_id = c.doc_id_a
  LEFT JOIN sh b ON b.doc_id = c.doc_id_b AND b.h = a.h
  GROUP BY 1, 2, 3
)
SELECT i.doc_id_a, i.doc_id_b, i.cosine,
       round(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
"""


def order_value_percentiles(spark, sf_dir):
    """Exact multi-quantile aggregate per group (p50/p90/p99 of order
    value by priority) — one pass, one shuffle; Spark's percentile and
    DuckDB's quantile_cont share linear interpolation so the oracle is
    exact to rounding.

    Exact percentile keeps per-group value buffers — fine for bounded
    group count (5 priorities). At 100 TB with high-cardinality groups
    the same query swaps percentile → percentile_approx (t-digest-style
    mergeable sketch, fixed memory) without any shape change; the exact
    form is the oracle-checkable one.
    """
    orders = _t(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            r4(F.element_at(pct, 1)).alias("p50"),
            r4(F.element_at(pct, 2)).alias("p90"),
            r4(F.element_at(pct, 3)).alias("p99"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


PERCENTILES_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


def order_value_histogram(spark, sf_dir, buckets: int = 10):
    """Fixed-width histogram over the min/max envelope (width_bucket
    shape, spelled as explicit arithmetic so Spark and the oracle share
    ONE formula — DuckDB has no width_bucket, and two builtins could
    disagree on FP bucket edges).

    The envelope is a 1-row scalar aggregate broadcast into the binning
    pass — two scans of the same small column but NO shuffle of row
    data; the per-bucket count agg is the only exchange.
    """
    orders = _t(spark, sf_dir, "orders")
    env = F.broadcast(
        orders.agg(
            F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
        )
    )
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("_lo"))
                / (F.col("_hi") - F.col("_lo")) * buckets) + 1,
        F.lit(buckets),  # x == hi would land in an overflow bucket; clamp
    )
    return (
        orders.join(env)
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("bucket").cast("long").alias("bucket"), "n")
    )


HISTOGRAM_SQL = """
WITH env AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
SELECT CAST(least(floor((o_totalprice - lo) / (hi - lo) * 10) + 1, 10) AS BIGINT) AS bucket,
       count(*) AS n
FROM orders, env
GROUP BY 1
"""


def events_before_purchase(spark, sf_dir):
    """Interval join: per purchase, count + value-sum of the same user's
    events in the 24 h window ending at the purchase.

    r8 shape: the ANCHORED bin join (functions/range_join.py — points
    explode to candidate anchor bins, each purchase maps to its ONE
    end-anchor bin) — still a (user_id, bin) equi-join + exact
    residual, NOT a theta join, and a hot user's timeline still shards
    by bin; the flip makes every match of a purchase land in the same
    partition, so the per-purchase aggregate below runs WITHOUT its
    own exchange (the same stage-level fix measured on
    multitouch_attribution at sf1).  Join inputs pin
    to spark.sql.shuffle.partitions and the join is shuffle-hash (the
    hash agg consumer makes SMJ's sorts pure overhead).  Zero-event
    purchases are re-attached by a left join against the (small)
    purchase table after the agg.
    """
    from tracker_trainer_spark.functions.range_join import anchored_interval_join

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    intervals = purchases.withColumn("w_start", F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
    points = ev.select("user_id", "ts", "event_id", "value")
    matched = anchored_interval_join(
        points, intervals, "ts", "w_start", "p_ts", on=["user_id"],
        bin_seconds=86400, num_partitions=n_shuffle,
        prefer_shuffle_hash=True,
    ).where(F.col("event_id") != F.col("purchase_id"))
    # partitioning (user_id, _anchor_bin) satisfies this grouping —
    # the agg runs in the join's own output partitions, no exchange
    agg = matched.groupBy("user_id", "_anchor_bin", "purchase_id").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_v")
    ).select("purchase_id", "_n", "_v")
    return (
        purchases.join(agg, "purchase_id", "left_outer")
        .select(
            "purchase_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_prior"),
            r4(F.coalesce(F.col("_v"), F.lit(0.0))).alias("sum_value"),
        )
    )


EVENTS_BEFORE_PURCHASE_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT purchase_id,
       CAST(count(e.event_id) AS BIGINT) AS n_prior,
       round(coalesce(sum(e.value), 0.0), 4) AS sum_value
FROM p LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.ts BETWEEN p.p_ts - INTERVAL 24 HOURS AND p.p_ts
 AND e.event_id <> p.purchase_id
GROUP BY purchase_id
"""


def revenue_rollup_nation_year(spark, sf_dir):
    """ROLLUP aggregate: revenue by (nation, year), per-nation subtotals,
    and a grand total in one pass.  Subtotal rows are sentinel-coalesced
    ('ALL' / -1) so the oracle compare never sorts NULL grouping keys.

    r6 shape: the ROLLUP's Expand runs on an exact (nation, year)
    PRE-AGGREGATE (~25×|years| rows) instead of duplicating every fact
    row into three grouping sets — the joins stay join-first (AQE
    broadcasts order/customer while they fit, shuffles past it), but
    the fact stream collapses map-side to 175 groups BEFORE any
    exchange, and only the tiny relation expands.  Pre-aggregation
    regroups the summation, so revenue moves to EXACT integer
    1e-4-dollar units (price and discount both carry 2 decimals —
    their product is a 4-decimal exact integer; the repo's
    integer-cents convention): the double chain diverged from the
    oracle in the 4th decimal of the 3e10 grand total the moment the
    addition tree changed.

    r8 shape (VERDICT r7 item 2): lineitem's revenue terms are
    PARTIALLY AGGREGATED to ``(l_orderkey, sum(units))`` BEFORE the
    orders join — every downstream grouping key (n_name, year) is a
    function of orderkey-side columns, so regrouping the exact-integer
    unit sums is associative and hash-stable.  Catalyst has no
    partial-agg-pushdown-through-join rule; this hand-rewrite shrinks
    the join's fact side by the lineitem:orders row ratio (~4:1 at
    TPC-H ratios), and at 100 TB shrinks the orderkey join exchange by
    the same factor (the pre-agg itself combines map-side before its
    one exchange).  The orders join is hinted shuffle-hash: the
    consumer is a hash aggregate, so SMJ's two 1.5M-row sorts buy
    nothing (A/B at sf1 min-of-4: 1.30 s → 0.95 s; the same hint
    measured neutral in q3/q10, whose filtered orders sides broadcast
    at runtime anyway — left unhinted there).  Build side is orders /
    shuffle-partitions per task — bounded by sizing shuffle
    partitions, the normal 100 TB lever (the part_affinity r7
    convention)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").hint("shuffle_hash")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    units = (F.round(F.col("l_extendedprice") * 100).cast("long")
             * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")))
    per_order = li.groupBy("l_orderkey").agg(F.sum(units).alias("_ou"))
    per_ny = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("l_year"))
        .agg(F.sum("_ou").alias("_u"))
    )
    return (
        per_ny.rollup("n_name", "l_year")
        .agg(F.sum("_u").alias("_su"))
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("l_year"), F.lit(-1)).cast("long").alias("l_year"),
            r4(F.col("_su").cast("double") / 10000.0).alias("revenue"),
        )
    )


ROLLUP_SQL = """
SELECT coalesce(n_name, 'ALL') AS nation,
       CAST(coalesce(l_year, -1) AS BIGINT) AS l_year,
       round(CAST(CAST(sum(u) AS BIGINT) AS DOUBLE) / 10000.0, 4) AS revenue
FROM (
  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS l_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
GROUP BY ROLLUP (n_name, l_year)
"""


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two-nation volume matrix — the same dimension
    joined twice under different roles (supplier nation vs customer
    nation), a symmetric pair predicate, and a year rollup.

    The two-nation predicate is pushed INTO the dimension joins before
    any fact join runs (r9 — the prior spelling joined all 25 nations
    into the fact and filtered after, paying the full join output to
    keep 2/25 of it): supplier and customer each shrink to the two
    named nations first, so the fact side only ever joins the ~8%
    qualifying slice, and the disjunctive pair predicate reduces to
    `supp_nation <> cust_nation` over the filtered domain. No forced
    hints on fact-sized relations — AQE broadcasts the shrunken
    supplier/order sides at this SF and falls back to shuffle joins
    when they outgrow the threshold at cluster scale.
    """
    two = ("NATION_1", "NATION_2")
    n1 = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*two))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*two))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp_f = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    ord_f = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer")
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
            .select("c_custkey", "cust_nation"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "cust_nation")
    )
    return (
        li.join(supp_f, li.l_suppkey == supp_f.s_suppkey)
        .join(ord_f, li.l_orderkey == ord_f.o_orderkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("volume"))
        .select("supp_nation", "cust_nation", F.col("l_year").cast("long").alias("l_year"), "volume")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 4) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue ranking — selective fact
    filter (one quarter of orders, 'R' lineitems), customer⨝nation
    enrich, top-20.

    The quarter filter on orders and the returnflag filter on lineitem
    are both pushed to their scans; the orders⨝lineitem shuffle carries
    only the filtered rows. nation (25 rows) is a pinned broadcast;
    customer join is AQE-sized. Top-20 is TakeOrderedAndProject — no
    global sort shuffle.

    r8 shape (VERDICT r7 item 2 family): the revenue aggregate is
    pushed to per-custkey immediately after the orders join, BELOW the
    customer join — every output grouping column (c_name, c_acctbal,
    n_name) is a function of custkey, so the customer⨝nation enrich
    joins one row per customer instead of one per lineitem and needs
    no re-aggregate.  A/B at sf1: 0.98 s → 0.78 s min-of-3; at 100 TB
    the customer join (a shuffle join once customer outgrows
    broadcast) shrinks by the per-customer lineitem count.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_r"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", r4(F.col("c_acctbal")).alias("acctbal"),
                "n_name", r4(F.col("_r")).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: left outer join with a join-side predicate
    (customers keep a row even with zero qualifying orders), per-customer
    count, then a distribution rollup over the counts.

    The predicate lives in the JOIN condition, not a WHERE — pushing it
    to WHERE would silently turn the outer join inner and drop
    zero-order customers. Orders aggregates to per-customer counts
    BEFORE the join, so the outer join matches one row per customer
    (customer ⟕ pre-agg) instead of exploding to per-order rows; both
    sides hash on custkey once and the second agg is over one row per
    customer.
    """
    cust = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left_outer")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"),
                F.col("custdist").cast("long").alias("custdist"))
    )


Q13_SQL = """
SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
                         AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: aggregate view (quarterly revenue per supplier)
    consumed twice — once as rows, once reduced to its scalar max — and
    an equality filter between them.

    The revenue agg runs ONCE: the scalar max is a broadcast of a
    1-row aggregate of the same DataFrame (Spark reuses the shuffle
    via ReusedExchange), not a second scan. supplier joins the handful
    of surviving max-revenue rows — broadcast either way at any SF.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        # explicit, so BOTH consumers of `revenue` (rows + scalar max) see
        # the same scan subtree: the supplier equi-join infers this
        # not-null on one branch only, which would otherwise break
        # ReusedExchange and scan lineitem twice
        & F.col("l_suppkey").isNotNull()
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
    )
    top = F.broadcast(revenue.agg(F.max("_rev").alias("_max")))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(top, revenue["_rev"] == top["_max"])
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey"), F.col("s_name"),
            r4(F.col("_rev")).alias("total_revenue"),
        )
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_rev, 4) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + equi-join.

    The per-part avg is computed only over lineitems of the ~1% of
    parts that survive the brand/size filter: the filtered part set
    semi-joins into the lineitem scan FIRST (AQE broadcasts it), so the
    avg agg and the final join both run on the reduced fact — the
    classic magic-set rewrite a correlated subquery needs at scale.
    """
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    per_part = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("_avq"))
    return (
        li.join(per_part, "l_partkey")
        .where(F.col("l_quantity") < F.col("_avq"))
        .agg(r4(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_size < 15
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: a disjunction of conjunctive brand/size/quantity
    bands across the part⨝lineitem join.

    Common sub-predicates (size ≥ 1, the overall quantity envelope) are
    factored out so they push to the scans; the residual OR evaluates
    post-join inside codegen. part is dimension-sized → AQE broadcast.
    """
    part = _t(spark, sf_dir, "part").where(F.col("p_size") >= 1)
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    bands = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
         & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 15)
           & (F.col("l_quantity") >= 20))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(bands)
        .agg(r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_sole_returned_supplier(spark, sf_dir):
    """TPC-H Q21 shape (adapted: the synthetic lineitem has no
    receipt/commit dates, so "late" = returnflag 'R'): suppliers who
    were the ONLY supplier with a returned lineitem in a multi-supplier
    finalized order — EXISTS + NOT EXISTS over the same fact table.

    Both correlated EXISTS are decorrelated into ONE per-order profile:
    a two-level agg (orderkey,suppkey → orderkey) whose partial phase
    collapses duplicates before the shuffle, instead of two lineitem
    self-joins (which would scan and shuffle the fact three times) or a
    count-distinct Expand (which doubles pre-shuffle rows). EXISTS ≡
    n_supp > 1; NOT EXISTS ≡ n_ret_supp = 1 (the candidate row itself
    is returned, so the sole returning supplier is this one).

    r6: the profile also CARRIES the answer — the sole returning
    supplier's id (max over the one _has_r supplier) and its returned-
    row count — so the former second lineitem pass (R-filter → two
    semi-joins back) is gone: lineitem scans and shuffles ONCE, and
    everything after the profile is order-cardinality (3.4→1.6 s-class
    fix, the q18 pattern).  numwait = Σ per-order returned-row counts
    of the sole returner, identical to counting the l1 rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    r = (F.col("l_returnflag") == "R").cast("int")
    per_order = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(r).alias("_has_r"), F.sum(r).alias("_n_r_rows"))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("_n_supp"),
            F.sum("_has_r").alias("_n_ret"),
            F.max(F.when(F.col("_has_r") == 1, F.col("l_suppkey")))
            .alias("_ret_supp"),
            F.sum(F.when(F.col("_has_r") == 1, F.col("_n_r_rows")))
            .alias("_r_rows"),
        )
        .where((F.col("_n_supp") > 1) & (F.col("_n_ret") == 1))
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey,
                       "left_semi")
        .join(supp, F.col("_ret_supp") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("_r_rows").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN orders ON l1.l_orderkey = o_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --------------------------------------------------------------------------
# Trainer encode throughput (BASELINE target: ≳1,100 records/s e2e)
# --------------------------------------------------------------------------

def train_encode_events(spark, sf_dir, max_features: int = 20, model_seed: int = 1):
    """The real trainer encode path over the events table: JSON flatten
    (Arrow kernel) → feature selection agg → string tables → vector
    encode (``encode_to_vectors``, the trainer's own assembly).  Exists
    so BENCH measures the flagship training-encode throughput against
    the reference's ≳1,100 records/s envelope (BASELINE.md derived
    targets).

    The output exposes the assembled vector's NUMERIC slots: ``v_uid``
    / ``v_k`` (flatten passthroughs) and ``v_t`` (the appended timestamp
    extra), read back out of the encoded array by position, with the
    positions derived from the live selection result (never
    hardcoded).  Those slots are exactly SQL-derivable from the raw
    table, so the oracle's rows+schema+hash check covers flatten →
    selection → assembly end to end.  The one slot outside the oracle
    is the xxh3 string target-encode of ``context.et`` (``v_et`` is not
    in the output): xxh3-64 cannot be expressed in pure ANSI SQL and the
    oracle's DuckDB connection registers no UDFs.  That arithmetic is
    pinned by the golden-vector suite (tests/test_hashing_parity.py)
    and the encode parity suite (tests/test_encode_columnar.py).

    Selection and string stats share one scan of the cached flat
    relation (``combined_feature_string_stats``).  The cached relations
    are released by the harness (``release_caches``), not inside the
    query: the returned plan still reads them, and an in-function
    unpersist would make the terminal action recompute the flatten.
    """
    from tracker_trainer_spark.trainer.encode import (
        TIMESTAMP_KEY,
        encode_to_vectors,
    )
    from tracker_trainer_spark.trainer.flatten import flatten_merged
    from tracker_trainer_spark.trainer.selection import combined_feature_string_stats
    from tracker_trainer_spark.trainer.string_tables import build_string_tables

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") != "purchase")
    # The sf-scale events file is byte-small → few input splits, and cache()
    # freezes those partitions into every downstream stage. Spread the RAW
    # columns FIRST and shape rows (to_json context assembly, timestamp
    # cast) ABOVE the exchange: Catalyst keeps Projects above a round-robin
    # repartition, so the per-row to_json CPU runs 32-wide instead of
    # inside the 3-task scan stage (r9 stage profile: the scan stage
    # dropped 2.35 s → ~0.5 s CPU).  No-op at real scale where input
    # splits parallelize the scan.
    raw = _spread(ev.select("event_id", "props", "event_type", "user_id",
                            "ts", "value"))
    base = raw.select(
        F.col("event_id").cast("string").alias("decision_id"),
        F.col("props").alias("item"),
        F.to_json(
            F.struct(F.col("event_type").alias("et"), F.col("user_id").alias("uid"))
        ).alias("context"),
        F.unix_timestamp("ts").cast("double").alias(TIMESTAMP_KEY),
        F.col("value").alias("y"),
        F.lit(1.0).alias("w"),
    )
    flat = tracked_persist(
        base.withColumn(
            "_f", flatten_merged([("context", "context"), ("item", "item")])
        )
        .select(
            "decision_id", TIMESTAMP_KEY, "y", "w",
            F.col("_f")["num"].alias("num_features"),
            F.col("_f")["str"].alias("str_features"),
        )
    )
    # combined_feature_string_stats emits (feature, value|NULL) stats in
    # one scan of the cached flat relation; the top-k selection
    # re-aggregates its tiny output (exact: w=1.0 partials) and the
    # string tables read the value IS NOT NULL slice.  pairstats is
    # domain-bounded (distinct (feature,value) pairs).  Both relations
    # are tracked_persist, released by the harness (see docstring).
    pairstats = tracked_persist(combined_feature_string_stats(flat))
    top = (
        pairstats.groupBy("feature")
        .agg(F.sum("weight").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("feature"))
        .limit(max_features)
        .collect()
    )
    selected = [r["feature"] for r in top]
    tables = build_string_tables(
        pairstats.where(F.col("value").isNotNull()), model_seed,
        allowed_features=selected, prior_mean=0.0, prior_count=0,
    )
    encoded = encode_to_vectors(flat, selected, tables, model_seed)
    # vector layout = selected + extras (encode contract); positions
    # resolved from the live selection so a data change re-orders the
    # projection instead of silently reading the wrong slot
    names = list(selected) + [TIMESTAMP_KEY]
    proj = [
        F.element_at("features", names.index(f) + 1).alias(alias)
        for f, alias in (("context.uid", "v_uid"), ("item.k", "v_k"),
                         (TIMESTAMP_KEY, "v_t"))
        if f in names
    ]
    return encoded.select(
        "decision_id", F.size("features").cast("long").alias("n_features"),
        *proj,
    )


# train_encode_events oracle: replays the NUMERIC vector slots straight
# from the raw table (flatten passthroughs + the timestamp extra).  The
# feature space of the events corpus is {context.et, context.uid,
# item.k} (+ the appended `t`), all present on every non-purchase row,
# so selection keeps all of them and the dense vector is 4 wide; a
# generator change that altered the feature space would shift
# n_features and fail this oracle loudly at the local 3-scale gate.
# The xxh3 string slot is deliberately absent — see the query
# docstring.
TRAIN_ENCODE_SQL = """
SELECT CAST(event_id AS VARCHAR) AS decision_id,
       CAST(4 AS BIGINT) AS n_features,
       CAST(user_id AS DOUBLE) AS v_uid,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS v_k,
       CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS v_t
FROM events
WHERE event_type <> 'purchase'
"""


def train_e2e_metrics(spark, sf_dir, model_seed: int = 7, max_features: int = 15):
    """The FULL two-phase train pipeline as a driver-visible row
    (rows-only — model fits are not SQL-expressible): synthesize a
    bounded rewarded-decision timeline from the events table, run
    phase 1 (E1 explode → A4/A8 → GBT-fallback propensity fit) →
    M2 inverse-propensity weighting → phase 2 (L5/P5/P7/P6 → decision
    fit), then SCORE the decision model back over the timeline and
    emit fixed-seed eval metrics.  ``train_encode_events`` certifies
    the encode arithmetic; THIS row makes the driver execute the fits
    and batch inference end-to-end every round (VERDICT r5 item 6).

    Deterministic surface: one output row with a pinned schema;
    timeline row count, selected-feature counts and mean item count are
    seed-and-data determined.  The metric VALUES ride the fitted model
    (backend/partitioning-sensitive in the last ulp) — exactly why this
    is a rows-only row, not an oracle-hashed one.

    Scale posture: the timeline is an adaptive event_id % max(40,
    n/1500) slice (≈1.5k decisions at ANY sf — the pipeline's SCALE
    story is scripts/train_soak.py at full sf0.1; this row certifies
    execution, priced like the groom rows: driver actions, not data
    volume)."""
    import os
    import shutil
    import tempfile

    from tracker_trainer_spark.ingest.sink import write_timeline
    from tracker_trainer_spark.ksuid import ksuid_column, ksuid_timestamp
    from tracker_trainer_spark.trainer.encode import (
        TIMESTAMP_KEY,
        encode_json_to_vectors,
    )
    from tracker_trainer_spark.trainer.loader import load_training_frame
    from tracker_trainer_spark.trainer.train import (
        model_input,
        train_decision_model,
        train_propensity_model,
    )
    from tracker_trainer_spark.trainer.weights import znormalize_reward

    ev0 = _t(spark, sf_dir, "events").where(F.col("event_type") != "purchase")
    # bounded driver action, the adaptive-moduli convention
    # (theil_sen_price_slope): ~1.5k decisions at any scale factor
    mod = max(40, ev0.count() // 1500)
    ev = ev0.where(F.col("event_id") % mod == 0)
    ts_sec = F.unix_timestamp("ts").cast("long")
    dec = ev.select(
        ksuid_column(ts_sec, "event_id").alias("decision_id"),
        F.col("props").alias("item"),
        F.to_json(F.struct(
            F.col("event_type").alias("et"),
            (F.col("user_id") % 50).alias("ub"))).alias("context"),
        F.when(F.col("event_id") % 2 == 0,
               F.to_json(F.struct(F.col("event_type").alias("et")))
               ).alias("sample"),
        (1 + F.col("event_id") % 3).cast("double").alias("count"),
        F.lit("{}").alias("rewards"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("reward"),
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_train_e2e_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    path = base + "/tl"
    # repartition(1), not coalesce(1): coalesce collapsed the WHOLE
    # events scan + ksuid/to_json synthesis into one task (profiled
    # 1.9 s); the exchange keeps the scan parallel and still writes one
    # file per dt partition (r10, guide §2)
    write_timeline(dec.repartition(1), path)

    # The pipeline runs on a CHILD session (guide §6, §2.2): the bench's
    # 4 MB maxPartitionBytes override exists to parallelize the
    # byte-small SOURCE tables, but it leaks into this query's INTERIOR
    # scans of its own ~1.5k-row dt-partitioned timeline — ~30 tiny
    # files become ~30 splits, so every post-load stage (selection aggs,
    # string stats, ~40 GBT iteration jobs) schedules ~30 tasks for a
    # relation that fits in one.  Production split size (128 MB) packs
    # them into one split, which is exactly what a real cluster would
    # see; shuffle partitions follow the timeline size (the streaming-
    # drain convention).  Metric VALUES may shift in the last decimals
    # (rand()-based splits are partitioning-sensitive — the documented
    # rows-only posture); every count/feature column is data-determined
    # and unchanged.
    from tracker_trainer_spark.session import drain_partitions

    child = spark.newSession()
    child.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    # minPartitionNum floors scan parallelism at defaultParallelism,
    # which re-splits the tiny timeline right back to one-file-per-task
    # regardless of maxPartitionBytes; 1 makes the 128 MB split size
    # authoritative (large timelines still split by SIZE)
    child.conf.set("spark.sql.files.minPartitionNum", "1")
    child.conf.set("spark.sql.shuffle.partitions",
                   str(drain_partitions(path)))
    n_timeline = child.read.parquet(path).count()

    # small round budget: the row certifies pipeline EXECUTION, and the
    # driver/bench price must stay in seconds (full-budget throughput
    # evidence lives in scripts/train_soak.py)
    p = train_propensity_model(child, path, model_seed,
                               max_features=max_features,
                               num_rounds=6, max_depth=3)
    d = train_decision_model(child, path, p, model_seed,
                             max_features=max_features,
                             num_rounds=6, max_depth=3)

    # batch inference: score the decision model back over the timeline
    frame = load_training_frame(
        child, path, columns=["decision_id", "item", "context", "reward"],
        seed=model_seed)
    y = znormalize_reward(frame, "reward")
    enc = encode_json_to_vectors(
        frame.select(
            "item", "context", y.alias("y"),
            ksuid_timestamp(F.col("decision_id")).alias(TIMESTAMP_KEY)),
        [("context", "context"), ("item", "item")],
        [f for f in d.feature_names if f != TIMESTAMP_KEY],
        d.string_tables, d.model_seed)
    pred = d.model.transform(model_input(enc))
    return pred.agg(
        F.lit(int(n_timeline)).cast("long").alias("n_timeline"),
        F.count(F.lit(1)).alias("n_scored"),
        F.lit(len(p.feature_names)).cast("int").alias("p1_features"),
        F.lit(len(d.feature_names)).cast("int").alias("p2_features"),
        F.round(F.lit(p.mean_item_count), 4).alias("mean_item_count"),
        F.round(F.sqrt(F.avg(F.pow(F.col("prediction") - F.col("y"), 2))), 4)
        .alias("rmse"),
        F.round(F.corr("prediction", "y"), 4).alias("pred_reward_corr"),
    )


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

CORE_QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "q18_large_orders": q18_large_orders,
    "q14_promo_revenue": q14_promo_revenue,
    "q4_order_priority": q4_order_priority,
    "q6_revenue_forecast": q6_revenue_forecast,
    "q12_priority_by_returnflag": q12_priority_by_returnflag,
    "q22_idle_customers": q22_idle_customers,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q21_sole_returned_supplier": q21_sole_returned_supplier,
    "events_before_purchase": events_before_purchase,
    "revenue_rollup_nation_year": revenue_rollup_nation_year,
    "order_value_percentiles": order_value_percentiles,
    "order_value_histogram": order_value_histogram,
    "top3_orders_per_customer": top3_orders_per_customer,
    "monthly_order_stats": monthly_order_stats,
    "nations_with_customers_and_suppliers": nations_with_customers_and_suppliers,
    "events_type_stats": events_type_stats,
    "windowed_event_stats": windowed_event_stats_batch,
    "stream_windowed_counts": stream_windowed_counts,
    "next_event_after_purchase": next_event_after_purchase,
    "merge_rewarded_events": merge_rewarded_events,
    "reward_summary_stats": reward_summary_stats,
    "value_purchase_auc": value_purchase_auc,
    "weekly_auc_drift": weekly_auc_drift,
    "contrastive_negative_pairs": contrastive_negative_pairs,
    "propensity_explode_events": propensity_explode_events,
    "user_sessions": user_sessions,
    "session_window_sessions": session_window_sessions,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "purchase_attribution_asof": purchase_attribution_asof,
    "dedup_exact_documents": dedup_exact_documents,
    "corpus_curation": corpus_curation,
    "doc_text_stats": doc_text_stats,
    "doc_token_chunks": doc_token_chunks,
    "doc_repetition_stats": doc_repetition_stats,
    "corpus_train_holdout": corpus_train_holdout,
    "ann_cosine_topk": ann_cosine_topk,
    "dedup_minhash_candidates": dedup_minhash_candidates,
    "dedup_minhash_estimate": dedup_minhash_estimate,
    "dedup_minhash_clusters": dedup_minhash_clusters,
    "dedup_cluster_survivors": dedup_cluster_survivors,
    "doc_centrality_pagerank": doc_centrality_pagerank,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "doc_fingerprint_lang": doc_fingerprint_lang,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "ann_ivf_topk": ann_ivf_topk,
    "knn_join_topk": knn_join_topk,
    "embedding_similar_pairs": embedding_similar_pairs,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "semantic_text_dedup": semantic_text_dedup,
    "train_encode_events": train_encode_events,
    # model fits + inference: the one query without an oracle
    "train_e2e_metrics": train_e2e_metrics,
}

CORE_ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_top_revenue_orders": Q3_SQL,
    "q5_nation_revenue": Q5_SQL,
    "q18_large_orders": Q18_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q4_order_priority": Q4_SQL,
    "q6_revenue_forecast": Q6_SQL,
    "q12_priority_by_returnflag": Q12_SQL,
    "q22_idle_customers": Q22_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q10_returned_items": Q10_SQL,
    "q13_customer_order_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q21_sole_returned_supplier": Q21_SQL,
    "events_before_purchase": EVENTS_BEFORE_PURCHASE_SQL,
    "train_encode_events": TRAIN_ENCODE_SQL,
    "revenue_rollup_nation_year": ROLLUP_SQL,
    "order_value_percentiles": PERCENTILES_SQL,
    "order_value_histogram": HISTOGRAM_SQL,
    "top3_orders_per_customer": TOP3_SQL,
    "monthly_order_stats": MONTHLY_SQL,
    "nations_with_customers_and_suppliers": INTERSECT_SQL,
    "events_type_stats": EVENTS_STATS_SQL,
    "windowed_event_stats": WINDOWED_EVENTS_SQL,
    "stream_windowed_counts": STREAM_WINDOWED_SQL,
    "next_event_after_purchase": NEXT_EVENT_SQL,
    "merge_rewarded_events": MERGE_EVENTS_SQL,
    "reward_summary_stats": REWARD_STATS_SQL,
    "value_purchase_auc": AUC_SQL,
    "weekly_auc_drift": WEEKLY_AUC_SQL,
    "contrastive_negative_pairs": CONTRASTIVE_SQL,
    "propensity_explode_events": PROPENSITY_SQL,
    "user_sessions": SESSIONS_SQL,
    "session_window_sessions": SESSION_WINDOW_SQL,
    "funnel_view_click_purchase": FUNNEL_SQL,
    "purchase_attribution_asof": ASOF_SQL,
    "dedup_exact_documents": DEDUP_SQL,
    "corpus_curation": CORPUS_CURATION_SQL,
    "doc_text_stats": TEXT_STATS_SQL,
    "doc_token_chunks": DOC_CHUNKS_SQL,
    "doc_repetition_stats": REPETITION_SQL,
    "corpus_train_holdout": TRAIN_HOLDOUT_SQL,
    "ann_cosine_topk": ANN_SQL,
    "dedup_minhash_candidates": MINHASH_CAND_SQL,
    "dedup_minhash_estimate": MINHASH_ESTIMATE_SQL,
    "dedup_minhash_clusters": MINHASH_CLUSTERS_SQL,
    "dedup_cluster_survivors": DEDUP_SURVIVORS_SQL,
    "doc_centrality_pagerank": PAGERANK_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "doc_fingerprint_lang": FINGERPRINT_LANG_SQL,
    "ann_lsh_bucketed": ANN_LSH_SQL,
    "ann_lsh_multiprobe": ANN_LSH_MULTIPROBE_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "knn_join_topk": KNN_JOIN_SQL,
    "embedding_similar_pairs": SIMILAR_PAIRS_SQL,
    "dedup_embedding_cosine": DEDUP_EMB_SQL,
    "semantic_text_dedup": SEMANTIC_TEXT_SQL,
}

# Each family module exports its own QUERIES / ORACLES dicts; the
# registry is this module's core plus every family, in this order.
FAMILIES = (
    queries_relational_ext,
    queries_analytics_ext,
    queries_ml_ext,
    queries_sketch_ext,
    queries_stats_ext,
    queries_feature_ext,
    queries_seq_ext,
    queries_linalg_ext,
    queries_attrib_ext,
    queries_recs_ext,
    queries_exp_ext,
)

QUERIES = dict(CORE_QUERIES)
ORACLES = dict(CORE_ORACLES)
for _family in FAMILIES:
    QUERIES.update(_family.QUERIES)
    ORACLES.update(_family.ORACLES)
