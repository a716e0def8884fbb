"""Forecasting / CDC / weighted-traversal / LM-scoring registry queries.

Four operator classes:

- ``holt_linear_forecast`` — Holt's double exponential smoothing
  (level + trend state) over the daily revenue series with 1-step and
  7-step-ahead forecasts: the actual forecasting operator
  (``daily_value_ewma`` smooths, this extrapolates). The recurrence is
  a genuinely 2-field-state fold no SQL window frame computes.
- ``user_state_cdc_merge`` — MERGE INTO / SCD-type-1 upsert semantics
  expressed relationally: a base user-state snapshot (events before a
  derived cutoff) merged with a change batch (events after), with
  additive and replace columns and a per-row change audit
  (insert / update / carry) — the CDC primitive every lakehouse
  pipeline runs, without needing a table format.
- ``supplier_cheapest_paths`` — WEIGHTED shortest paths (bounded
  Bellman-Ford) over the sparsified co-supply graph: integer edge
  costs inversely proportional to tie strength, 3-hop recursive-CTE
  expansion, min-cost per node outside the recursion — the weighted
  sibling of ``supplier_cosupply_bfs``'s hop counting.
- ``doc_bigram_perplexity`` — add-k-smoothed bigram language-model
  scoring of every document against the corpus's own LM (average
  negative log-likelihood per bigram): the quality filter LLM data
  pipelines actually run, one level above the unigram MLE signal.

Parity notes: Holt uses DYADIC smoothing constants (0.5 / 0.25 —
exactly representable, parse identically in both engines) and
evaluates the identical IEEE op sequence per step (Spark: ordered
``aggregate`` fold with a named-struct accumulator; DuckDB: a linear
recursive CTE — its ``list_reduce`` corrupts struct accumulators, see
the note at HOLT_SQL). LM scores follow the ``doc_unigram_logprob``
posture: keyed by doc_id, r4 at the output, never ranked by the
float.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tracker_trainer_spark.queries_stats_ext import (
    DAILY_PURCHASE_CENTS_SQL as _DAILY_CENTS_SQL,
)
from tracker_trainer_spark.tables import _t, r4


# --------------------------------------------------------------------------
# Holt linear-trend smoothing + forecast
# --------------------------------------------------------------------------

_HOLT_FC_H = 7


def _holt_states(spark, sf_dir):
    """UNROUNDED per-day Holt (level, trend) states from day 2 onward —
    the shared fold behind holt_linear_forecast (output rounding) and
    holt_backtest (error evaluation needs the unrounded l + b)."""
    from tracker_trainer_spark.queries_stats_ext import daily_purchase_cents

    daily = daily_purchase_cents(spark, sf_dir)
    folded = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("arr")
    )
    return folded.select(
        F.explode(
            F.expr(
                """transform(
                  filter(arr, s -> s.day >= get(arr, 1).day),
                  s -> named_struct(
                    'day', s.day, 'cents', s.cents,
                    'st', aggregate(
                      filter(slice(arr, 3, size(arr) - 2),
                             x -> x.day <= s.day),
                      named_struct(
                        'l', CAST(arr[0].cents AS DOUBLE),
                        'b', CAST(arr[1].cents AS DOUBLE)
                             - CAST(arr[0].cents AS DOUBLE)),
                      (acc, x) -> named_struct(
                        'l', 0.5 * CAST(x.cents AS DOUBLE)
                             + 0.5 * (acc.l + acc.b),
                        'b', 0.25 * ((0.5 * CAST(x.cents AS DOUBLE)
                                      + 0.5 * (acc.l + acc.b)) - acc.l)
                             + 0.75 * acc.b))))"""
            )
        ).alias("s")
    )


def holt_linear_forecast(spark, sf_dir):
    """Holt's linear-trend (double exponential) smoothing of daily
    purchase revenue: l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, initialized at t = 2 with
    l = x_1, b = x_2 − x_1 (the standard two-point init), with the
    1-step and 7-step-ahead forecasts ŷ = l + h·b per day.

    α = 0.5, β = 0.25 — dyadic on purpose: both engines parse them to
    exactly the same doubles, and the fold below runs the identical
    IEEE sequence (l_t is recomputed textually inside the b_t update on
    BOTH engines, so there is no hidden extra rounding on either side).
    Output rows start at day 2 (the init point). Days are
    calendar-bounded, so the per-day O(d²) refold is a ≤31-element
    array program — one shuffle total."""
    st = _holt_states(spark, sf_dir)
    return st.select(
        F.col("s.day").alias("day"),
        F.col("s.cents").alias("day_cents"),
        (r4(F.col("s.st.l")) + F.lit(0.0)).alias("level"),
        (r4(F.col("s.st.b")) + F.lit(0.0)).alias("trend"),
        (r4(F.col("s.st.l") + F.col("s.st.b")) + F.lit(0.0))
        .alias("forecast_1d"),
        (r4(F.col("s.st.l") + F.lit(float(_HOLT_FC_H)) * F.col("s.st.b"))
         + F.lit(0.0)).alias("forecast_7d"),
    ).orderBy("day")


# NOTE: the natural list_reduce spelling with a struct_pack(l, b)
# accumulator computes WRONG values in DuckDB once the fold crosses
# two iterations (reproduced: fields of the accumulator struct read
# from mixed iterations; a scalar accumulator is fine, cf. KM_SQL).
# The oracle therefore spells the identical per-step arithmetic as a
# LINEAR RECURSIVE CTE — one projection per step, where repeating the
# l' subexpression inside b' is safe on both engines (Spark's
# aggregate lambda repeats it textually too).
HOLT_CORE_SQL = f"""daily AS (
  {_DAILY_CENTS_SQL}
), seq AS (
  SELECT row_number() OVER (ORDER BY day) AS rn, day, cents FROM daily
), st AS (
  SELECT s2.rn, s2.day, s2.cents,
         CAST(s1.cents AS DOUBLE) AS l,
         CAST(s2.cents AS DOUBLE) - CAST(s1.cents AS DOUBLE) AS b
  FROM seq s1 JOIN seq s2 ON s1.rn = 1 AND s2.rn = 2
  UNION ALL
  SELECT n.rn, n.day, n.cents,
         0.5e0 * CAST(n.cents AS DOUBLE) + 0.5e0 * (st.l + st.b) AS l,
         0.25e0 * ((0.5e0 * CAST(n.cents AS DOUBLE)
                    + 0.5e0 * (st.l + st.b)) - st.l)
           + 0.75e0 * st.b AS b
  FROM st JOIN seq n ON n.rn = st.rn + 1
)"""

HOLT_SQL = f"""
WITH RECURSIVE {HOLT_CORE_SQL}
SELECT day, cents AS day_cents,
       round(l, 4) + 0.0 AS level,
       round(b, 4) + 0.0 AS trend,
       round(l + b, 4) + 0.0 AS forecast_1d,
       round(l + {float(_HOLT_FC_H)!r} * b, 4) + 0.0 AS forecast_7d
FROM st
ORDER BY day
"""


# --------------------------------------------------------------------------
# CDC / SCD1 merge of a user-state snapshot with a change batch
# --------------------------------------------------------------------------

_CDC_CUTOFF_DAYS = 20


def user_state_cdc_merge(spark, sf_dir):
    """MERGE INTO (SCD type-1 upsert) semantics, relationally: the
    per-user state snapshot built from events BEFORE a derived cutoff
    (min event day + 20 days) merged with the change batch built from
    events AFTER it. Replace columns (last event type / last-seen µs)
    take the change side when present; the additive column (lifetime
    value cents) sums both sides; every output row carries its change
    audit — 'insert' (new key), 'update' (both sides), 'carry'
    (untouched) — exactly what a MERGE INTO ... WHEN MATCHED/NOT
    MATCHED writes, minus the table format.

    Last-event selection is a lexicographic struct max on
    (ts_µs, event_id, type) — bit-identical tie handling in both
    engines. The merge itself is one full-outer hash join on the key;
    at scale both sides hash-partition by user_id (the shuffle the
    MERGE would do anyway). Output: first 300 users by id."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cutoff = (
        ev.agg(((F.floor(F.min("ts_us") / 86_400_000_000)
                 + F.lit(_CDC_CUTOFF_DAYS)) * 86_400_000_000)
               .cast("long").alias("cut"))
    )
    ev = ev.crossJoin(F.broadcast(cutoff))

    def state(side):
        return side.groupBy("user_id").agg(
            F.max(F.struct("ts_us", "event_id", "event_type")).alias("last"),
            F.sum("cents").cast("long").alias("value_cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )

    base = state(ev.where(F.col("ts_us") < F.col("cut")))
    delta = state(ev.where(F.col("ts_us") >= F.col("cut")))
    b = base.select(
        "user_id",
        F.col("last.ts_us").alias("b_ts_us"),
        F.col("last.event_type").alias("b_type"),
        F.col("value_cents").alias("b_cents"),
        F.col("n_events").alias("b_n"),
    )
    d = delta.select(
        "user_id",
        F.col("last.ts_us").alias("d_ts_us"),
        F.col("last.event_type").alias("d_type"),
        F.col("value_cents").alias("d_cents"),
        F.col("n_events").alias("d_n"),
    )
    m = b.join(d, "user_id", "full_outer")
    return (
        m.select(
            "user_id",
            F.when(F.col("b_n").isNull(), F.lit("insert"))
            .when(F.col("d_n").isNull(), F.lit("carry"))
            .otherwise(F.lit("update")).alias("change_type"),
            F.coalesce("d_type", "b_type").alias("last_event_type"),
            F.coalesce("d_ts_us", "b_ts_us").alias("last_seen_us"),
            (F.coalesce(F.col("b_cents"), F.lit(0).cast("long"))
             + F.coalesce(F.col("d_cents"), F.lit(0).cast("long")))
            .alias("value_cents"),
            (F.coalesce(F.col("b_n"), F.lit(0).cast("long"))
             + F.coalesce(F.col("d_n"), F.lit(0).cast("long")))
            .alias("n_events"),
        )
        .orderBy("user_id")
        .limit(300)
    )


CDC_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), cut AS (
  SELECT CAST((CAST(floor(min(ts_us) / 86400000000.0e0) AS BIGINT)
               + {_CDC_CUTOFF_DAYS}) * 86400000000 AS BIGINT) AS cut
  FROM ev
), base AS (
  SELECT user_id,
         (max(struct_pack(ts_us := ts_us, event_id := event_id,
                          event_type := event_type))).ts_us AS b_ts_us,
         (max(struct_pack(ts_us := ts_us, event_id := event_id,
                          event_type := event_type))).event_type AS b_type,
         CAST(sum(cents) AS BIGINT) AS b_cents,
         CAST(count(*) AS BIGINT) AS b_n
  FROM ev, cut WHERE ts_us < cut GROUP BY 1
), delta AS (
  SELECT user_id,
         (max(struct_pack(ts_us := ts_us, event_id := event_id,
                          event_type := event_type))).ts_us AS d_ts_us,
         (max(struct_pack(ts_us := ts_us, event_id := event_id,
                          event_type := event_type))).event_type AS d_type,
         CAST(sum(cents) AS BIGINT) AS d_cents,
         CAST(count(*) AS BIGINT) AS d_n
  FROM ev, cut WHERE ts_us >= cut GROUP BY 1
)
SELECT COALESCE(b.user_id, d.user_id) AS user_id,
       CASE WHEN b.b_n IS NULL THEN 'insert'
            WHEN d.d_n IS NULL THEN 'carry'
            ELSE 'update' END AS change_type,
       COALESCE(d.d_type, b.b_type) AS last_event_type,
       COALESCE(d.d_ts_us, b.b_ts_us) AS last_seen_us,
       CAST(COALESCE(b.b_cents, 0) + COALESCE(d.d_cents, 0) AS BIGINT)
         AS value_cents,
       CAST(COALESCE(b.b_n, 0) + COALESCE(d.d_n, 0) AS BIGINT) AS n_events
FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
ORDER BY user_id
LIMIT 300
"""


# --------------------------------------------------------------------------
# Weighted shortest paths (bounded Bellman-Ford) over co-supply ties
# --------------------------------------------------------------------------

_SSSP_MAX_HOP = 3
_SSSP_TOPN = 25


def supplier_cheapest_paths(spark, sf_dir):
    """Weighted single-source shortest paths over the sparsified
    co-supply graph: edge cost = ceil(10000 / shared-order count) —
    stronger ties are cheaper — accumulated along paths of ≤3 hops from
    the lowest-keyed supplier; min cost per reached node taken OUTSIDE
    the recursion (the standard bounded-Bellman-Ford spelling when the
    recursive term cannot aggregate). Costs are exact integers, so no
    FP drift can reorder paths between engines.

    The edge build reuses the BFS query's top-M TakeOrdered
    sparsification (strength-ranked, pair-id tiebreak — a total order,
    deterministic membership), which also bounds the recursion's
    expansion; the DISTINCT per level collapses equal-cost parallel
    paths. Both engines run the identical recursion text. Output: the
    25 cheapest reachable nodes (cost, then node id)."""
    from tracker_trainer_spark.queries_stats_ext import (
        _checkpointed_cosupply_edges,
    )

    # shares the BFS query's memoized edge checkpoint (r9 — the cost
    # projection is a narrow map over the materialized blocks, so the
    # ~3 s edge build is paid once per session, not once per traversal)
    edges = _checkpointed_cosupply_edges(spark, sf_dir).select(
        "s1", "s2", F.expr("(10000 + w - 1) div w").alias("cost")
    )
    edges.createOrReplaceTempView("sssp_edges_src")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView(
        "sssp_supplier_src")
    seed = "(SELECT min(s_suppkey) FROM sssp_supplier_src)"
    return spark.sql(
        f"""
WITH RECURSIVE paths AS (
  SELECT {seed} AS node, CAST(0 AS BIGINT) AS cost, CAST(0 AS INT) AS hop
  UNION ALL
  SELECT DISTINCT e.s2 AS node, paths.cost + e.cost AS cost,
         paths.hop + 1 AS hop
  FROM paths JOIN sssp_edges_src e ON e.s1 = paths.node
  WHERE paths.hop < {_SSSP_MAX_HOP}
)
SELECT node, CAST(min(cost) AS BIGINT) AS min_cost
FROM paths
WHERE node <> {seed}
GROUP BY node
ORDER BY min_cost, node
LIMIT {_SSSP_TOPN}
"""
    )


# --------------------------------------------------------------------------
# Add-k bigram LM perplexity scoring of every document
# --------------------------------------------------------------------------

_LM_K = 0.5


def doc_bigram_perplexity(spark, sf_dir):
    """Score every document by average negative log-likelihood per
    bigram under the corpus's own add-k-smoothed bigram LM:
    P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), k = 0.5, V = bigram-LHS
    vocabulary size — the standard quality filter one level above the
    unigram MLE (``doc_unigram_logprob``): repetitive or
    off-distribution word ORDER now scores badly even when the word
    set looks fine.

    Bigrams are generated scan-side (zip of the token array with its
    own tail — no positional self-join); the two count tables are
    aggregates over the bigram stream. Float posture per the unigram
    precedent: scores keyed by doc_id, r4 at the output, never ranked
    or filtered by the float (ln is last-ulp portable only)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.lower("text"), r"\s+").alias("ws"),
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, F.size("ws") - 1).alias("w1"),
                F.expr("slice(ws, 2, size(ws) - 1)").alias("w2"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    pair_tf = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")).cache()
    ctx = pair_tf.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    # V rides as a broadcast 1-row relation instead of a driver collect:
    # the collected spelling serialized 5 jobs (~0.3 s: cache fill + the
    # count_distinct) BEFORE the main action could even plan; as a plan
    # branch it overlaps with the rest instead of blocking construction,
    # and the query path sheds its only driver collect.  Arithmetic is
    # unchanged: k·V with k = 0.5 is an exact power-of-two scaling of an
    # integer, so lit(0.5·V) (old, Python double) and 0.5·v_col (JVM
    # double) are the same IEEE value in every row.  r9 sf0.1 interleaved
    # A/B (3 pairs, warm repeat): 1.78/1.82/1.93 → 1.70/1.78/1.86 s —
    # new spelling faster in all 3 pairs (~5 %); action jobs 12 → 14
    # (the broadcast exchange books 2 extra sub-second jobs), so the win
    # is the removed serialization, not job count.  Oracle green at 3
    # scales (bit-identical rows).
    v1 = pair_tf.agg(F.count_distinct("w1").cast("long").alias("_v"))
    # ctx is unigram-vocabulary-sized (data-derived, unbounded at corpus
    # scale) — no broadcast hint; AQE broadcasts it when it fits, same
    # convention as the PMI context join (queries_analytics_ext.py).
    scored = (
        big.join(pair_tf, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(v1))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            r4(-F.avg(
                F.log((F.col("c12") + F.lit(_LM_K))
                      / (F.col("c1") + F.lit(_LM_K) * F.col("_v")))
            )).alias("avg_nll"),
        )
    )
    return scored.orderBy("doc_id")


BIGRAM_PPL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws
  FROM documents
), big AS (
  SELECT doc_id,
         unnest(ws[1:len(ws) - 1]) AS w1,
         unnest(ws[2:len(ws)]) AS w2
  FROM toks
), pair_tf AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pair_tf GROUP BY 1
), v AS (
  SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM pair_tf
)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-avg(ln((p.c12 + {_LM_K!r}) / (c.c1 + {_LM_K!r} * v.v))), 4)
         AS avg_nll
FROM big b
JOIN pair_tf p ON b.w1 = p.w1 AND b.w2 = p.w2
JOIN ctx c ON b.w1 = c.w1
CROSS JOIN v
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


def _sssp_sql():
    from tracker_trainer_spark.queries_stats_ext import _BFS_EDGES_PER_NODE

    return f"""
WITH RECURSIVE ob AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), pw AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
), kept AS (
  SELECT s1, s2, w FROM (
    SELECT s1, s2, w, row_number() OVER (ORDER BY w DESC, s1, s2) AS rn
    FROM pw
  ) WHERE rn <= {_BFS_EDGES_PER_NODE} * (SELECT count(*) FROM supplier)
), edges AS (
  SELECT s1, s2, CAST((10000 + w - 1) // w AS BIGINT) AS cost FROM kept
  UNION ALL
  SELECT s2 AS s1, s1 AS s2, CAST((10000 + w - 1) // w AS BIGINT) AS cost
  FROM kept
), paths AS (
  SELECT (SELECT min(s_suppkey) FROM supplier) AS node,
         CAST(0 AS BIGINT) AS cost, CAST(0 AS INT) AS hop
  UNION ALL
  SELECT DISTINCT e.s2 AS node, paths.cost + e.cost AS cost,
         paths.hop + 1 AS hop
  FROM paths JOIN edges e ON e.s1 = paths.node
  WHERE paths.hop < {_SSSP_MAX_HOP}
)
SELECT node, CAST(min(cost) AS BIGINT) AS min_cost
FROM paths
WHERE node <> (SELECT min(s_suppkey) FROM supplier)
GROUP BY node
ORDER BY min_cost, node
LIMIT {_SSSP_TOPN}
"""


# --------------------------------------------------------------------------
# Tokenizer vocabulary coverage / OOV-rate audit
# --------------------------------------------------------------------------

_OOV_VOCAB = 100


def tokenizer_oov_rate(spark, sf_dir, vocab_size: int = _OOV_VOCAB):
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` token vocabulary — the coverage audit run before
    pinning a tokenizer: a doc whose tokens fall outside the head
    vocabulary will fragment into rare pieces (or UNK) at training
    time.  Vocabulary = top tokens by corpus tf, tf-desc / token-asc
    tiebreak (exact integers, no rounded-tie hazard).

    Plan: one tf aggregation; the vocab is a TakeOrdered of PINNED size
    (vocab_size rows — bounded by a constant, so the broadcast hint is
    legitimate under the r5 convention); per-doc OOV counts ride a
    broadcast left join on the token stream. One token-explode pass
    feeds both the tf agg and the per-doc join via cache."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).cache()
    vocab = (
        tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .orderBy(F.desc("tf"), "tok")
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("_inv"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("long").alias("oov_tokens"),
        )
    )
    return per_doc.select(
        "doc_id", "n_tokens", "oov_tokens",
        r4(F.col("oov_tokens").cast("double")
           / F.col("n_tokens").cast("double")).alias("oov_rate"),
    ).orderBy("doc_id")


OOV_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1
  ) ORDER BY tf DESC, tok LIMIT {_OOV_VOCAB}
), flagged AS (
  SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS oov_tokens,
       round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
         AS oov_rate
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = {
    "holt_linear_forecast": holt_linear_forecast,
    "user_state_cdc_merge": user_state_cdc_merge,
    "supplier_cheapest_paths": supplier_cheapest_paths,
    "doc_bigram_perplexity": doc_bigram_perplexity,
    "tokenizer_oov_rate": tokenizer_oov_rate,
}

ORACLES = {
    "holt_linear_forecast": HOLT_SQL,
    "user_state_cdc_merge": CDC_SQL,
    "supplier_cheapest_paths": _sssp_sql(),
    "doc_bigram_perplexity": BIGRAM_PPL_SQL,
    "tokenizer_oov_rate": OOV_SQL,
}
