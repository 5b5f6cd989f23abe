"""Behavioral / statistical insight operators over ``events`` and the
TPC-H tables: Markov path transitions, A/B experiment analysis,
seasonal-naive forecast backtesting, and degree-oriented triangle
counting.

The reference engine (balyuv/ai-etl-studio) answers only what its LLM
can phrase as one SELECT; these are the canned product-analytics shapes
a warehouse team actually runs daily — driver-directed extension
surface, designed Spark-first.

Float-determinism discipline (shared with bm25/exact.py): every
distributed SUM is over integer ticks (cents), so partial-aggregation
order cannot perturb the result; doubles appear only in per-row or
final single-row expressions whose structure is mirrored token-for-token
in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_etl_studio_spark.catalog import load_table
from ai_etl_studio_spark.freshness import SessionMemo
from ai_etl_studio_spark.operators import register
from ai_etl_studio_spark.plans.snapshot import capture_stage


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event paths
# ---------------------------------------------------------------------------

@register(
    "path_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    p AS (
      SELECT src, dst, COUNT(*) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS prob
    FROM p
    ORDER BY src, dst
    """,
)
def path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for each
    (event_type -> next event_type) pair, the transition count and the
    row-normalized probability — the clickstream path-analysis primitive
    behind funnels and next-action models.

    Scale: ONE shuffle partitions events by user_id for the lead()
    window (per-user state is a single row of lookahead); the pair
    aggregation then reduces to |event_types|² rows with map-side
    combine, and the probability normalization is a window over that
    tiny matrix. The probability is an int/int IEEE division —
    bit-identical across engines, no tick quantization needed.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    p = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("src")
    return (
        p.withColumn(
            "prob", F.col("n").cast("double") / F.sum("n").over(norm)
        )
        .orderBy("src", "dst")
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis (Welch z-test on purchase value)
# ---------------------------------------------------------------------------

_AB_ORACLE = """
WITH m AS (
  SELECT user_id % 2 AS variant,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
s AS (
  SELECT variant, COUNT(*) AS n, SUM(cents) AS s1, SUM(cents * cents) AS s2
  FROM m GROUP BY variant),
w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
         MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
         MAX(CASE WHEN variant = 0 THEN s1 END) AS s1_a,
         MAX(CASE WHEN variant = 1 THEN s1 END) AS s1_b,
         MAX(CASE WHEN variant = 0 THEN s2 END) AS s2_a,
         MAX(CASE WHEN variant = 1 THEN s2 END) AS s2_b
  FROM s)
SELECT n_a, n_b,
       CAST(s1_a AS DOUBLE) / n_a AS mean_a_cents,
       CAST(s1_b AS DOUBLE) / n_b AS mean_b_cents,
       (CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
         / sqrt(
             ((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1)) / n_a
           + ((CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1)) / n_b
           ) AS z,
       CASE WHEN abs(
         (CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
         / sqrt(
             ((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1)) / n_a
           + ((CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1)) / n_b
           )) > 1.96 THEN 1 ELSE 0 END AS significant
FROM w
"""


@register("ab_test_ztest", oracle=_AB_ORACLE)
def ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test on mean purchase value between two
    deterministically assigned variants (user_id parity stands in for
    the experiment's hash assignment) — the experiment-readout query.

    Scale: the whole test is ONE aggregation over the filtered event
    stream — per-variant n, Σx, Σx² in integer cents (exact, order-free)
    — pivoted to a single row; mean/variance/z are then computed
    driver-free from those six integers with an expression tree mirrored
    exactly in the oracle, so the IEEE doubles agree bit-for-bit.
    Variance uses the Σx²-(Σx)²/n form, valid because cents are exact.
    """
    e = load_table(spark, sf_dir, "events")
    m = e.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    s = m.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    w = s.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 0, F.col("s1"))).alias("s1_a"),
        F.max(F.when(F.col("variant") == 1, F.col("s1"))).alias("s1_b"),
        F.max(F.when(F.col("variant") == 0, F.col("s2"))).alias("s2_a"),
        F.max(F.when(F.col("variant") == 1, F.col("s2"))).alias("s2_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    mean_a = F.col("s1_a").cast("double") / n_a
    mean_b = F.col("s1_b").cast("double") / n_b
    var_a = (
        F.col("s2_a").cast("double") - F.col("s1_a").cast("double") * F.col("s1_a") / n_a
    ) / (n_a - F.lit(1))
    var_b = (
        F.col("s2_b").cast("double") - F.col("s1_b").cast("double") * F.col("s1_b") / n_b
    ) / (n_b - F.lit(1))
    z = (mean_a - mean_b) / F.sqrt(var_a / n_a + var_b / n_b)
    return w.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a_cents"),
        mean_b.alias("mean_b_cents"),
        z.alias("z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (weekly seasonality, MAPE by weekday)
# ---------------------------------------------------------------------------

#: Absolute-percentage-error quantization (1e-9 of a percent point).
_MAPE_TICKS = 1_000_000_000


@register(
    "seasonal_naive_mape",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    bt AS (
      SELECT a.d, a.rev AS actual, f.rev AS forecast,
             CAST(ROUND({_MAPE_TICKS} * abs(CAST(a.rev AS DOUBLE) - f.rev)
                        / a.rev) AS BIGINT) AS ape_ticks
      FROM daily a JOIN daily f ON a.d = f.d + INTERVAL 7 DAY)
    SELECT isodow(d) AS weekday, COUNT(*) AS n_days,
           AVG(ape_ticks) AS mape_ticks
    FROM bt GROUP BY isodow(d)
    ORDER BY weekday
    """,
)
def seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict today's revenue
    with the value 7 days earlier) — mean absolute percentage error per
    ISO weekday. The forecasting-sanity baseline every demand/capacity
    model is judged against.

    Scale: daily revenue is one aggregation (integer cents — exact);
    the forecast join is a self-join of the DAILY series (|dates| rows,
    trivially broadcastable at any corpus size); per-row APE is
    quantized to integer ticks so the final per-weekday AVG is an exact
    int sum / count in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev"
            )
        )
    )
    f = daily.select(
        F.date_add("d", 7).alias("d"), F.col("rev").alias("forecast")
    )
    bt = daily.withColumnRenamed("rev", "actual").join(F.broadcast(f), "d")
    ape_ticks = F.round(
        _MAPE_TICKS
        * F.abs(F.col("actual").cast("double") - F.col("forecast"))
        / F.col("actual")
    ).cast("bigint")
    return (
        bt.select((F.weekday("d") + 1).alias("weekday"), ape_ticks.alias("ape_ticks"))
        .groupBy("weekday")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.avg("ape_ticks").alias("mape_ticks"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# Degree-oriented triangle counting (part co-purchase graph)
# ---------------------------------------------------------------------------

#: Node filter bounding the demo graph (every ~5th part) so the oracle's
#: unoptimized self-joins stay cheap at sf0.1; the Spark plan itself is
#: the full degree-oriented algorithm and needs no such bound.
_TRI_MOD = 5

_TRI_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey % {_TRI_MOD} = 0),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node),
o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
tri AS (
  SELECT o1.s AS a, o1.t AS b, o2.t AS c
  FROM o o1
  JOIN o o2 ON o1.t = o2.s
  JOIN o o3 ON o3.s = o1.s AND o3.t = o2.t)
SELECT (SELECT COUNT(*) FROM tri) AS n_triangles,
       (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges
"""


@register("triangle_count", oracle=_TRI_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (parts appearing in
    the same order are connected) — the graph-cohesion primitive behind
    community detection and recommendation diagnostics.

    Scale design — the degree-oriented wedge join: every undirected edge
    is oriented from its lower-degree endpoint to the higher (ties by
    id), which bounds every out-degree by O(sqrt(m)); the wedge
    self-join on oriented edges then does O(m^1.5) work — the provable
    optimum for exact triangle listing (Schank & Wagner 2005) — instead
    of the naive join's Σd² blow-up on hub nodes. The degree table is
    |nodes| rows (hint-free — AQE broadcasts it when it fits); the
    wedge join shuffles oriented edges by wedge midpoint, then the
    closing-edge check is a semi-join on (s, t) pairs.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % _TRI_MOD == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    # materialize the edge list ONCE: it has four consumers (degree
    # table, orientation, closing-edge set, edge count) and each would
    # otherwise re-run the basket self-join from the lineitem scan —
    # the un-checkpointed plan carried 36 scans / 68 exchanges
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented edges feed three consumers (both wedge sides + closing
    # set) — materialize once; at cluster scale persist() to disk-backed
    # storage instead (same note as pretrain_corpus_pipeline)
    # hint-free (r8): the degree table is |nodes| rows with nodes drawn
    # from the mod-fenced part domain — SF-linear/MOD, not provably
    # broadcast-sized; AQE broadcasts it at every SF where it fits
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint()
    )
    o1 = o.select(F.col("s").alias("a"), F.col("t").alias("b"))
    o2 = o.select(F.col("s").alias("b"), F.col("t").alias("c"))
    wedges = o1.join(o2, "b")
    closing = o.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["a", "c"], "left_semi")
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_tri.crossJoin(n_nodes).crossJoin(n_edges)


# ---------------------------------------------------------------------------
# OLS trend forecast over the daily revenue series
# ---------------------------------------------------------------------------

#: Training window (calendar year) and forecast horizon (days).
_TREND_YEAR = "1996"
_TREND_H = 7

_TREND_ORACLE = f"""
WITH daily AS (
  SELECT datediff('day', DATE '{_TREND_YEAR}-01-01', CAST(o_orderdate AS DATE)) AS x,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders
  WHERE o_orderdate >= DATE '{_TREND_YEAR}-01-01'
    AND o_orderdate < DATE '{_TREND_YEAR}-01-01' + INTERVAL 1 YEAR
  GROUP BY x),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily),
fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
         (CAST(sy AS DOUBLE)
           - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n
           AS intercept
  FROM s)
SELECT d AS day_index,
       intercept + slope * d AS forecast_cents,
       slope, intercept
FROM fit, UNNEST(range(366, 366 + {_TREND_H})) AS u(d)
ORDER BY day_index
"""


@register("trend_forecast_linreg", oracle=_TREND_ORACLE)
def trend_forecast_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-trend forecast: fit OLS revenue-vs-day over one calendar
    year and extrapolate the next week — the trend complement to
    `seasonal_naive_mape`'s seasonal baseline.

    Scale: the fit consumes only the five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²), each an exact int64 sum folded into the ONE
    daily aggregation — no second pass, no covariance matrix, no driver
    math. Slope/intercept/forecast are a fixed IEEE expression tree over
    those integers, mirrored in the oracle, so both engines agree
    bit-for-bit.
    """
    o = load_table(spark, sf_dir, "orders")
    lo, hi = f"{_TREND_YEAR}-01-01", f"{int(_TREND_YEAR) + 1}-01-01"
    daily = (
        o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit(lo).cast("date")).alias("x")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"))
    )
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    fit = s.select(F.col("n"), slope.alias("slope"), intercept.alias("intercept"))
    days = F.explode(
        F.sequence(F.lit(366), F.lit(366 + _TREND_H - 1))
    ).alias("day_index")
    return (
        fit.select(days, "slope", "intercept")
        .select(
            "day_index",
            (F.col("intercept") + F.col("slope") * F.col("day_index")).alias(
                "forecast_cents"
            ),
            "slope",
            "intercept",
        )
        .orderBy("day_index")
    )


# ---------------------------------------------------------------------------
# Sample-based join-cardinality probe (the planner's sanity check)
# ---------------------------------------------------------------------------

#: Deterministic 1-in-K key sample.
_CARD_K = 20

_CARD_ORACLE = f"""
WITH sample_cnt AS (
  SELECT COUNT(*) AS c FROM orders o JOIN lineitem l
    ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % {_CARD_K} = 0),
actual_cnt AS (
  SELECT COUNT(*) AS c FROM orders o JOIN lineitem l
    ON o.o_orderkey = l.l_orderkey)
SELECT s.c * {_CARD_K} AS estimated, a.c AS actual,
       abs(CAST(s.c * {_CARD_K} AS DOUBLE) - a.c) / a.c AS rel_err
FROM sample_cnt s, actual_cnt a
"""


@register("join_cardinality_probe", oracle=_CARD_ORACLE)
def join_cardinality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate a join's output cardinality from a deterministic 1-in-K
    KEY sample (join both sides restricted to sampled keys, scale by K)
    and report it against the true count — the pre-flight probe run
    before committing a 100 TB shuffle strategy, and the correct way to
    sample a join (sampling KEYS keeps matching pairs together; sampling
    ROWS independently on each side underestimates by ~K×).

    Scale: the probe touches 1/K of each side's keys (filter pushed to
    both scans), so its cost is 1/K of the real join; the estimator
    Σ_sampled |a_k|·|b_k| × K is unbiased over key strata. The actual
    count here exists only to expose the error; production runs the
    probe alone.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    sample = (
        o.filter(F.col("o_orderkey") % _CARD_K == 0)
        .join(
            li.filter(F.col("l_orderkey") % _CARD_K == 0),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    actual = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).agg(
        F.count(F.lit(1)).alias("c")
    )
    s, a = sample.select(F.col("c").alias("sc")), actual.select(
        F.col("c").alias("ac")
    )
    return s.crossJoin(a).select(
        (F.col("sc") * _CARD_K).alias("estimated"),
        F.col("ac").alias("actual"),
        (
            F.abs((F.col("sc") * _CARD_K).cast("double") - F.col("ac"))
            / F.col("ac")
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median / MAD (the z-score's heavy-tail twin)
# ---------------------------------------------------------------------------

#: Modified z-score threshold (Iglewicz & Hoaglin 1993) and the
#: consistency constant making MAD estimate sigma under normality.
_MAD_K = 1.4826
_MAD_Z = 3.5

_MAD_ORACLE = f"""
WITH m AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
  FROM m GROUP BY event_type),
dev AS (
  SELECT m.event_type, m.cents, med.med_cents,
         abs(CAST(m.cents AS DOUBLE) - med.med_cents) AS adev
  FROM m JOIN med ON m.event_type = med.event_type),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       MAX(d.med_cents) AS med_cents,
       MAX(mad.mad_cents) AS mad_cents,
       COUNT(*) AS n,
       COUNT(CASE WHEN d.adev > {_MAD_Z} * ({_MAD_K} * mad.mad_cents)
                  THEN 1 END) AS n_outliers
FROM dev d JOIN mad ON d.event_type = mad.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register("mad_outliers", oracle=_MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier counts via median/MAD (modified
    z-score > 3.5) — unlike `anomaly_zscore`'s mean/stddev gate, one
    whale purchase cannot drag the threshold (50% breakdown point).

    Cross-engine exactness without quantized comparisons: values are
    integer CENTS, so the exact interpolated median is x.0 or x.5 — both
    representable — and the absolute deviations are again exact halves;
    the second-level median inherits the property. The only true-double
    term is the fixed 3.5·(1.4826·mad) product, an identical IEEE
    expression in both engines.

    Scale: two groupBy passes over (event_type, cents) — percentile
    state is per-group; at 100 TB swap the exact median for
    percentile_approx with documented tolerance (the sketch twin is
    `percentile_approx_sketch`) or run on the pre-bucketed layout. The
    deviation join broadcasts |event_types| medians.
    """
    e = load_table(spark, sf_dir, "events")
    m = e.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    med = m.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med_cents")
    )
    dev = m.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med_cents"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(
                    F.col("adev") > _MAD_Z * (_MAD_K * F.col("mad_cents")), 1
                )
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Conversion-latency distribution (first purchase after each click)
# ---------------------------------------------------------------------------

@register(
    "time_to_convert",
    oracle="""
    WITH pairs AS (
      SELECT c.event_id AS click_id,
             MIN(CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) // 1000000)
               AS gap_s
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      GROUP BY c.event_id)
    SELECT COUNT(*) AS n_converting_clicks,
           MIN(gap_s) AS min_gap_s,
           quantile_cont(gap_s, 0.5) AS med_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
           MAX(gap_s) AS max_gap_s
    FROM pairs
    """,
)
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every click with a same-user
    purchase inside 30 minutes, the gap to the FIRST such purchase —
    min / median / p90 / max in seconds. The attribution-window tuning
    query behind `interval_join_events`.

    Scale: the interval join keys on user_id (one shuffle); first-
    purchase-per-click is a map-side-combinable MIN groupBy on the
    (already co-partitioned) click id; the distribution rolls the
    per-click gaps into one row. Gaps are exact integer seconds, so the
    interpolated median is an exact half; p90's interpolation is
    rounded to 6dp (the percentile_exact convention).
    """
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    gap_s = (
        F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)") / F.lit(1_000_000)
    ).cast("bigint")
    pairs = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("click_id")
        .agg(F.min(gap_s).alias("gap_s"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_converting_clicks"),
        F.min("gap_s").alias("min_gap_s"),
        F.percentile("gap_s", F.lit(0.5)).alias("med_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation between two daily metrics
# ---------------------------------------------------------------------------

#: Rolling window width (days, inclusive of the current day).
_CORR_DAYS = 30

_CORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 10000 AS rev,
         COUNT(*) AS cnt
  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
w AS (
  SELECT a.d,
         COUNT(*) AS n,
         SUM(b.rev) AS sx, SUM(b.cnt) AS sy,
         CAST(SUM(b.rev * b.cnt) AS BIGINT) AS sxy,
         CAST(SUM(b.rev * b.rev) AS BIGINT) AS sxx,
         CAST(SUM(b.cnt * b.cnt) AS BIGINT) AS syy
  FROM daily a JOIN daily b
    ON b.d <= a.d AND b.d >= a.d - INTERVAL {_CORR_DAYS - 1} DAY
  GROUP BY a.d)
SELECT d,
       n,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         AS corr_rev_cnt
FROM w
WHERE n >= 10
ORDER BY d
"""


@register("window_rolling_corr", oracle=_CORR_ORACLE)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day rolling Pearson correlation between daily revenue and
    daily order count — the drift detector for "are we making more money
    just because we take more orders?". Windows with under 10 days of
    history are suppressed.

    Scale: the base series is one aggregation to |dates| rows; the six
    rolling sufficient statistics ride ONE RANGE window over the tiny
    daily frame (no self-join), and the correlation is a fixed IEEE
    expression over exact int64 sums — deterministic in any engine,
    mirrored in the oracle. The unpartitioned window is safe precisely
    because its input is |dates| rows, not the fact table.
    """
    o = load_table(spark, sf_dir, "orders")
    # revenue in hundred-dollar units (deterministic integer division):
    # keeps Σx² inside int64 headroom at any realistic SF — the raw-cents
    # square overflowed at sf0.1, caught by the larger-SF verify gate
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.expr(
            "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) DIV 10000"
        ).alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # rolling sums via a range self-join of the (broadcast) daily series
    # rather than an UNPARTITIONED range window — same semantics, but no
    # single-partition WindowExec anywhere in the engine (the repo-wide
    # invariant); the nested-loop join is |dates| × window_width pairs,
    # independent of fact-table size.
    hist = daily.select(
        F.col("d").alias("hd"),
        F.col("rev").alias("hrev"),
        F.col("cnt").alias("hcnt"),
    )
    w = (
        daily.join(
            F.broadcast(hist),
            (F.col("hd") <= F.col("d"))
            & (F.col("hd") >= F.date_sub("d", _CORR_DAYS - 1)),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("hrev").alias("sx"),
            F.sum("hcnt").alias("sy"),
            F.sum(F.col("hrev") * F.col("hcnt")).cast("bigint").alias("sxy"),
            F.sum(F.col("hrev") * F.col("hrev")).cast("bigint").alias("sxx"),
            F.sum(F.col("hcnt") * F.col("hcnt")).cast("bigint").alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    corr = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return (
        w.filter(F.col("n") >= 10)
        .select("d", "n", corr.alias("corr_rev_cnt"))
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Geospatial: grid-bucketed distance join (neighbor-cell candidate gen)
# ---------------------------------------------------------------------------

#: Distance threshold (km) and grid cell sizes (degrees), sized so the
#: synthetic globe-scattered customers actually form regional pairs.
#: Latitude degrees are a constant ~111 km, so 5° lat cells cover
#: 500 km; a LONGITUDE degree shrinks by cos(lat) — at the domain edge
#: (60°) it is ~55.7 km, so lon cells must be 10° for the 3×3
#: neighborhood to still cover the radius (a cos-blind narrower lon
#: cell would silently drop far-north/south pairs — caught by the
#: brute-force recall test, NOT by the oracle, which shares the grid).
_GEO_KM = 500.0
_GEO_CELL = 5.0
_GEO_CELL_LON = 10.0
#: longitude cells wrap modulo this count so the 3×3 neighborhood
#: covers the ±180° antimeridian (a point at lon −179.9° and one at
#: +179.9° are ~22 km apart at the equator and MUST be candidates)
_GEO_N_LON_CELLS = int(360 / _GEO_CELL_LON)
_EARTH_KM = 6371.0

_GEO_HAVERSINE = (
    "2 * {R} * asin(sqrt("
    "sin(radians(({lat2} - {lat1}) / 2)) * sin(radians(({lat2} - {lat1}) / 2))"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * sin(radians(({lon2} - {lon1}) / 2)) * sin(radians(({lon2} - {lon1}) / 2))"
    "))"
).format


def _geo_oracle() -> str:
    from ai_etl_studio_spark.functions.texthash import sql_md5_hash32

    lat = (
        f"-60.0 + ({sql_md5_hash32('CAST(c_custkey AS VARCHAR)')} % 12000)"
        " / 100.0"
    )
    lon = (
        f"-180.0 + ({sql_md5_hash32(chr(39) + 'lon:' + chr(39) + ' || CAST(c_custkey AS VARCHAR)')} % 36000)"
        " / 100.0"
    )
    hav = _GEO_HAVERSINE(R=_EARTH_KM, lat1="a.lat", lat2="b.lat", lon1="a.lon", lon2="b.lon")
    n_lon = _GEO_N_LON_CELLS
    return f"""
    WITH pts AS (
      SELECT c_custkey AS key, c_nationkey,
             {lat} AS lat, {lon} AS lon
      FROM customer),
    cells AS (
      SELECT *, CAST(floor(lat / {_GEO_CELL}) AS BIGINT) AS cx,
                ((CAST(floor(lon / {_GEO_CELL_LON}) AS BIGINT) % {n_lon})
                 + {n_lon}) % {n_lon} AS cy
      FROM pts),
    probe AS (
      SELECT key, c_nationkey, lat, lon, cx + dx AS cx,
             ((cy + dy) % {n_lon} + {n_lon}) % {n_lon} AS cy
      FROM cells, UNNEST([-1, 0, 1]) AS u(dx), UNNEST([-1, 0, 1]) AS v(dy)),
    pairs AS (
      SELECT a.c_nationkey
      FROM cells a JOIN probe b ON a.cx = b.cx AND a.cy = b.cy
        AND a.key < b.key AND a.c_nationkey = b.c_nationkey
      WHERE {hav} <= {_GEO_KM})
    SELECT n.n_name, COUNT(*) AS n_close_pairs
    FROM pairs p JOIN nation n ON p.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """


@register("geo_grid_join", oracle=_geo_oracle())
def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial distance self-join: pairs of same-nation customers
    within 500 km, counted per nation. Coordinates are synthesized
    deterministically from the md5 hash family (the corpus has no geo
    columns; the MECHANICS — haversine, grid bucketing — are the real
    operator).

    Scale design — the classic spatial-join shape Spark lacks natively:
    an exact all-pairs haversine join is O(n²); instead each point gets
    a lat/lon grid cell sized to the radius, ONE side replicates to its 3×3 neighbor cells
    (9× a narrow frame), and the equi-join on (cell_x, cell_y) makes
    candidate generation linear in occupied-cell density. The exact
    haversine then filters candidates only. Same pattern as LSH
    band-join dedup: bucket, join on bucket equality, verify exactly.
    Both engines evaluate the identical IEEE haversine expression tree,
    so the threshold compare cannot diverge.
    """
    from ai_etl_studio_spark.functions.texthash import md5_hash32

    c = load_table(spark, sf_dir, "customer")
    lat = (
        F.lit(-60.0)
        + (md5_hash32(F.col("c_custkey").cast("string")) % 12000) / 100.0
    )
    lon = (
        F.lit(-180.0)
        + (
            md5_hash32(F.concat(F.lit("lon:"), F.col("c_custkey").cast("string")))
            % 36000
        )
        / 100.0
    )
    # identical ((x % n) + n) % n wrap in both engines — cy lives in
    # [0, n) and the antimeridian cells 0 and n-1 are neighbors
    def wrap_lon_cell(cell: Column) -> Column:
        n = F.lit(_GEO_N_LON_CELLS)
        return ((cell % n) + n) % n

    pts = c.select(
        F.col("c_custkey").alias("key"),
        "c_nationkey",
        lat.alias("lat"),
        lon.alias("lon"),
    ).select(
        "*",
        F.floor(F.col("lat") / _GEO_CELL).alias("cx"),
        wrap_lon_cell(F.floor(F.col("lon") / _GEO_CELL_LON)).alias("cy"),
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("o")
    probe = pts.select(
        F.col("key").alias("b_key"),
        F.col("c_nationkey").alias("b_nat"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        "cx",
        "cy",
        offsets,
    ).select(
        "b_key",
        "b_nat",
        "b_lat",
        "b_lon",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        wrap_lon_cell(F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    half_dlat = F.radians((F.col("b_lat") - F.col("lat")) / 2)
    half_dlon = F.radians((F.col("b_lon") - F.col("lon")) / 2)
    hav = (
        2
        * _EARTH_KM
        * F.asin(
            F.sqrt(
                F.sin(half_dlat) * F.sin(half_dlat)
                + F.cos(F.radians("lat"))
                * F.cos(F.radians("b_lat"))
                * F.sin(half_dlon)
                * F.sin(half_dlon)
            )
        )
    )
    pairs = (
        pts.join(probe, ["cx", "cy"])
        .filter(
            (F.col("key") < F.col("b_key"))
            & (F.col("c_nationkey") == F.col("b_nat"))
        )
        .filter(hav <= _GEO_KM)
        .select("c_nationkey")
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        pairs.join(F.broadcast(n), pairs.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_close_pairs"))
        .orderBy("n_name")
    )


#: Market-basket top-k and the lift quantization (micro-ticks).
BASKET_K = 50
_LIFT_TICK = 1_000_000


@register(
    "basket_pairs",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pair AS (
      SELECT a.pk AS part_1, b.pk AS part_2, COUNT(*) AS support
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk),
    pc AS (SELECT pk, COUNT(*) AS cnt FROM items GROUP BY pk),
    tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
    scored AS (
      SELECT part_1, part_2, support,
             (2 * support * n_orders * {_LIFT_TICK} + c1.cnt * c2.cnt)
               // (2 * c1.cnt * c2.cnt) AS lift_ticks
      FROM pair
      JOIN pc c1 ON part_1 = c1.pk
      JOIN pc c2 ON part_2 = c2.pk
      CROSS JOIN tot)
    SELECT part_1, part_2, support, lift_ticks
    FROM scored
    ORDER BY support DESC, part_1, part_2
    LIMIT {BASKET_K}
    """,
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts co-purchased in the same order,
    with support (co-occurrence count) and lift = P(a,b)/(P(a)·P(b)) —
    the association-rule primitive behind "customers who bought X also
    bought Y" and, in corpus work, behind tag/feature co-occurrence
    mining.

    Scale: ONE basket-key shuffle builds the per-order sorted part set
    (collect_set, map-side combined), materialized once for its three
    consumers; the i<j pair combinations then generate MAP-SIDE from
    the array via nested higher-order transforms — no distinct pass, no
    self-join, no second corpus exchange (the first cut paid 13
    exchanges for the same answer; this shape pays 7). Per-basket
    fan-out is bounded by basket size squared (≤7 lineitems by schema;
    a pathological mega-basket would take the LSH-style per-basket
    cap). Per-part counts and the 1-row order total join back
    hint-free (aggregate-reduced; AQE broadcasts them); lift is exact
    integer arithmetic — round(a/b) computed as (2a+b)//(2b) in BOTH
    engines, so no float division ever orders a result. Top-k via
    TakeOrderedAndProject heaps.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket-key shuffle: per-order sorted part set, materialized
    # once (three consumers — pairs, per-part counts, order total —
    # would otherwise re-scan lineitem and re-shuffle each)
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint()
    )
    # pair generation is MAP-SIDE from the sorted array (i<j combos via
    # nested higher-order transforms) — the r4-initial distinct +
    # self-join shape paid two extra exchanges for the same pairs
    combos = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("part_1"), y.alias("part_2")),
            ),
        )
    )
    pair = (
        baskets.select(F.explode(combos).alias("p"))
        .select("p.part_1", "p.part_2")
        .groupBy("part_1", "part_2")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    pc = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    c1 = pc.select(F.col("pk").alias("part_1"), F.col("cnt").alias("cnt_1"))
    c2 = pc.select(F.col("pk").alias("part_2"), F.col("cnt").alias("cnt_2"))
    lift = F.expr(
        f"(2 * support * n_orders * {_LIFT_TICK} + cnt_1 * cnt_2)"
        " DIV (2 * cnt_1 * cnt_2)"
    )
    return (
        pair.join(c1, "part_1")
        .join(c2, "part_2")
        .crossJoin(F.broadcast(tot))
        .select("part_1", "part_2", "support", lift.alias("lift_ticks"))
        .orderBy(F.desc("support"), "part_1", "part_2")
        .limit(BASKET_K)
    )


#: Chi-square cell-contribution quantization (micro-ticks).
_CHI2_TICK = 1_000_000


@register(
    "chi_square_independence",
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
    rt AS (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS c FROM obs GROUP BY source),
    tot AS (SELECT SUM(o) AS n FROM obs),
    dims AS (
      SELECT (SELECT COUNT(*) FROM rt) AS n_rows_dim,
             (SELECT COUNT(*) FROM ct) AS n_cols_dim),
    cells AS (
      SELECT l.lang, c2.source,
             COALESCE(o.o, 0) AS o, l.r, c2.c, t.n
      FROM rt l CROSS JOIN ct c2 CROSS JOIN tot t
      LEFT JOIN obs o ON o.lang = l.lang AND o.source = c2.source),
    ticks AS (
      SELECT SUM(CAST(round(
               pow(CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c, 2)
               / (CAST(n AS DOUBLE) * r * c) * {_CHI2_TICK}, 0) AS BIGINT))
               AS chi2_ticks
      FROM cells)
    SELECT CAST(t.chi2_ticks AS BIGINT) AS chi2_ticks,
           CAST((d.n_rows_dim - 1) * (d.n_cols_dim - 1) AS BIGINT) AS dof,
           CAST((SELECT n FROM tot) AS BIGINT) AS n
    FROM ticks t CROSS JOIN dims d
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between document language
    and source — "is the lang mix the same across sources?", the
    contingency-table readout behind drift monitors and stratification
    checks (complements ab_test_ztest's two-sample mean test).

    Scale: ONE groupBy over the corpus reduces everything to the
    |langs|×|sources| contingency table; marginals, the zero-cell
    completion (cross join of the two tiny marginal frames), and the
    statistic all run on that sketch-sized table. Per-cell
    contributions (o·n − r·c)²/(n·r·c) are evaluated on exact integer
    counts (every product ≤ 2^53, so the IEEE doubles agree
    bit-for-bit across engines) and quantized to integer micro-ticks
    BEFORE the final sum — distributed float summation never happens.
    """
    d = load_table(spark, sf_dir, "documents")
    # materialize the tiny contingency table once: every marginal /
    # total / cell consumer reads it, not the corpus (without this the
    # plan re-scans documents 7x — cf. collocation_pmi's checkpoint)
    obs = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()
    )
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["lang", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    cell_ticks = F.round(
        F.pow(F.col("o").cast("double") * F.col("n")
              - F.col("r").cast("double") * F.col("c"), 2)
        / (F.col("n").cast("double") * F.col("r") * F.col("c"))
        * _CHI2_TICK,
        0,
    ).cast("bigint")
    ticks = cells.agg(F.sum(cell_ticks).alias("chi2_ticks"))
    dims = rt.agg(F.count(F.lit(1)).alias("n_rows_dim")).crossJoin(
        ct.agg(F.count(F.lit(1)).alias("n_cols_dim"))
    )
    return (
        ticks.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(tot))
        .select(
            "chi2_ticks",
            ((F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1)).alias("dof"),
            "n",
        )
    )


#: Attribution lookback: a conversion credits its latest touch within
#: this many microseconds (72 h); older touches → 'direct'.
_ATTR_LOOKBACK_US = 72 * 3600 * 1_000_000
_ATTR_TOUCHES = ("click", "view")


def _attr_bases(spark: SparkSession, sf_dir: str):
    """The two pruned event projections every attribution model derives
    its frames from: (touches: user_id/ts/event_id/event_type for
    click+view rows, purchases: user_id/ts/event_id/value). Standalone
    models inline these (identical plan to building them in place —
    Catalyst collapses the adjacent projections); the model-comparison
    op localCheckpoints them ONCE so its three pipelines share two
    pushed-filter scans instead of re-reading events 12 times (r11)."""
    e = load_table(spark, sf_dir, "events")
    t = e.filter(F.col("event_type").isin(*_ATTR_TOUCHES)).select(
        "user_id", "ts", "event_id", "event_type"
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return t, p


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE event_type IN ('click', 'view')),
    lt AS (
      SELECT p.event_id AS pid, p.cents,
             (SELECT t.event_type FROM t
              WHERE t.user_id = p.user_id AND t.ts <= p.ts
                AND epoch_us(p.ts) - epoch_us(t.ts) <= {_ATTR_LOOKBACK_US}
              ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS channel
      FROM p)
    SELECT COALESCE(channel, 'direct') AS channel,
           COUNT(*) AS n_conversions,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM lt
    GROUP BY COALESCE(channel, 'direct')
    ORDER BY channel
    """,
)
def attribution_last_touch(
    spark: SparkSession, sf_dir: str, _bases=None
) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits the
    user's most recent click/view within a 72 h lookback (none →
    'direct'), rolled up to conversions + exact revenue per channel —
    the revenue-allocation query every growth team runs.

    Scale: the union-tag + one-window as-of pattern (cf. asof_join):
    touches and purchases union (metadata-only), ONE shuffle partitions
    by user, and last(touch, ignorenulls) over the preceding-rows frame
    carries a single row of state per user — never an inequality
    self-join (quadratic per user) and never a per-conversion probe.
    The oracle is the independent correlated-subquery formulation; the
    tie at equal timestamps breaks to the larger event_id in both.
    Revenue stays integer cents end to end.
    """
    tbase, pbase = _bases or _attr_bases(spark, sf_dir)
    touches = tbase.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("tag"),
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("channel"),
        ).alias("touch"),
        F.lit(None).cast("bigint").alias("cents"),
    )
    purch = pbase.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("tag"),
        F.lit(None)
        .cast("struct<t_us:bigint,t_id:bigint,channel:string>")
        .alias("touch"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = touches.unionByName(purch).withColumn(
        "last_touch", F.last("touch", ignorenulls=True).over(w)
    )
    conv = tagged.filter(F.col("tag") == 1).select(
        "cents",
        F.when(
            F.col("last_touch").isNotNull()
            & (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.col("last_touch.t_us")
                <= _ATTR_LOOKBACK_US
            ),
            F.col("last_touch.channel"),
        )
        .otherwise("direct")
        .alias("channel"),
    )
    return (
        conv.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


#: Survival-analysis study end (fixed anchor, cf. the no-current_date
#: rule in SCALE.md) and the ln-survival quantization.
_KM_ANCHOR = "2024-01-31 00:00:00"
_KM_TICK = 1_000_000_000
#: Terminal step (d == n_at_risk -> survival 0): ln(0) is undefined, so
#: the step contributes this sentinel instead — exp(sentinel/1e9) == 0
#: to double precision, and the curve stays exact int64.
_KM_ZERO_TICKS = -(10 ** 12)
_US_PER_DAY = 86_400_000_000


@register(
    "survival_km",
    oracle=f"""
    WITH su AS (
      SELECT user_id, MIN(ts) AS start_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    fp AS (
      SELECT e.user_id, MIN(e.ts) AS ev_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.start_ts
      GROUP BY e.user_id),
    subj AS (
      SELECT su.user_id % 2 AS cohort,
             CASE WHEN fp.ev_ts IS NOT NULL
               THEN (epoch_us(fp.ev_ts) - epoch_us(su.start_ts)) // {_US_PER_DAY}
               ELSE (epoch_us(TIMESTAMP '{_KM_ANCHOR}')
                     - epoch_us(su.start_ts)) // {_US_PER_DAY} END AS day,
             CASE WHEN fp.ev_ts IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM su LEFT JOIN fp ON su.user_id = fp.user_id),
    risk AS (
      SELECT cohort, day,
             CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) - SUM(event) AS BIGINT) AS censored
      FROM subj GROUP BY cohort, day),
    tot AS (SELECT cohort, COUNT(*) AS n0 FROM subj GROUP BY cohort),
    at_risk AS (
      SELECT r.cohort, r.day, r.d, r.censored,
             t.n0 - COALESCE(SUM(r.d + r.censored) OVER (
               PARTITION BY r.cohort ORDER BY r.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM risk r JOIN tot t ON r.cohort = t.cohort),
    steps AS (
      SELECT *, CASE WHEN d = 0 THEN 0
               WHEN d < n_at_risk THEN
               CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                          * {_KM_TICK}, 0) AS BIGINT)
               ELSE {_KM_ZERO_TICKS} END AS step_ticks
      FROM at_risk)
    SELECT cohort, day, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_events,
           censored AS n_censored,
           CAST(SUM(step_ticks) OVER (
             PARTITION BY cohort ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS ln_surv_ticks
    FROM steps
    ORDER BY cohort, day
    """,
)
def survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve per cohort: time from signup to
    first purchase, censored at the fixed study end — the
    time-to-event readout behind churn, conversion-lag, and retention
    duration analyses (cohorts = user_id parity, standing in for the
    experiment hash).

    Scale: subjects reduce to one (cohort, day, event) row each via two
    per-user aggregations (signup min, first qualifying purchase), and
    the KM machinery — at-risk counts, hazard steps, the cumulative
    log-survival — runs entirely on the (cohort × ≤31 days) risk
    table: window frames over dozens of rows, not events. Each step's
    ln(1 − d/n) is quantized to integer nano-ticks BEFORE the running
    sum (the surprisal determinism pattern), so the curve is exact
    int64 and the survival probability is recoverable as
    exp(ticks/1e9) by any consumer.
    """
    e = load_table(spark, sf_dir, "events")
    # the signup frame feeds the purchase join AND the subject build —
    # materialize (|users| narrow rows) so events scans once per side
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"))
        .localCheckpoint()
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("start_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ev_ts"))
    )
    anchor_us = F.unix_micros(F.lit(_KM_ANCHOR).cast("timestamp"))
    start_us = F.unix_micros(F.col("start_ts").cast("timestamp"))
    ev_us = F.unix_micros(F.col("ev_ts").cast("timestamp"))
    subj = su.join(fp, "user_id", "left").select(
        (F.col("user_id") % 2).alias("cohort"),
        F.when(
            F.col("ev_ts").isNotNull(),
            ((ev_us - start_us) / _US_PER_DAY).cast("bigint"),
        )
        .otherwise(((anchor_us - start_us) / _US_PER_DAY).cast("bigint"))
        .alias("day"),
        F.when(F.col("ev_ts").isNotNull(), 1).otherwise(0).alias("event"),
    ).localCheckpoint()  # risk table + cohort totals both read subjects
    risk = subj.groupBy("cohort", "day").agg(
        F.sum("event").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("event")).cast("bigint").alias("censored"),
    )
    tot = subj.groupBy("cohort").agg(F.count(F.lit(1)).alias("n0"))
    w_prev = (
        Window.partitionBy("cohort")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    at_risk = risk.join(tot, "cohort").select(
        "cohort",
        "day",
        "d",
        "censored",
        (
            F.col("n0")
            - F.coalesce(
                F.sum(F.col("d") + F.col("censored")).over(w_prev), F.lit(0)
            )
        ).alias("n_at_risk"),
    )
    step = (
        F.when(F.col("d") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("d") < F.col("n_at_risk"),
            F.round(
                F.log(
                    F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")
                )
                * _KM_TICK,
                0,
            ).cast("bigint"),
        )
        .otherwise(F.lit(_KM_ZERO_TICKS).cast("bigint"))
    )
    w_cum = (
        Window.partitionBy("cohort")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        at_risk.withColumn("step_ticks", step)
        .select(
            "cohort",
            "day",
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            F.col("censored").alias("n_censored"),
            F.sum("step_ticks").over(w_cum).cast("bigint").alias("ln_surv_ticks"),
        )
        .orderBy("cohort", "day")
    )


# ---------------------------------------------------------------------------
# Hour-of-day load profile per event type
# ---------------------------------------------------------------------------

@register(
    "hourly_seasonality_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hr)
    SELECT event_type, hr, n,
           CAST(round(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
             * 1000000000, 0) AS BIGINT) AS share_ticks
    FROM h ORDER BY event_type, hr
    """,
)
def hourly_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile: each event type's traffic share by UTC
    hour — the capacity-planning / batch-window query ("when is this
    stream quiet"), and the baseline hourly anomaly detectors diff
    against.

    Scale: events reduce to ≤ |types|×24 cells in ONE map-side-
    combinable count; the share normalization is a window over that
    tiny table with the division quantized to nanoticks.
    """
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("event_type")).cast("double")
    return (
        h.select(
            "event_type",
            "hr",
            "n",
            F.round(F.col("n").cast("double") / tot * 1_000_000_000, 0)
            .cast("bigint")
            .alias("share_ticks"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Log2-bucketed user-degree distribution
# ---------------------------------------------------------------------------

@register(
    "degree_distribution",
    oracle="""
    WITH deg AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS d
      FROM events GROUP BY user_id)
    SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY log2_bucket ORDER BY log2_bucket
    """,
)
def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed distribution of per-user event counts — the graph
    degree histogram that sizes skew mitigation (how heavy is the
    heaviest key class) and checks the activity tail before a
    user-keyed join.

    Scale: one user-keyed count (map-side combine) then a ~32-row
    histogram. The log2 bucket is floor(log2(d)) computed EXACTLY as
    binary-representation length - 1 — integer logic in both engines,
    immune to the ulp-at-power-of-2 hazard a double log2 would carry.
    """
    e = load_table(spark, sf_dir, "events")
    deg = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    return (
        deg.groupBy(
            (F.length(F.bin("d")) - 1).cast("bigint").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("d").cast("bigint").alias("min_degree"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness
# ---------------------------------------------------------------------------

@register(
    "dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    spine AS (SELECT DISTINCT day FROM ud),
    j AS (
      SELECT s.day, ud.user_id, ud.day AS uday
      FROM spine s JOIN ud
        ON ud.day BETWEEN s.day - INTERVAL 6 DAY AND s.day)
    SELECT day,
           CAST(COUNT(DISTINCT CASE WHEN uday = day THEN user_id END)
             AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
           CAST(round(
             CAST(COUNT(DISTINCT CASE WHEN uday = day THEN user_id END)
               AS DOUBLE)
             / CAST(COUNT(DISTINCT user_id) AS DOUBLE) * 1000000000, 0)
             AS BIGINT) AS stickiness_ticks
    FROM j GROUP BY day ORDER BY day
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly active users and the DAU/WAU stickiness ratio per
    day — the product-health metric ("what share of this week's users
    showed up today").

    Scale: events reduce to DISTINCT (user, day) in one shuffle; the
    trailing-7-day membership is a range join against the TINY
    calendar spine (calendar-bounded broadcast — ≤7× fan-out of
    user-days, never events²), and both actives counts come from ONE
    distinct-aggregate pass with dau as a conditional distinct. The
    ratio is mirrored IEEE division quantized to nanoticks.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().localCheckpoint()  # user-day reduction, 2 consumers
    spine = ud.select("day").distinct()
    j = ud.alias("ud").join(
        F.broadcast(spine.alias("s")),
        F.col("ud.day").between(F.date_sub(F.col("s.day"), 6), F.col("s.day")),
    )
    dau = F.countDistinct(
        F.when(F.col("ud.day") == F.col("s.day"), F.col("ud.user_id"))
    ).cast("bigint")
    wau = F.countDistinct("ud.user_id").cast("bigint")
    return (
        j.groupBy(F.col("s.day").alias("day"))
        .agg(
            dau.alias("dau"),
            wau.alias("wau"),
            F.round(dau.cast("double") / wau.cast("double") * 1_000_000_000, 0)
            .cast("bigint")
            .alias("stickiness_ticks"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Inter-event gap histogram (log2 microsecond buckets)
# ---------------------------------------------------------------------------

@register(
    "interevent_gap_histogram",
    oracle="""
    WITH g AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT CAST(length(bin(gap_us)) - 1 AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY log2_bucket ORDER BY log2_bucket
    """,
)
def interevent_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-user inter-event gaps in log2 microsecond
    buckets — the evidence behind a session-timeout choice (the valley
    between the in-session mode and the between-session mode is where
    sessionize's 30-minute threshold should sit).

    Scale: ONE shuffle partitions events by user for the lag window
    (single-row lookahead state); gaps then reduce to ≤ ~50 log2
    buckets map-side. The bucket is binary-length − 1 — exact integer
    logic, no double log2.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = e.select((us - F.lag(us).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return (
        g.groupBy(
            (F.length(F.bin("gap_us")) - 1).cast("bigint").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_us").cast("bigint").alias("min_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# Daily growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------

@register(
    "growth_accounting_daily",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    c AS (
      SELECT day,
             CASE WHEN day = MIN(day) OVER (PARTITION BY user_id)
                  THEN 'new'
                  WHEN day = lag(day) OVER (PARTITION BY user_id
                                            ORDER BY day) + INTERVAL 1 DAY
                  THEN 'retained'
                  ELSE 'resurrected' END AS klass
      FROM ud),
    d AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
             CAST(SUM(CASE WHEN klass = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN klass = 'retained' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN klass = 'resurrected' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_resurrected
      FROM c GROUP BY day)
    SELECT day, dau, n_new, n_retained, n_resurrected,
           CAST(lag(dau) OVER (ORDER BY day) - n_retained AS BIGINT)
             AS n_churned
    FROM d ORDER BY day
    """,
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as new
    (first day ever), retained (also active the previous calendar day)
    or resurrected (returning after a gap), plus churned = yesterday's
    actives who didn't return — the decomposition DAU movements are
    actually explained with.

    Scale: events reduce to DISTINCT (user, day), then ONE user-
    partitioned window pass classifies every user-day (min + lag,
    single-row state); the calendar rollup is a tiny |days| table and
    churn is a 1-row lag window over it. NULL churn on the first day
    is honest (no prior day), mirrored in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w_u = Window.partitionBy("user_id").orderBy("day")
    klass = (
        F.when(F.col("day") == F.min("day").over(Window.partitionBy("user_id")), "new")
        .when(F.col("day") == F.date_add(F.lag("day").over(w_u), 1), "retained")
        .otherwise("resurrected")
    )
    c = ud.select("day", klass.alias("klass"))
    d = c.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau"),
        F.sum(F.when(F.col("klass") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("klass") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.when(F.col("klass") == "resurrected", 1).otherwise(0))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    w_d = Window.orderBy("day")  # |days| rows
    return d.select(
        "day",
        "dau",
        "n_new",
        "n_retained",
        "n_resurrected",
        (F.lag("dau").over(w_d) - F.col("n_retained"))
        .cast("bigint")
        .alias("n_churned"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Watermark / allowed-lateness advisor
# ---------------------------------------------------------------------------

#: Arrival-order bucket width for the bucketed running max.
_WM_BUCKET = 1_000


@register(
    "watermark_lateness_advisor",
    oracle="""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS ts_us FROM events),
    r AS (
      SELECT event_id, ts_us,
             MAX(ts_us) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS run_max_excl
      FROM e),
    l AS (
      SELECT CASE WHEN run_max_excl IS NULL OR run_max_excl <= ts_us
                  THEN CAST(-1 AS BIGINT)
                  ELSE CAST(length(bin(run_max_excl - ts_us)) - 1 AS BIGINT)
             END AS log2_bucket,
             CASE WHEN run_max_excl > ts_us
                  THEN run_max_excl - ts_us ELSE 0 END AS late_us
      FROM r)
    SELECT log2_bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM l GROUP BY log2_bucket ORDER BY log2_bucket
    """,
)
def watermark_lateness_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream in arrival order
    (event_id): for each event, how far behind the running event-time
    high-water mark it arrived, bucketed in log2 microseconds (−1 =
    in order) — the evidence a withWatermark() allowed-lateness choice
    should come from, instead of a guess.

    Scale: the running max over arrival order is the bucketed-prefix
    machinery with MAX instead of SUM — per-bucket exclusive-cummax
    windows run in parallel and each bucket's carry-in is a cummax
    window over the TINY per-bucket-max table; no single-partition
    pass over events. The checkpointed (event_id, ts_us) projection
    feeds both levels; lateness histograms reduce map-side.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn(
        "bkt", (F.col("event_id") / _WM_BUCKET).cast("bigint")
    ).localCheckpoint()  # per-bucket windows + bucket maxes, one scan
    per_bkt = base.groupBy("bkt").agg(F.max("ts_us").alias("bmax"))
    w_carry = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = per_bkt.select(
        "bkt", F.max("bmax").over(w_carry).alias("carry_max")
    )
    w_loc = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # NULL-aware running max: first row of first bucket has neither a
    # local nor a carried prefix (greatest() would swallow one NULL)
    run_max = (
        F.when(F.col("loc_max").isNull(), F.col("carry_max"))
        .when(F.col("carry_max").isNull(), F.col("loc_max"))
        .otherwise(F.greatest("loc_max", "carry_max"))
    )
    r = (
        base.withColumn("loc_max", F.max("ts_us").over(w_loc))
        .join(carry, "bkt")
        .select("ts_us", run_max.alias("run_max_excl"))
    )
    late = F.when(
        F.col("run_max_excl").isNull()
        | (F.col("run_max_excl") <= F.col("ts_us")),
        F.lit(-1).cast("bigint"),
    ).otherwise(
        (F.length(F.bin(F.col("run_max_excl") - F.col("ts_us"))) - 1).cast(
            "bigint"
        )
    )
    late_us = F.when(
        F.col("run_max_excl") > F.col("ts_us"),
        F.col("run_max_excl") - F.col("ts_us"),
    ).otherwise(F.lit(0))
    return (
        r.select(late.alias("log2_bucket"), late_us.alias("late_us"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# Event-type affinity (user-level co-occurrence)
# ---------------------------------------------------------------------------

@register(
    "event_type_affinity",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events),
    sz AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ut GROUP BY event_type),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
    pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS co_users
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
    SELECT pr.type_a, pr.type_b, pr.co_users, sa.n AS n_a, sb.n AS n_b,
           CAST(round(CAST(pr.co_users AS DOUBLE) * CAST(t.n_users AS DOUBLE)
             / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))
             * 1000000, 0) AS BIGINT) AS lift_micro
    FROM pr
    JOIN sz sa ON pr.type_a = sa.event_type
    JOIN sz sb ON pr.type_b = sb.event_type
    CROSS JOIN tot t
    ORDER BY pr.type_a, pr.type_b
    """,
)
def event_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level co-occurrence lift between event types ("do users
    who search also purchase?"): for every type pair, the users doing
    both and the lift vs independence — the feature-adoption affinity
    matrix.

    Scale: events reduce to DISTINCT (user, type) — bounded by
    users × |types| — and that checkpointed table serves sizes,
    totals, and the user-keyed self-join whose fan-out is at most
    C(|types|,2) per user, never events². Lift is one mirrored double
    expression over the tiny pair matrix, quantized to microticks.
    """
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct().localCheckpoint()
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = ut.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    a, b = ut.alias("a"), ut.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_users"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    lift = F.round(
        F.col("co_users").cast("double")
        * F.col("n_users").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        * 1_000_000,
        0,
    ).cast("bigint")
    return (
        pr.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select("type_a", "type_b", "co_users", "n_a", "n_b", lift.alias("lift_micro"))
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Exact per-group deciles (bucketed grouped ECDF)
# ---------------------------------------------------------------------------

#: Value-bucket width (cents) for the grouped decile machinery.
_DEC_BUCKET_CENTS = 100_000


@register(
    "event_value_deciles_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    pv AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY event_type, v),
    c AS (
      SELECT event_type, v,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
               AS BIGINT) AS cum
      FROM pv),
    t AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
      FROM pv GROUP BY event_type),
    ds AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS d),
    sp AS (
      SELECT event_type, d, (d * n + 9) // 10 AS thr FROM t, ds)
    SELECT sp.event_type, sp.d AS decile,
           CAST(MIN(CASE WHEN c.cum >= sp.thr THEN c.v END) AS BIGINT)
             AS v_cents
    FROM c JOIN sp ON c.event_type = sp.event_type
    GROUP BY sp.event_type, sp.d
    ORDER BY sp.event_type, sp.d
    """,
)
def event_value_deciles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact value deciles per event type — the per-segment latency/
    value SLO table (p10..p90 without approximation), showing the
    bucketed-ECDF machinery generalizes to GROUPED exact quantiles.

    Scale: per-(type, value) counts reduce once (checkpointed); the
    cumulative counts run in per-(type, value-bucket) windows with
    per-type bucket offsets from the tiny occupied-bucket table; each
    decile is a conditional MIN against the broadcast |types|×9
    integer-ceil threshold spine. No percentile_approx, no global
    sort, no driver collect.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pv = (
        e.select("event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("bkt", (F.col("v") / _DEC_BUCKET_CENTS).cast("bigint"))
        .localCheckpoint()
    )
    per_bkt = pv.groupBy("event_type", "bkt").agg(F.sum("c").alias("bc"))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bkt.select(
        "event_type",
        "bkt",
        F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("off"),
    )
    t = pv.groupBy("event_type").agg(F.sum("c").cast("bigint").alias("n"))
    w_in = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = (
        pv.withColumn("loc", F.sum("c").over(w_in))
        .join(offsets, ["event_type", "bkt"])
        .select("event_type", "v", (F.col("off") + F.col("loc")).alias("cum"))
    )
    sp = t.select(
        "event_type",
        F.explode(F.array(*[F.lit(d) for d in range(1, 10)])).alias("d"),
        "n",
    ).select(
        "event_type", "d", ((F.col("d") * F.col("n") + 9) / 10).cast("bigint").alias("thr")
    )
    return (
        c.join(F.broadcast(sp), "event_type")
        .groupBy("event_type", F.col("d").alias("decile"))
        .agg(
            F.min(F.when(F.col("cum") >= F.col("thr"), F.col("v")))
            .cast("bigint")
            .alias("v_cents")
        )
        .orderBy("event_type", "decile")
    )


# ---------------------------------------------------------------------------
# A/B assignment sample-ratio-mismatch check
# ---------------------------------------------------------------------------

@register(
    "ab_srm_check",
    oracle="""
    WITH a AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM (SELECT DISTINCT user_id FROM events) u)
    SELECT n_a, n_b,
           CAST(round(
             CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
             / CAST(n_a + n_b AS DOUBLE) * 1000000, 0) AS BIGINT)
             AS chi2_micro,
           CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE) > 3.841 THEN 1 ELSE 0 END
             AS srm_flag
    FROM a
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the user_id%2 A/B assignment
    ab_test_ztest relies on: a 1-df chi-square of the 50/50 split
    ((n_a−n_b)²/(n_a+n_b) against the 3.841 critical value) — the
    FIRST check an experiment readout must pass, because a skewed
    assignment invalidates the z-test before it runs.

    Scale: distinct users reduce in one pass, the two arm counts are
    conditional sums in one aggregate, and the statistic is a 1-row
    mirrored expression in microticks.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    a = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    chi2 = ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))).cast(
        "double"
    ) / (F.col("n_a") + F.col("n_b")).cast("double")
    return a.select(
        "n_a",
        "n_b",
        F.round(chi2 * 1_000_000, 0).cast("bigint").alias("chi2_micro"),
        F.when(chi2 > 3.841, 1).otherwise(0).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# STL-lite weekly decomposition of the daily revenue series
# ---------------------------------------------------------------------------

@register(
    "stl_decompose_weekly",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    tr AS (
      SELECT d, rev,
             CAST(SUM(rev) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend7,
             CAST(COUNT(*) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS k,
             (CAST(d - DATE '1970-01-01' AS BIGINT)) % 7 AS dow
      FROM daily),
    det AS (
      SELECT d, dow, rev, trend7, CAST(7 * rev - trend7 AS BIGINT) AS det7
      FROM tr WHERE k = 7),
    seas AS (
      SELECT d, dow, rev, trend7, det7,
             CAST(round(CAST(SUM(det7) OVER (PARTITION BY dow) AS DOUBLE)
               / CAST(COUNT(*) OVER (PARTITION BY dow) AS DOUBLE), 0)
               AS BIGINT) AS seas7
      FROM det)
    SELECT d, CAST(dow AS BIGINT) AS dow, rev AS rev_cents,
           trend7 AS trend7_cents, det7 AS det7_cents, seas7 AS seas7_cents,
           CAST(det7 - seas7 AS BIGINT) AS resid7_cents
    FROM seas ORDER BY d
    """,
)
def stl_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of daily revenue into trend + weekly
    seasonal + remainder: trend is the 7-day centered moving sum,
    seasonality is the per-weekday mean of the detrended series, and
    the residual is what anomaly detectors should actually look at
    (seasonal_naive_mape forecasts the series; this EXPLAINS it).

    Exactness: everything is kept at 7× scale so the moving average
    never divides — det7 = 7·rev − trend7 is exact int64; the per-DOW
    seasonal mean is ONE division of two exactly-known int64s (sum,
    count), rounded identically in both engines; the residual is again
    integer subtraction. Days-since-epoch mod 7 is the locale-free
    weekday.

    Scale: orders reduce to one row per day before any window; the
    centered-MA window runs over the |days|-row series (the documented
    bounded-window exception) and the seasonal means run in 7 tiny DOW
    partitions. Edge policy: the first/last 3 days (incomplete 7-day
    frame) are excluded rather than padded — k = 7 is the contract.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("rev")
    )
    w_ma = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "rev",
        F.sum("rev").over(w_ma).cast("bigint").alias("trend7"),
        F.count(F.lit(1)).over(w_ma).cast("bigint").alias("k"),
        (F.datediff(F.col("d"), F.lit("1970-01-01")).cast("bigint") % 7).alias(
            "dow"
        ),
    )
    det = tr.filter(F.col("k") == 7).withColumn(
        "det7", (F.lit(7) * F.col("rev") - F.col("trend7")).cast("bigint")
    )
    w_dow = Window.partitionBy("dow")
    seas = det.withColumn(
        "seas7",
        F.round(
            F.sum("det7").over(w_dow).cast("double")
            / F.count(F.lit(1)).over(w_dow).cast("double"),
            0,
        ).cast("bigint"),
    )
    return seas.select(
        "d",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("rev").alias("rev_cents"),
        F.col("trend7").alias("trend7_cents"),
        F.col("det7").alias("det7_cents"),
        F.col("seas7").alias("seas7_cents"),
        (F.col("det7") - F.col("seas7")).cast("bigint").alias("resid7_cents"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Supplier neighborhood similarity (bipartite Jaccard via co-occurrence)
# ---------------------------------------------------------------------------

#: Per-part supplier-list cap (the LSH-style fan-out guard) and top-k.
_SUPP_CAP = 50
_SUPP_TOPK = 20


@register(
    "supplier_overlap_jaccard",
    oracle=f"""
    WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    pl AS (SELECT p, list_sort(list(s))[1:{_SUPP_CAP}] AS ss FROM sp GROUP BY p),
    pairs AS (
      SELECT ss[i] AS s1, ss[j] AS s2
      FROM pl,
           unnest(generate_series(1, len(ss))) AS u(i),
           unnest(generate_series(1, len(ss))) AS v(j)
      WHERE j > i),
    co AS (SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS co
           FROM pairs GROUP BY s1, s2),
    sz AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM sp GROUP BY s)
    SELECT co.s1, co.s2, co.co, a.deg AS deg_1, b.deg AS deg_2,
           CAST(round(CAST(co.co AS DOUBLE)
             / CAST(a.deg + b.deg - co.co AS DOUBLE) * 1000000, 0) AS BIGINT)
             AS jaccard_micro
    FROM co JOIN sz a ON co.s1 = a.s JOIN sz b ON co.s2 = b.s
    ORDER BY co.co DESC, co.s1, co.s2
    LIMIT {_SUPP_TOPK}
    """,
)
def supplier_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier neighborhood similarity: Jaccard overlap of the part
    sets two suppliers ship, computed bipartite-style — candidate pairs
    are generated per PART (the co-occurrence key), never supplier ×
    supplier. The substitutability/redundancy graph primitive (which
    suppliers can cover for each other), structurally the same shape as
    collaborative-filtering item-item similarity.

    Scale: the distinct (part, supplier) edge list reduces once and is
    checkpointed for its two consumers (per-part lists + per-supplier
    degrees). Pairs are born map-side from each part's SORTED,
    CAP-{_SUPP_CAP}ED supplier list (the dedup-LSH per-bucket guard:
    fan-out ≤ cap² per part regardless of how promiscuous a part is —
    the cap is mirrored in the oracle so parity binds it). Degrees join
    back hint-free — aggregate-reduced to |suppliers| rows, AQE
    broadcasts them; the final top-k is a TakeOrderedAndProject heap.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sp = (
        li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint()
    )
    pl = sp.groupBy("p").agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, _SUPP_CAP).alias("ss")
    )

    # Pair GENERATION moved to a mapInArrow pass (r11, guide §4.2): the
    # former nested higher-order transform (per-element array slice +
    # struct build) runs in Spark's interpreted expression mode — ~4 s
    # at sf0.1 to bear 8.7M pair rows. Here each task reads its list
    # partition's contiguous Arrow buffers, emits ordered pairs via
    # cached np.triu_indices lookups (the same i<j order — the lists
    # stay sorted and capped upstream, so the PAIR SET is identical),
    # and pre-aggregates to (s1, s2, count) partials before the
    # exchange — strictly fewer shuffled rows than the exploded form.
    def _pair_counts(batches):
        import numpy as np
        import pyarrow as pa

        tri_cache: dict[int, tuple] = {}
        for batch in batches:
            col = batch.column("ss")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offs = col.offsets.to_numpy().astype(np.int64)
            vals = col.values.to_numpy().astype(np.int64)
            lens = np.diff(offs)
            parts = []
            # vectorize BY LIST LENGTH (≤ _SUPP_CAP distinct lengths):
            # one fancy-indexed gather per length instead of a Python
            # loop per row (the row loop alone measured ~3 s at sf0.1)
            for n in np.unique(lens):
                n = int(n)
                if n < 2:
                    continue
                ij = tri_cache.get(n)
                if ij is None:
                    ij = np.triu_indices(n, 1)
                    tri_cache[n] = ij
                base = offs[:-1][lens == n]
                fi = (base[:, None] + ij[0][None, :]).ravel()
                se = (base[:, None] + ij[1][None, :]).ravel()
                parts.append(vals[fi] * 4294967296 + vals[se])
            if parts:
                codes = np.concatenate(parts)
                uniq, cnt = np.unique(codes, return_counts=True)
                s1 = uniq // 4294967296
                s2 = uniq % 4294967296
            else:
                s1 = s2 = cnt = np.array([], dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(s1, pa.int64()),
                    pa.array(s2, pa.int64()),
                    pa.array(cnt.astype(np.int64), pa.int64()),
                ],
                names=["s1", "s2", "c"],
            )

    # the aggregated list table AQE-coalesces to ~1 partition locally;
    # re-spread the skinny (p, ss) rows so the quadratic-per-part pair
    # stage uses every core (same guard as blocking_quality_eval's
    # truth stage)
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    co = (
        pl.select("ss")
        .repartition(par)
        .mapInArrow(_pair_counts, "s1 bigint, s2 bigint, c bigint")
        .groupBy("s1", "s2")
        .agg(F.sum("c").cast("bigint").alias("co"))
    )
    sz = sp.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    a = sz.select(F.col("s").alias("s1"), F.col("deg").alias("deg_1"))
    b = sz.select(F.col("s").alias("s2"), F.col("deg").alias("deg_2"))
    jac = F.round(
        F.col("co").cast("double")
        / (F.col("deg_1") + F.col("deg_2") - F.col("co")).cast("double")
        * 1_000_000,
        0,
    ).cast("bigint")
    return (
        co.join(a, "s1")
        .join(b, "s2")
        .select("s1", "s2", "co", "deg_1", "deg_2", jac.alias("jaccard_micro"))
        .orderBy(F.desc("co"), "s1", "s2")
        .limit(_SUPP_TOPK)
    )


# ---------------------------------------------------------------------------
# Inter-event burstiness coefficient per event type
# ---------------------------------------------------------------------------

@register(
    "burstiness_by_type",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(ts) // 1000000 AS t_s
      FROM events),
    g AS (
      SELECT event_type,
             t_s - LAG(t_s) OVER (PARTITION BY user_id, event_type
                                  ORDER BY t_s) AS gap
      FROM e),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap) AS BIGINT) AS sum_gap_s,
             CAST(SUM(gap * gap) AS DOUBLE) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY event_type)
    SELECT event_type, n, sum_gap_s,
           CAST(round(
             (sqrt(GREATEST(sgg / n - (CAST(sum_gap_s AS DOUBLE) / n)
                                      * (CAST(sum_gap_s AS DOUBLE) / n), 0))
              - CAST(sum_gap_s AS DOUBLE) / n)
             / (sqrt(GREATEST(sgg / n - (CAST(sum_gap_s AS DOUBLE) / n)
                                        * (CAST(sum_gap_s AS DOUBLE) / n), 0))
                + CAST(sum_gap_s AS DOUBLE) / n)
             * 1000000, 0) AS BIGINT) AS burstiness_micro
    FROM s ORDER BY event_type
    """,
)
def burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness coefficient B = (σ−μ)/(σ+μ) of the
    inter-event gaps per event type: B→−1 is clockwork (bot heartbeat),
    B≈0 Poisson (organic), B→+1 bursty (human sessions, incident
    storms) — one number that separates traffic *mechanisms* where the
    gap histogram shows only shape.

    Exactness: gaps are whole SECONDS (integer-exact in both engines);
    Σg is int64 and Σg² sums exactly in wide integers (Spark
    decimal(38,0), DuckDB's native HUGEINT accumulator — per-row g²
    fits int64 at second resolution) with ONE cast to double at the
    end, so no cross-row float accumulation ever orders the result;
    sqrt is IEEE-exact. Tie policy: equal timestamps give the same gap
    multiset under any tie order, so the per-type sums are
    order-independent.

    Scale: one (user, type)-partitioned lag window (the sessionize
    exchange shape), then a map-side-combinable rollup to |types| rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("bigint")
        .alias("t_s"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("t_s")
    g = e.select(
        "event_type", (F.col("t_s") - F.lag("t_s").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("sum_gap_s"),
        F.sum((F.col("gap") * F.col("gap")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sgg"),
    )
    mean = F.col("sum_gap_s").cast("double") / F.col("n")
    sigma = F.sqrt(F.greatest(F.col("sgg") / F.col("n") - mean * mean, F.lit(0.0)))
    return s.select(
        "event_type",
        "n",
        "sum_gap_s",
        F.round((sigma - mean) / (sigma + mean) * 1_000_000, 0)
        .cast("bigint")
        .alias("burstiness_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A/B test sample-size planner (two-proportion power calculation)
# ---------------------------------------------------------------------------

#: MDE grid in per-mille relative lift; z for α=0.05 two-sided, 80% power.
_POWER_MDE_PM = (10, 20, 50, 100)
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621


@register(
    "ab_power_sample_size",
    oracle=f"""
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_conv
      FROM events),
    grid AS (SELECT unnest([{", ".join(str(m) for m in _POWER_MDE_PM)}])
             AS mde_pm),
    calc AS (
      SELECT CAST(g.mde_pm AS BIGINT) AS mde_pm, b.n_events, b.n_conv,
             CAST(b.n_conv AS DOUBLE) / b.n_events AS p1,
             (CAST(b.n_conv AS DOUBLE) / b.n_events)
               * (1 + g.mde_pm / 1000.0) AS p2
      FROM base b, grid g)
    SELECT mde_pm, n_events, n_conv,
           CAST(round(p1 * 1000000, 0) AS BIGINT) AS p_base_micro,
           CAST(round(p2 * 1000000, 0) AS BIGINT) AS p_target_micro,
           CAST(ceil(({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
             * (p1 * (1 - p1) + p2 * (1 - p2)) / ((p2 - p1) * (p2 - p1)))
             AS BIGINT) AS n_per_arm
    FROM calc ORDER BY mde_pm
    """,
)
def ab_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size planner: events needed PER ARM to detect each
    relative lift in the purchase share at α=0.05 / 80% power (normal
    approximation, unpooled variance) — the "how long must this test
    run" table that belongs in front of ab_test_ztest and ab_srm_check.

    Scale: the baseline proportion is ONE fused conditional count over
    events; the MDE grid is a {len(_POWER_MDE_PM)}-literal cross join
    and the closed form is a mirrored single expression of
    exactly-known int64s — cost is one scan at any event volume.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_conv"),
    )
    grid = base.select(
        "n_events",
        "n_conv",
        F.explode(F.array(*[F.lit(m) for m in _POWER_MDE_PM])).alias("mde"),
    ).select("n_events", "n_conv", F.col("mde").cast("bigint").alias("mde_pm"))
    p1 = F.col("n_conv").cast("double") / F.col("n_events")
    p2 = p1 * (F.lit(1.0) + F.col("mde_pm") / F.lit(1000.0))
    zsum2 = F.lit((_Z_ALPHA + _Z_BETA) ** 2)
    n_arm = F.ceil(
        zsum2 * (p1 * (1 - p1) + p2 * (1 - p2)) / ((p2 - p1) * (p2 - p1))
    ).cast("bigint")
    return grid.select(
        "mde_pm",
        "n_events",
        "n_conv",
        F.round(p1 * 1_000_000, 0).cast("bigint").alias("p_base_micro"),
        F.round(p2 * 1_000_000, 0).cast("bigint").alias("p_target_micro"),
        n_arm.alias("n_per_arm"),
    ).orderBy("mde_pm")


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

#: Lookback (µs) shared with attribution_last_touch's convention (72 h).
_USHAPE_LOOK_US = 72 * 3600 * 1_000_000


def _ushape_oracle() -> str:
    # e0 literals in the weight CASE force DOUBLE arithmetic: a bare 0.4
    # is a DECIMAL literal in DuckDB — a different rounding path than
    # Spark's double lit(0.4); it diverged by 1 cent at sf0.1. (No SQL
    # comments in oracle strings: register() collapses newlines.)
    base = (
        f"t.user_id = p.user_id AND t.t_us <= p.t_us"
        f" AND p.t_us - t.t_us <= {_USHAPE_LOOK_US}"
    )
    return f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type
      FROM events WHERE event_type IN ('click', 'view')),
    stats AS (
      SELECT p.event_id AS pid, p.cents,
             (SELECT COUNT(*) FROM t WHERE {base}) AS n_all,
             (SELECT COUNT(*) FROM t WHERE {base}
                AND t.event_type = 'click') AS n_click,
             (SELECT t.event_type FROM t WHERE {base}
              ORDER BY t.t_us ASC, t.event_id ASC LIMIT 1) AS first_ch,
             (SELECT t.event_type FROM t WHERE {base}
              ORDER BY t.t_us DESC, t.event_id DESC LIMIT 1) AS last_ch
      FROM p),
    ch AS (SELECT unnest(['click', 'view']) AS c),
    w AS (
      SELECT s.pid, s.cents, ch.c,
             CASE WHEN s.n_all = 0 THEN 0.0e0
                  WHEN s.n_all = 1
                    THEN CASE WHEN s.first_ch = ch.c THEN 1.0e0 ELSE 0.0e0 END
                  WHEN s.n_all = 2
                    THEN 0.5e0 * (CASE WHEN s.first_ch = ch.c THEN 1 ELSE 0 END)
                       + 0.5e0 * (CASE WHEN s.last_ch = ch.c THEN 1 ELSE 0 END)
                  ELSE 0.4e0 * (CASE WHEN s.first_ch = ch.c THEN 1 ELSE 0 END)
                     + 0.4e0 * (CASE WHEN s.last_ch = ch.c THEN 1 ELSE 0 END)
                     + 0.2e0 * ((CASE WHEN ch.c = 'click' THEN s.n_click
                                    ELSE s.n_all - s.n_click END)
                              - (CASE WHEN s.first_ch = ch.c THEN 1 ELSE 0 END)
                              - (CASE WHEN s.last_ch = ch.c THEN 1 ELSE 0 END))
                           / (s.n_all - 2) END AS wt
      FROM stats s, ch),
    direct AS (
      SELECT 'direct' AS channel,
             CAST(SUM(CASE WHEN n_all = 0 THEN 1000000 ELSE 0 END) AS BIGINT)
               AS credit_micro,
             CAST(SUM(CASE WHEN n_all = 0 THEN cents ELSE 0 END) AS BIGINT)
               AS revenue_cents
      FROM stats),
    chan AS (
      SELECT c AS channel,
             CAST(SUM(CAST(round(wt * 1000000, 0) AS BIGINT)) AS BIGINT)
               AS credit_micro,
             CAST(SUM(CAST(round(wt * cents, 0) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM w GROUP BY c)
    SELECT * FROM chan UNION ALL SELECT * FROM direct ORDER BY channel
    """


@register("attribution_u_shaped", oracle=_ushape_oracle())
def attribution_u_shaped(
    spark: SparkSession, sf_dir: str, _bases=None
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each purchase
    splits credit 40/20/40 across first touch / middles / last touch in
    the 72 h lookback (1 touch → 100%, 2 → 50/50, none → 'direct') —
    the multi-touch counterpart of attribution_last_touch, rolled up to
    credit mass and exact revenue allocation per channel.

    Scale: needs the FULL touch set per conversion, so the as-of
    window trick doesn't apply; instead the interval_join_events
    bucket-replication shape bounds the join — purchases replicate to
    their 72 h bucket and its predecessor (2×, constant), join touches
    on (user, bucket), and the range predicate filters in-window pairs.
    First/last channels come from one lexicographic struct MIN/MAX
    ((t_us, event_id) tie-break mirrored in the oracle's ORDER BY);
    per-(purchase, channel) credits quantize to micro BEFORE the
    channel rollup. The oracle is the independent correlated-subquery
    formulation.
    """
    tbase, pbase = _bases or _attr_bases(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = pbase.select(
        "user_id",
        us.alias("p_us"),
        F.col("event_id").alias("pid"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    t = tbase.select(
        "user_id",
        us.alias("t_us"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("ch"),
    )
    pb = p.withColumn(
        "bkt",
        F.explode(
            F.array(
                F.floor(F.col("p_us") / _USHAPE_LOOK_US),
                F.floor(F.col("p_us") / _USHAPE_LOOK_US) - 1,
            )
        ),
    )
    tb = t.withColumn("bkt", F.floor(F.col("t_us") / _USHAPE_LOOK_US))
    pairs = pb.join(tb, ["user_id", "bkt"]).filter(
        (F.col("t_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("t_us") <= _USHAPE_LOOK_US)
    )
    key = F.struct("t_us", "tid", "ch")
    stats = pairs.groupBy("pid", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.when(F.col("ch") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n_click"),
        F.min(key).getField("ch").alias("first_ch"),
        F.max(key).getField("ch").alias("last_ch"),
    )
    first = F.when(F.col("first_ch") == F.col("c"), 1).otherwise(0)
    last = F.when(F.col("last_ch") == F.col("c"), 1).otherwise(0)
    n_c = F.when(F.col("c") == "click", F.col("n_click")).otherwise(
        F.col("n_all") - F.col("n_click")
    )
    wt = (
        F.when(F.col("n_all") == 1, first.cast("double"))
        .when(F.col("n_all") == 2, 0.5 * first + 0.5 * last)
        .otherwise(
            0.4 * first
            + 0.4 * last
            + 0.2 * (n_c - first - last) / (F.col("n_all") - 2)
        )
    )
    w = stats.select(
        "cents",
        F.explode(F.array(F.lit("click"), F.lit("view"))).alias("c"),
        "n_all",
        "n_click",
        "first_ch",
        "last_ch",
    ).withColumn("wt", wt)
    chan = w.groupBy(F.col("c").alias("channel")).agg(
        F.sum(F.round(F.col("wt") * 1_000_000, 0).cast("bigint"))
        .cast("bigint")
        .alias("credit_micro"),
        F.sum(F.round(F.col("wt") * F.col("cents"), 0).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )
    direct = (
        p.join(stats.select("pid"), "pid", "left_anti")
        .agg(
            F.coalesce(F.count(F.lit(1)) * 1_000_000, F.lit(0))
            .cast("bigint")
            .alias("credit_micro"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .select(F.lit("direct").alias("channel"), "credit_micro", "revenue_cents")
    )
    return chan.unionAll(direct).orderBy("channel")


# ---------------------------------------------------------------------------
# Top event trigram paths
# ---------------------------------------------------------------------------

_TRI_TOPK = 20


@register(
    "event_trigram_paths",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             LEAD(event_type) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    SELECT event_type AS e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
    FROM e WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, e1, e2, e3
    LIMIT {_TRI_TOPK}
    """,
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step user journeys — the funnel-DISCOVERY query
    (path_transitions gives the 1-step Markov matrix; three steps
    expose the actual routes worth building funnels around, e.g.
    view→view→click vs view→signup→error).

    Scale: one user-partitioned window with two LEADs (same exchange
    as sessionize), then a ≤|types|³-bounded count with map-side
    combine and a top-k heap. Total (t_us, event_id) ordering makes
    the path stream deterministic under ties.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    paths = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        paths.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(_TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# STL residual outliers (robust z over the decomposition remainder)
# ---------------------------------------------------------------------------

_STL_OUT_TOPK = 10


def _stl_outlier_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    return f"""
    WITH stl AS ({ORACLES["stl_decompose_weekly"]}),
    r AS (
      SELECT d, resid7_cents AS r,
             CAST(ROW_NUMBER() OVER (ORDER BY resid7_cents, d) AS BIGINT)
               AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM stl),
    med AS (SELECT MIN(CASE WHEN rk * 2 >= n THEN r END) AS m FROM r),
    dev AS (
      SELECT r.d, r.r, abs(r.r - med.m) AS dv,
             CAST(ROW_NUMBER() OVER (ORDER BY abs(r.r - med.m), r.d)
               AS BIGINT) AS rk2,
             r.n
      FROM r, med),
    mad AS (SELECT MIN(CASE WHEN rk2 * 2 >= n THEN dv END) AS mad FROM dev)
    SELECT dev.d, CAST(dev.r AS BIGINT) AS resid7_cents,
           CAST(dev.dv AS BIGINT) AS abs_dev_cents,
           CAST(round(CAST(dev.dv AS DOUBLE)
             / GREATEST(CAST(mad.mad AS DOUBLE), 1.0e0) * 1000000, 0)
             AS BIGINT) AS robust_z_micro
    FROM dev, mad
    ORDER BY dev.dv DESC, dev.d
    LIMIT {_STL_OUT_TOPK}
    """


@register("stl_residual_outliers", oracle=_stl_outlier_oracle())
def stl_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The days whose revenue is anomalous AFTER removing trend and
    weekly seasonality: robust z (MAD-scaled) over
    stl_decompose_weekly's remainder — the actual incident shortlist
    (raw-series detectors fire every Sunday; the residual detector only
    fires on genuine departures).

    Scale: composes the REGISTERED decomposition (its oracle text is
    reused as a CTE, so the outlier list can never drift from the
    decomposition it audits); the median and MAD are lower-median
    conditional MINs over the |days|-row series (2·rank ≥ n integer
    tests, no interpolation), and the top-k is a heap. Everything past
    the daily reduction is bounded-window work.
    """
    stl = stl_decompose_weekly(spark, sf_dir).select(
        "d", F.col("resid7_cents").alias("r")
    ).localCheckpoint()
    w_all = Window.partitionBy()
    r = stl.select(
        "d",
        "r",
        F.row_number().over(Window.orderBy("r", "d")).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    med = r.agg(
        F.min(F.when(F.col("rk") * 2 >= F.col("n"), F.col("r"))).alias("m")
    )
    dev = r.crossJoin(F.broadcast(med)).select(
        "d",
        "r",
        F.abs(F.col("r") - F.col("m")).alias("dv"),
        "n",
    )
    dev = dev.withColumn(
        "rk2", F.row_number().over(Window.orderBy("dv", "d")).cast("bigint")
    ).localCheckpoint()
    mad = dev.agg(
        F.min(F.when(F.col("rk2") * 2 >= F.col("n"), F.col("dv"))).alias("mad")
    )
    z = F.round(
        F.col("dv").cast("double")
        / F.greatest(F.col("mad").cast("double"), F.lit(1.0))
        * 1_000_000,
        0,
    ).cast("bigint")
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "d",
            F.col("r").cast("bigint").alias("resid7_cents"),
            F.col("dv").cast("bigint").alias("abs_dev_cents"),
            z.alias("robust_z_micro"),
        )
        .orderBy(F.desc("abs_dev_cents"), "d")
        .limit(_STL_OUT_TOPK)
    )


# ---------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain
# ---------------------------------------------------------------------------

#: Power-iteration tick scale and iteration count (mirrored in the
#: unrolled oracle CTEs below).
_STAT_PIC = 1_000_000_000_000
_STAT_ITERS = 3


def _stationary_oracle() -> str:
    it = """
    p{j} AS (
      SELECT m.dst AS s,
             CAST(SUM(CAST(p{i}.pi AS HUGEINT) * m.n // deg.d) AS BIGINT)
               AS pi
      FROM p{i} JOIN m ON m.src = p{i}.s JOIN deg ON deg.src = p{i}.s
      GROUP BY 1)"""
    iters = ",".join(
        it.format(i=i, j=i + 1) for i in range(_STAT_ITERS)
    )
    return f"""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    m AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
    deg AS (SELECT src, CAST(SUM(n) AS BIGINT) AS d FROM m GROUP BY 1),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM deg),
    p0 AS (
      SELECT src AS s, CAST({_STAT_PIC} // k AS BIGINT) AS pi
      FROM deg CROSS JOIN k),
    {iters},
    freq AS (
      SELECT event_type AS s, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq)
    SELECT f.s AS event_type,
           CAST(CAST(f.c AS HUGEINT) * {_STAT_PIC} // tot.t AS BIGINT)
             AS freq_ticks,
           CAST(p{_STAT_ITERS}.pi AS BIGINT) AS stationary_ticks,
           CAST(p{_STAT_ITERS}.pi
             - CAST(f.c AS HUGEINT) * {_STAT_PIC} // tot.t AS BIGINT)
             AS delta_ticks
    FROM freq f JOIN p{_STAT_ITERS} ON p{_STAT_ITERS}.s = f.s
    CROSS JOIN tot
    ORDER BY event_type
    """


@register("markov_stationary_profile", oracle=_stationary_oracle())
def markov_stationary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (where
    does a user's session settle if the observed transition dynamics
    keep running?) next to the raw empirical frequency — a large gap
    (delta_ticks) flags types that are over/under-represented purely
    because of WHERE they sit in journeys (e.g. terminal error states
    accumulate mass; entry-only types bleed it).

    Scale: one user-partition lead window reduces the corpus to the
    ≤|types|² transition matrix; the {_STAT_ITERS} power iterations are
    then joins over that tiny matrix (the pagerank Pregel shape with
    the graph ALREADY reduced) in exact integer picoticks — per-term
    floor division mirrored in both engines, so no float ever crosses
    an aggregation. Truncation bleeds ≤1 tick per term per iteration;
    the profile is exact to the documented arithmetic, not approximate.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    m = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint()  # ≤|types|² rows; iterations re-read it
    )
    deg = m.groupBy("src").agg(F.sum("n").cast("bigint").alias("d"))
    k = deg.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    p = deg.crossJoin(F.broadcast(k)).select(
        F.col("src").alias("s"),
        F.expr(f"CAST({_STAT_PIC} DIV k AS BIGINT)").alias("pi"),
    )
    for _ in range(_STAT_ITERS):
        p = (
            p.join(m, m.src == p.s)
            .join(deg.withColumnRenamed("src", "dsrc"), F.col("dsrc") == F.col("s"))
            .select(
                F.col("dst").alias("s2"),
                F.expr(
                    "CAST(CAST(pi AS DECIMAL(38,0)) * n DIV d AS BIGINT)"
                ).alias("term"),
            )
            .groupBy(F.col("s2").alias("s"))
            .agg(F.sum("term").cast("bigint").alias("pi"))
        )
    freq = (
        e.groupBy(F.col("event_type").alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn(  # ≤|types| rows: the total is an all-rows window,
            "t", F.sum("c").over(Window.partitionBy())  # never a 2nd scan
        )
    )
    ft = F.expr(f"CAST(CAST(c AS DECIMAL(38,0)) * {_STAT_PIC} DIV t AS BIGINT)")
    return (
        freq.join(p, "s")
        .select(
            F.col("s").alias("event_type"),
            ft.alias("freq_ticks"),
            F.col("pi").alias("stationary_ticks"),
            (F.col("pi") - ft).cast("bigint").alias("delta_ticks"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution
# ---------------------------------------------------------------------------

_TDECAY_LOOK_US = 72 * 3600 * 1_000_000
_TDECAY_HALF_US = 24 * 3600 * 1_000_000


@register(
    "attribution_time_decay",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS p_us, event_id AS pid,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_type AS ch
      FROM events WHERE event_type IN ('click', 'view')),
    pr AS (
      SELECT p.pid, p.cents, t.ch,
             CAST(round(pow(0.5e0,
               CAST(p.p_us - t.t_us AS DOUBLE) / {_TDECAY_HALF_US})
               * 1000000000, 0) AS BIGINT) AS raw
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.t_us <= p.p_us AND p.p_us - t.t_us <= {_TDECAY_LOOK_US}),
    s AS (
      SELECT pid, cents, ch, CAST(SUM(raw) AS BIGINT) AS s_ch
      FROM pr GROUP BY 1, 2, 3),
    tt AS (SELECT pid, CAST(SUM(s_ch) AS BIGINT) AS s_all FROM s GROUP BY 1),
    w AS (
      SELECT s.ch,
             CAST(round(CAST(s_ch AS DOUBLE) / s_all * 1000000, 0)
               AS BIGINT) AS credit,
             CAST(round(CAST(s_ch AS DOUBLE) / s_all * cents, 0)
               AS BIGINT) AS rev
      FROM s JOIN tt ON s.pid = tt.pid),
    chan AS (
      SELECT ch AS channel, CAST(SUM(credit) AS BIGINT) AS credit_micro,
             CAST(SUM(rev) AS BIGINT) AS revenue_cents
      FROM w GROUP BY 1),
    direct AS (
      SELECT 'direct' AS channel,
             CAST(COALESCE(COUNT(*), 0) * 1000000 AS BIGINT) AS credit_micro,
             CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS revenue_cents
      FROM p WHERE pid NOT IN (SELECT pid FROM s))
    SELECT * FROM chan UNION ALL SELECT * FROM direct ORDER BY channel
    """,
)
def attribution_time_decay(
    spark: SparkSession, sf_dir: str, _bases=None
) -> DataFrame:
    """Time-decay multi-touch attribution: every click/view in the 72 h
    lookback gets credit ∝ 2^(-age/24 h), normalized per purchase —
    the third classic model beside attribution_last_touch (winner-take-
    all) and attribution_u_shaped (position-based); decay rewards
    recency without zeroing early touches.

    Scale: the same bucket-replication bound as the U-shaped model
    (purchases replicate to their 72 h bucket + predecessor, join
    touches on (user, bucket) — never an unbounded event self-join).
    Each pair's decay weight quantizes to nanoticks per-row BEFORE any
    aggregation, per-(purchase, channel) masses are exact integer
    sums, and the only doubles are the final normalize-and-round
    expressions mirrored token-for-token in the oracle.
    """
    tbase, pbase = _bases or _attr_bases(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = pbase.select(
        "user_id",
        us.alias("p_us"),
        F.col("event_id").alias("pid"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    t = tbase.select(
        "user_id",
        us.alias("t_us"),
        F.col("event_type").alias("ch"),
    )
    pb = p.withColumn(
        "bkt",
        F.explode(
            F.array(
                F.floor(F.col("p_us") / _TDECAY_LOOK_US),
                F.floor(F.col("p_us") / _TDECAY_LOOK_US) - 1,
            )
        ),
    )
    tb = t.withColumn("bkt", F.floor(F.col("t_us") / _TDECAY_LOOK_US))
    raw = F.round(
        F.pow(
            F.lit(0.5),
            (F.col("p_us") - F.col("t_us")).cast("double") / _TDECAY_HALF_US,
        )
        * 1_000_000_000,
        0,
    ).cast("bigint")
    s = (
        pb.join(tb, ["user_id", "bkt"])
        .filter(
            (F.col("t_us") <= F.col("p_us"))
            & (F.col("p_us") - F.col("t_us") <= _TDECAY_LOOK_US)
        )
        .groupBy("pid", "cents", "ch")
        .agg(F.sum(raw).cast("bigint").alias("s_ch"))
    )
    w_pid = Window.partitionBy("pid")
    share = F.col("s_ch").cast("double") / F.sum("s_ch").over(w_pid)
    w = s.select(
        "pid",
        "ch",
        F.round(share * 1_000_000, 0).cast("bigint").alias("credit"),
        F.round(share * F.col("cents"), 0).cast("bigint").alias("rev"),
    )
    chan = w.groupBy(F.col("ch").alias("channel")).agg(
        F.sum("credit").cast("bigint").alias("credit_micro"),
        F.sum("rev").cast("bigint").alias("revenue_cents"),
    )
    direct = (
        p.join(s.select("pid"), "pid", "left_anti")
        .agg(
            F.coalesce(F.count(F.lit(1)) * 1_000_000, F.lit(0))
            .cast("bigint")
            .alias("credit_micro"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .select(F.lit("direct").alias("channel"), "credit_micro", "revenue_cents")
    )
    return chan.unionAll(direct).orderBy("channel")


# ---------------------------------------------------------------------------
# Engagement frequency histogram (the L28-style power-user curve)
# ---------------------------------------------------------------------------

@register(
    "engagement_frequency_histogram",
    oracle="""
    WITH ud AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS month, user_id,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS n_active_days
      FROM events GROUP BY 1, 2)
    SELECT month, n_active_days, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ud GROUP BY 1, 2 ORDER BY month, n_active_days
    """,
)
def engagement_frequency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The power-user curve (L28 shape): per month, how many users were
    active on exactly N distinct days — the engagement-depth
    distribution whose right mass separates habit products from
    drive-by traffic (DAU/WAU compresses this to one number;
    dau_wau_stickiness is the companion op).

    Scale: one (month, user) shuffle carries the distinct-day count
    (map-side partial distinct), then a calendar×≤31-row rollup.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        "user_id",
    ).agg(
        F.countDistinct(F.col("ts").cast("date"))
        .cast("bigint")
        .alias("n_active_days")
    )
    return (
        ud.groupBy("month", "n_active_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("month", "n_active_days")
    )


# ---------------------------------------------------------------------------
# Error-recovery time histogram
# ---------------------------------------------------------------------------

@register(
    "error_recovery_histogram",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events),
    nxt AS (
      SELECT event_type, us,
             MIN(CASE WHEN event_type <> 'error' THEN us END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS rec_us
      FROM e),
    err AS (
      SELECT CASE WHEN rec_us IS NULL THEN -1
                  ELSE CAST(length(bin(greatest((rec_us - us) // 1000000,
                    1))) - 1 AS BIGINT) END AS log2_bucket,
             (rec_us - us) // 1000000 AS secs
      FROM nxt WHERE event_type = 'error')
    SELECT log2_bucket, CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(MIN(secs) AS BIGINT) AS min_s,
           CAST(MAX(secs) AS BIGINT) AS max_s
    FROM err GROUP BY 1 ORDER BY log2_bucket
    """,
)
def error_recovery_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from each error event to the user's next NON-error action,
    as a log2-seconds histogram (bucket −1 = never recovered in the
    observed window) — the UX-resilience readout: a mode at seconds
    means users retry through; heavy right mass or a fat −1 bucket
    means errors end sessions.

    Scale: one user-partition window computes the conditional
    next-non-error timestamp (MIN over the following frame — no
    self-join of events with itself); buckets are the exact
    bin()-length idiom and the rollup is ≤~40 rows.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = e.select("user_id", "event_id", "event_type", us.alias("us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = base.withColumn(
        "rec_us",
        F.min(
            F.when(F.col("event_type") != "error", F.col("us"))
        ).over(w),
    )
    secs = F.expr("(rec_us - us) DIV 1000000")
    bucket = F.when(F.col("rec_us").isNull(), F.lit(-1)).otherwise(
        (F.length(F.bin(F.greatest(secs, F.lit(1)))) - 1).cast("bigint")
    )
    return (
        nxt.filter(F.col("event_type") == "error")
        .select(bucket.cast("bigint").alias("log2_bucket"), secs.alias("secs"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_errors"),
            F.min("secs").cast("bigint").alias("min_s"),
            F.max("secs").cast("bigint").alias("max_s"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# Session depth vs conversion
# ---------------------------------------------------------------------------

_DEPTH_CAP = 10


@register(
    "session_depth_conversion",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    s AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps),
    per AS (
      SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS depth,
             CAST(MAX(CAST(event_type = 'purchase' AS INT)) AS BIGINT)
               AS converted
      FROM s GROUP BY 1, 2)
    SELECT CASE WHEN depth >= {_DEPTH_CAP} THEN {_DEPTH_CAP}
                ELSE depth END AS depth_band,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT)
             AS conversion_ppm
    FROM per GROUP BY 1 ORDER BY depth_band
    """,
)
def session_depth_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session depth (events per 30-min-gap session,
    band {_DEPTH_CAP} = "{_DEPTH_CAP}+") — does conversion climb with
    engagement depth, or do long sessions signal users failing to find
    the thing? The merchandising twin of session_funnel.

    Scale: the sessionize machinery (lag + running sum over ONE
    user-partition sort, reused by both windows), a per-session
    reduction, and a ≤{_DEPTH_CAP}-row rollup with integer-ppm rates.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select("user_id", "ts", "event_id", "event_type").withColumn(
        "is_new",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = gaps.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("depth"),
        F.max((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("converted"),
    )
    return (
        per.groupBy(
            F.when(F.col("depth") >= _DEPTH_CAP, _DEPTH_CAP)
            .otherwise(F.col("depth"))
            .cast("bigint")
            .alias("depth_band")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.expr(
                "CAST(SUM(converted) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("conversion_ppm"),
        )
        .orderBy("depth_band")
    )


# ---------------------------------------------------------------------------
# Attribution model comparison (last-touch vs U-shaped vs time-decay)
# ---------------------------------------------------------------------------

def _attr_cmp_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    lt, us, td = (
        ORACLES["attribution_last_touch"],
        ORACLES["attribution_u_shaped"],
        ORACLES["attribution_time_decay"],
    )
    return f"""
    WITH all_m AS (
      SELECT 'lt' AS model, channel,
             CAST(n_conversions * 1000000 AS BIGINT) AS micro,
             revenue_cents
      FROM ({lt}) lt_q
      UNION ALL
      SELECT 'us', channel, credit_micro, revenue_cents FROM ({us}) us_q
      UNION ALL
      SELECT 'td', channel, credit_micro, revenue_cents FROM ({td}) td_q),
    p AS (
      SELECT channel,
             CAST(COALESCE(SUM(CASE WHEN model = 'lt' THEN micro END), 0)
               AS BIGINT) AS lt_micro,
             CAST(COALESCE(SUM(CASE WHEN model = 'us' THEN micro END), 0)
               AS BIGINT) AS us_micro,
             CAST(COALESCE(SUM(CASE WHEN model = 'td' THEN micro END), 0)
               AS BIGINT) AS td_micro,
             CAST(COALESCE(SUM(CASE WHEN model = 'lt' THEN revenue_cents
               END), 0) AS BIGINT) AS lt_cents,
             CAST(COALESCE(SUM(CASE WHEN model = 'us' THEN revenue_cents
               END), 0) AS BIGINT) AS us_cents,
             CAST(COALESCE(SUM(CASE WHEN model = 'td' THEN revenue_cents
               END), 0) AS BIGINT) AS td_cents
      FROM all_m GROUP BY channel)
    SELECT channel, lt_micro, us_micro, td_micro,
           CAST(greatest(lt_cents, us_cents, td_cents)
             - least(lt_cents, us_cents, td_cents) AS BIGINT)
             AS revenue_spread_cents,
           lt_cents, us_cents, td_cents
    FROM p ORDER BY channel
    """


@register("attribution_model_comparison", oracle=_attr_cmp_oracle())
def attribution_model_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side credit and revenue allocation under the three
    registered attribution models (last-touch / U-shaped / time-decay)
    with the per-channel revenue spread — the sensitivity analysis that
    says whether the channel-budget decision is model-robust or an
    artifact of the model choice.

    Scale: composes the three REGISTERED pipelines (oracle composed
    from their registered texts, so the comparison can never drift from
    what each model actually computes — the ann_ivf_recall_eval
    device); each produces a ≤3-row frame, and the pivot is a
    conditional aggregate over their union.

    Scale: the three pipelines share the two pruned event projections
    (touches, purchases) via ONE localCheckpoint each — metadata-only
    rows (ids, timestamps, type, value), never payloads — so the
    comparison reads events twice with pushed filters instead of 12
    times (r11, plan-verified: 12 parquet scans -> 2; each standalone
    model is unchanged).
    """
    tbase, pbase = _attr_bases(spark, sf_dir)
    bases = (tbase.localCheckpoint(), pbase.localCheckpoint())
    lt = attribution_last_touch(spark, sf_dir, _bases=bases).select(
        F.lit("lt").alias("model"),
        "channel",
        (F.col("n_conversions") * 1_000_000).cast("bigint").alias("micro"),
        "revenue_cents",
    )
    us_ = attribution_u_shaped(spark, sf_dir, _bases=bases).select(
        F.lit("us").alias("model"), "channel", F.col("credit_micro").alias("micro"), "revenue_cents"
    )
    td = attribution_time_decay(spark, sf_dir, _bases=bases).select(
        F.lit("td").alias("model"), "channel", F.col("credit_micro").alias("micro"), "revenue_cents"
    )
    all_m = lt.unionAll(us_).unionAll(td)

    def pick(model, col):
        return (
            F.coalesce(
                F.sum(F.when(F.col("model") == model, F.col(col))), F.lit(0)
            )
            .cast("bigint")
        )

    p = all_m.groupBy("channel").agg(
        pick("lt", "micro").alias("lt_micro"),
        pick("us", "micro").alias("us_micro"),
        pick("td", "micro").alias("td_micro"),
        pick("lt", "revenue_cents").alias("lt_cents"),
        pick("us", "revenue_cents").alias("us_cents"),
        pick("td", "revenue_cents").alias("td_cents"),
    )
    return p.select(
        "channel",
        "lt_micro",
        "us_micro",
        "td_micro",
        (
            F.greatest("lt_cents", "us_cents", "td_cents")
            - F.least("lt_cents", "us_cents", "td_cents")
        )
        .cast("bigint")
        .alias("revenue_spread_cents"),
        "lt_cents",
        "us_cents",
        "td_cents",
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Monthly customer reactivation (return after a long gap)
# ---------------------------------------------------------------------------

_REACT_GAP_DAYS = 180


@register(
    "customer_reactivation_monthly",
    oracle=f"""
    WITH o2 AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(o_orderdate AS DATE) - LAG(CAST(o_orderdate AS DATE))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS gap_days
      FROM orders),
    m AS (
      SELECT CAST(date_trunc('month', d) AS DATE) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN gap_days IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_first,
             CAST(SUM(CASE WHEN gap_days > {_REACT_GAP_DAYS} THEN 1 ELSE 0
               END) AS BIGINT) AS n_reactivated
      FROM o2 GROUP BY 1)
    SELECT month, n_orders, n_first, n_reactivated,
           CAST(n_reactivated * 1000000 // n_orders AS BIGINT)
             AS reactivation_ppm
    FROM m ORDER BY month
    """,
)
def customer_reactivation_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly win-back scoreboard: of the month's orders, how many are
    a customer's FIRST and how many are a RETURN after more than
    {_REACT_GAP_DAYS} days away — the resurrection leg of growth
    accounting at order grain, where win-back campaigns actually land.

    Scale: ONE shuffle partitions orders by customer for the
    single-row-state lag window (per-customer partitions stay small at
    any corpus size); classified orders then reduce map-side to one row
    per month. The rate is exact integer ppm over positives.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o2 = o.select(
        d.alias("d"), F.datediff(d, F.lag(d).over(w)).alias("gap_days")
    )
    m = o2.groupBy(F.trunc("d", "month").alias("month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("gap_days").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_first"),
        F.sum(F.when(F.col("gap_days") > _REACT_GAP_DAYS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_reactivated"),
    )
    return m.select(
        "month",
        "n_orders",
        "n_first",
        "n_reactivated",
        F.expr("CAST(n_reactivated * 1000000 DIV n_orders AS BIGINT)").alias(
            "reactivation_ppm"
        ),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Funnel stage-to-stage latency histogram (log2 microsecond buckets)
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ("signup", "view", "click", "purchase")


@register(
    "funnel_stage_latency",
    oracle="""
    WITH firsts AS (
      SELECT user_id, event_type, MIN(epoch_us(ts)) AS first_us
      FROM events
      WHERE event_type IN ('signup', 'view', 'click', 'purchase')
      GROUP BY 1, 2),
    lat AS (
      SELECT a.event_type || '->' || b.event_type AS stage_pair,
             b.first_us - a.first_us AS lat_us
      FROM firsts a JOIN firsts b ON a.user_id = b.user_id
       AND ((a.event_type = 'signup' AND b.event_type = 'view')
         OR (a.event_type = 'view' AND b.event_type = 'click')
         OR (a.event_type = 'click' AND b.event_type = 'purchase'))
      WHERE b.first_us >= a.first_us)
    SELECT stage_pair,
           CAST(length(bin(lat_us)) - 1 AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(lat_us) AS BIGINT) AS min_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_us
    FROM lat GROUP BY 1, 2 ORDER BY stage_pair, log2_bucket
    """,
)
def funnel_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long each funnel hop takes: per adjacent stage pair
    (signup->view->click->purchase), the distribution of time from a
    user's FIRST occurrence of the earlier stage to their FIRST of the
    later one, as a log2-microsecond histogram — the
    where-do-users-stall view that conversion RATES (session_funnel)
    cannot show.

    Scale: events reduce to one (user, stage) row via min() before the
    self-join, which is key-on-key on user_id — one shuffle each side,
    per-user groups of <=4 rows. Latencies bucket by binary length
    (exact integer log2, no double), so the output is <=|pairs|x~60
    rows regardless of corpus size.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*_FUNNEL_STAGES)
    )
    firsts = e.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("first_us")
    )
    a, b = firsts.alias("a"), firsts.alias("b")
    adj = None
    for s0, s1 in zip(_FUNNEL_STAGES, _FUNNEL_STAGES[1:]):
        cond = (F.col("a.event_type") == s0) & (F.col("b.event_type") == s1)
        adj = cond if adj is None else (adj | cond)
    lat = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & adj)
        .filter(F.col("b.first_us") >= F.col("a.first_us"))
        .select(
            F.concat_ws("->", F.col("a.event_type"), F.col("b.event_type")).alias(
                "stage_pair"
            ),
            (F.col("b.first_us") - F.col("a.first_us")).alias("lat_us"),
        )
    )
    return (
        lat.groupBy(
            "stage_pair",
            (F.length(F.bin("lat_us")) - 1).cast("bigint").alias("log2_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("lat_us").cast("bigint").alias("min_us"),
            F.max("lat_us").cast("bigint").alias("max_us"),
        )
        .orderBy("stage_pair", "log2_bucket")
    )


# ---------------------------------------------------------------------------
# Activity-streak histogram (gaps-and-islands)
# ---------------------------------------------------------------------------

@register(
    "activity_streak_histogram",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (
      SELECT user_id,
             (day - DATE '1970-01-01')
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM ud),
    runs AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS streak_len
      FROM g GROUP BY 1, 2)
    SELECT streak_len, CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM runs GROUP BY 1 ORDER BY 1
    """,
)
def activity_streak_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks: how long do users stay daily-
    active before breaking? The gaps-and-islands classic — island id =
    epoch-day minus per-user row_number, constant within each
    consecutive run — rolled into a streak-length histogram, the
    habit-formation curve behind DAU targets (dau_wau_stickiness is the
    ratio; this is the full distribution it summarizes).

    Scale: events dedup to (user, day) grain map-side; ONE shuffle
    partitions users for the row_number window (per-user groups =
    active days, small at any corpus); islands then reduce twice with
    map-side combine into the <=|max-streak| histogram. The distinct
    user count per length is the only expensive aggregate and runs on
    the already-reduced runs table.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = ud.select(
        "user_id",
        (
            F.datediff("day", F.lit("1970-01-01"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len")
    )
    return (
        runs.groupBy("streak_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("streak_len")
    )


# ---------------------------------------------------------------------------
# Session value by entry event type
# ---------------------------------------------------------------------------

@register(
    "session_value_by_entry_type",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS v_cents,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                    > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps),
    entry AS (
      SELECT user_id, session_id, event_type, v_cents,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
               ORDER BY ts, event_id) AS rn
      FROM sess),
    per_sess AS (
      SELECT user_id, session_id,
             min_by(event_type, rn) AS entry_type,
             CAST(SUM(v_cents) AS BIGINT) AS sess_value,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM entry GROUP BY 1, 2)
    SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sess_value) AS BIGINT) AS total_value_cents,
           CAST((SUM(sess_value) - ((SUM(sess_value) % COUNT(*)) + COUNT(*))
             % COUNT(*)) // COUNT(*) AS BIGINT) AS avg_session_value_cents
    FROM per_sess GROUP BY 1 ORDER BY 1
    """,
)
def session_value_by_entry_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which DOOR users come in through matters: sessions grouped by
    their ENTRY event type (the first event after a 30-min gap) with
    count, size, and exact total/mean session value — the landing-page
    economics view session_funnel's step rates don't price.

    Scale: the shared lag+running-sum sessionizer (ONE user-partitioned
    shuffle feeds all three windows — the entry row_number reuses the
    same partitioning); sessions then reduce twice with map-side
    combine to the |entry-type| table. Entry selection is
    deterministic (rn from (ts, event_id)); value rides exact integer
    cents and the mean floor-divides via subtract-positive-mod.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
        F.when(
            ((us - F.lag(us).over(w)) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    entry = sess.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        ),
    )
    per_sess = entry.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", "rn").alias("entry_type"),
        F.sum("v_cents").cast("bigint").alias("sess_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return (
        per_sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sess_value").cast("bigint").alias("tv"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_events",
            F.col("tv").alias("total_value_cents"),
            F.expr(
                "CAST((tv - pmod(tv, n_sessions)) DIV n_sessions AS BIGINT)"
            ).alias("avg_session_value_cents"),
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# Bass diffusion regression (adopter curve fit)
# ---------------------------------------------------------------------------

#: Cramer's-rule fragments for the quadratic fit n_t = a + b·N + c·N²
#: over the sufficient sums (n, sx1..sx4, sy, sxy, sx2y) — ONE shared
#: text evaluated identically (fixed-order doubles over exact wide-int
#: inputs) in the Spark projection and the DuckDB oracle.
_BASS_D = (
    "(n*(sx2*sx4 - sx3*sx3) - sx1*(sx1*sx4 - sx3*sx2)"
    " + sx2*(sx1*sx3 - sx2*sx2))"
)
_BASS_DA = (
    "(sy*(sx2*sx4 - sx3*sx3) - sx1*(sxy*sx4 - sx3*sx2y)"
    " + sx2*(sxy*sx3 - sx2*sx2y))"
)
_BASS_DB = (
    "(n*(sxy*sx4 - sx3*sx2y) - sy*(sx1*sx4 - sx3*sx2)"
    " + sx2*(sx1*sx2y - sxy*sx2))"
)
_BASS_DC = (
    "(n*(sx2*sx2y - sxy*sx3) - sx1*(sx1*sx2y - sxy*sx2)"
    " + sy*(sx1*sx3 - sx2*sx2))"
)


@register(
    "bass_diffusion_fit",
    oracle=f"""
    WITH ff AS (
      SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS fd
      FROM orders GROUP BY 1),
    m AS (
      SELECT CAST(year(fd) * 12 + month(fd) AS BIGINT) AS mi,
             CAST(COUNT(*) AS BIGINT) AS n_t
      FROM ff GROUP BY 1),
    c AS (
      SELECT mi, n_t,
             CAST(COALESCE(SUM(n_t) OVER (ORDER BY mi
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS np
      FROM m),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(np) AS BIGINT) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(np AS HUGEINT) * np) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(np AS HUGEINT) * np * np) AS DOUBLE) AS sx3,
             CAST(SUM(CAST(np AS HUGEINT) * np * np * np) AS DOUBLE) AS sx4,
             CAST(CAST(SUM(n_t) AS BIGINT) AS DOUBLE) AS sy,
             CAST(SUM(CAST(np AS HUGEINT) * n_t) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(np AS HUGEINT) * np * n_t) AS DOUBLE) AS sx2y
      FROM c)
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(round({_BASS_DA} / {_BASS_D} * 1000, 0) AS BIGINT)
             AS a_milli,
           CAST(round({_BASS_DB} / {_BASS_D} * 1000000000, 0) AS BIGINT)
             AS b_nano,
           CAST(round({_BASS_DC} / {_BASS_D} * 1000000000000, 0) AS BIGINT)
             AS c_pico
    FROM s
    """,
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bass diffusion discrete regression n_t = a + b·N + c·N² on
    monthly FIRST-TIME customers (N = cumulative adopters): the
    marketing-science fit whose coefficients encode innovation (p=a/M)
    and imitation (q) forces — an S-curve (c<0, b>0) says word-of-mouth
    is compounding and the market will saturate at the quadratic's
    root; a flat/declining fit says acquisition is purely external
    spend. Run on any product's adopter stream.

    Scale: adopters compact per customer (MIN), reduce to |month|
    rows; ONE aggregation builds all seven sufficient sums with powers
    riding the wide-integer rule (N^4 fits decimal(38)); the Cramer's
    rule solve is a shared fixed-order text on the final single row —
    no matrix library, no iteration, no distributed double sum.
    """
    o = load_table(spark, sf_dir, "orders")
    ff = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("fd")
    )
    m = ff.groupBy(
        (F.year("fd") * 12 + F.month("fd")).cast("bigint").alias("mi")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    w = Window.orderBy("mi").rowsBetween(Window.unboundedPreceding, -1)
    c = m.select(
        "n_t",
        F.coalesce(F.sum("n_t").over(w), F.lit(0)).cast("bigint").alias("np"),
    )
    npd = F.col("np").cast("decimal(38,0)")
    ntd = F.col("n_t").cast("decimal(38,0)")
    s = c.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("np").cast("bigint").cast("double").alias("sx1"),
        F.sum(npd * npd).cast("double").alias("sx2"),
        F.sum(npd * npd * npd).cast("double").alias("sx3"),
        F.sum(npd * npd * npd * npd).cast("double").alias("sx4"),
        F.sum("n_t").cast("bigint").cast("double").alias("sy"),
        F.sum(npd * ntd).cast("double").alias("sxy"),
        F.sum(npd * npd * ntd).cast("double").alias("sx2y"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.expr(
            f"CAST(round({_BASS_DA} / {_BASS_D} * 1000, 0) AS BIGINT)"
        ).alias("a_milli"),
        F.expr(
            f"CAST(round({_BASS_DB} / {_BASS_D} * 1000000000, 0) AS BIGINT)"
        ).alias("b_nano"),
        F.expr(
            f"CAST(round({_BASS_DC} / {_BASS_D} * 1000000000000, 0)"
            " AS BIGINT)"
        ).alias("c_pico"),
    )


# ---------------------------------------------------------------------------
# Purchase-cadence acceleration share (per-customer micro-regressions)
# ---------------------------------------------------------------------------

_ACCEL_MIN_GAPS = 4


@register(
    "purchase_acceleration_share",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE)
               - LAG(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS gap,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) - 1 AS idx
      FROM orders),
    g AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(idx) AS BIGINT) AS sx,
             CAST(SUM(gap) AS BIGINT) AS sy,
             CAST(SUM(idx * gap) AS BIGINT) AS sxy
      FROM seq WHERE gap IS NOT NULL
      GROUP BY 1 HAVING COUNT(*) >= {_ACCEL_MIN_GAPS}),
    cls AS (
      SELECT CASE WHEN n * sxy - sx * sy < 0 THEN 'accelerating'
                  WHEN n * sxy - sx * sy > 0 THEN 'decelerating'
                  ELSE 'flat' END AS band
      FROM g)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cls GROUP BY 1 ORDER BY 1
    """,
)
def purchase_acceleration_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A million tiny regressions in one pass: for every customer with
    enough history, the OLS TREND of their inter-order gaps —
    shrinking gaps (accelerating) vs growing (decelerating, the
    churn-risk whisper months before the churn). The banded census is
    the health dial; reorder_interval_stats gives the level this op
    gives the derivative of.

    Scale: one customer-partitioned window pass builds (gap, index)
    pairs; each customer's slope SIGN is the exact integer
    n·Σxy − Σx·Σy — no division, no float, so the classification can
    never flip on a ulp. The per-customer "model fleet" costs one
    groupBy, which is the entire point versus fitting per-customer
    models serially.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    seq = o.select(
        "o_custkey",
        F.datediff(d, F.lag(d).over(w)).alias("gap"),
        (F.row_number().over(w) - 1).alias("idx"),
    ).filter(F.col("gap").isNotNull())
    g = (
        seq.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("idx").cast("bigint").alias("sx"),
            F.sum("gap").cast("bigint").alias("sy"),
            F.sum(F.col("idx") * F.col("gap")).cast("bigint").alias("sxy"),
        )
        .filter(F.col("n") >= _ACCEL_MIN_GAPS)
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        g.select(
            F.when(num < 0, "accelerating")
            .when(num > 0, "decelerating")
            .otherwise("flat")
            .alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Acquisition-day profile (first orders vs all orders by weekday)
# ---------------------------------------------------------------------------

@register(
    "first_order_dow_profile",
    oracle="""
    WITH ff AS (
      SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS fd
      FROM orders GROUP BY 1),
    f AS (
      SELECT CAST(dayofweek(fd) + 1 AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_first
      FROM ff GROUP BY 1),
    a AS (
      SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT)
               AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_all
      FROM orders GROUP BY 1),
    t AS (
      SELECT f.dow, f.n_first, a.n_all,
             CAST(SUM(f.n_first) OVER () AS BIGINT) AS tf,
             CAST(SUM(a.n_all) OVER () AS BIGINT) AS ta
      FROM f JOIN a ON f.dow = a.dow)
    SELECT dow, n_first, n_all,
           CAST(n_first * 1000000 // tf AS BIGINT) AS first_share_ppm,
           CAST(round(CAST(n_first AS DOUBLE) * ta
             / (CAST(n_all AS DOUBLE) * tf) * 1000, 0) AS BIGINT)
             AS acquisition_lift_milli
    FROM t ORDER BY dow
    """,
)
def first_order_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN do customers arrive: the weekday profile of FIRST orders
    against the all-orders baseline — a weekday whose acquisition lift
    beats its traffic lift is where new-customer conversion actually
    happens, and where onboarding capacity belongs. (Spark dayofweek
    is 1=Sunday..7; the DuckDB twin maps 0..6 with +1.)

    Scale: first orders compact per customer (MIN); both legs reduce
    to seven weekday rows; the lift is one mirrored double over exact
    counts on the bounded join.
    """
    o = load_table(spark, sf_dir, "orders")
    ff = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("fd")
    )
    f = ff.groupBy(F.dayofweek("fd").cast("bigint").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_first")
    )
    a = o.groupBy(
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = f.join(a, "dow").select(
        "*",
        F.sum("n_first").over(w_all).cast("bigint").alias("tf"),
        F.sum("n_all").over(w_all).cast("bigint").alias("ta"),
    )
    return t.select(
        "dow",
        "n_first",
        "n_all",
        F.expr("CAST(n_first * 1000000 DIV tf AS BIGINT)").alias(
            "first_share_ppm"
        ),
        F.round(
            F.col("n_first").cast("double")
            * F.col("ta")
            / (F.col("n_all").cast("double") * F.col("tf"))
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("acquisition_lift_milli"),
    ).orderBy("dow")


# ---------------------------------------------------------------------------
# Error-concentration dispersion (are failures clustered in few users?)
# ---------------------------------------------------------------------------

@register(
    "error_concentration_dispersion",
    oracle="""
    WITH ue AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
      FROM events GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT) AS s1,
             SUM(CAST(k AS HUGEINT) * k) AS s2,
             CAST(MAX(k) AS BIGINT) AS max_k,
             CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_error_free
      FROM ue)
    SELECT n AS n_users, s1 AS n_errors, n_error_free, max_k AS max_errors,
           CAST(round((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n)) / (CAST(s1 AS DOUBLE) / n)
             * 1000000, 0) AS BIGINT) AS vmr_micro
    FROM s
    """,
)
def error_concentration_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are errors an EVERYONE problem or a SOMEONE problem: the
    variance-to-mean ratio of per-user error counts (VMR 1 = errors
    strike at random; VMR >> 1 = a cohort of users is trapped in a
    failure loop — fix their path, not the fleet), with the error-free
    user count and the worst-hit user's tally as the anchors.

    Scale: one reduction to per-user error counts (all users kept —
    zero counts are the denominator the concentration question needs),
    one to the sufficient-statistics row; Σk² rides the wide-integer
    rule and the VMR is one mirrored expression.
    """
    e = load_table(spark, sf_dir, "events")
    ue = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("k")
    )
    kd = F.col("k").cast("decimal(38,0)")
    s = ue.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(kd * kd).alias("s2"),
        F.max("k").cast("bigint").alias("max_k"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_error_free"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    return s.select(
        F.col("n").alias("n_users"),
        F.col("s1").alias("n_errors"),
        "n_error_free",
        F.col("max_k").alias("max_errors"),
        F.round(
            (F.col("s2").cast("double") / F.col("n") - mu * mu) / mu
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("vmr_micro"),
    )


# ---------------------------------------------------------------------------
# Interarrival CV-squared per event type (queueing burstiness)
# ---------------------------------------------------------------------------

@register(
    "interarrival_cv2_by_type",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS gap_us
      FROM events),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap_us) AS BIGINT) AS s1,
             SUM(CAST(gap_us AS HUGEINT) * gap_us) AS s2
      FROM g WHERE gap_us IS NOT NULL GROUP BY 1)
    SELECT event_type, n AS n_gaps,
           CAST(s1 // n AS BIGINT) AS mean_gap_us,
           CAST(round((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n))
             / ((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             * 1000000, 0) AS BIGINT) AS cv2_micro
    FROM s ORDER BY event_type
    """,
)
def interarrival_cv2_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The queueing-theory burstiness number per event type: the
    squared coefficient of variation of interarrival times (CV² = 1
    Poisson, > 1 bursty — queues blow up superlinearly in CV² under
    load, so this single number IS the capacity-planning multiplier;
    interevent_gap_histogram shows the shape, this extracts the figure
    capacity math consumes).

    Scale: ONE type-partitioned lag window (five fat-ish partitions —
    acceptable because |types| is fixed and tiny; repartition by a
    (type, day) compound for wider type sets), then a reduction to one
    sufficient-statistics row per type. Σgap² rides the wide-integer
    rule.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    gd = F.col("gap_us").cast("decimal(38,0)")
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap_us").cast("bigint").alias("s1"),
        F.sum(gd * gd).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    return s.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_gap_us"),
        F.round(
            (F.col("s2").cast("double") / F.col("n") - mu * mu) / (mu * mu)
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("cv2_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Weekday-consistency histogram (habit regularity per customer)
# ---------------------------------------------------------------------------

_DOWC_MIN_ORDERS = 5


@register(
    "dow_consistency_histogram",
    oracle=f"""
    WITH cd AS (
      SELECT o_custkey,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT)
               AS dow,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    g AS (
      SELECT o_custkey, CAST(MAX(c) AS BIGINT) AS modal,
             CAST(SUM(c) AS BIGINT) AS n
      FROM cd GROUP BY 1 HAVING SUM(c) >= {_DOWC_MIN_ORDERS}),
    b AS (
      SELECT CAST(modal * 10 // n AS BIGINT) AS modal_share_decile FROM g)
    SELECT modal_share_decile, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def dow_consistency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How WEEKDAY-regular each customer's ordering is: the share of
    their orders landing on their single most common weekday, binned
    into deciles — mass at high deciles is subscription-like cadence
    (ship on their day, churn-flag a missed one); mass near the 1/7
    floor is opportunistic buying. The per-customer regularity
    DISTRIBUTION that the global dow_seasonality_strength R² averages
    into one number.

    Scale: two nested reductions — (customer, weekday) counts, then
    per-customer modal/total via plain MAX/SUM (no window, no argmax
    sort) — and a bounded decile histogram. Exact integer deciles.
    """
    o = load_table(spark, sf_dir, "orders")
    cd = o.groupBy(
        "o_custkey",
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("bigint").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    g = (
        cd.groupBy("o_custkey")
        .agg(
            F.max("c").cast("bigint").alias("modal"),
            F.sum("c").cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= _DOWC_MIN_ORDERS)
    )
    return (
        g.select(
            F.expr("CAST(modal * 10 DIV n AS BIGINT)").alias(
                "modal_share_decile"
            )
        )
        .groupBy("modal_share_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("modal_share_decile")
    )


# ---------------------------------------------------------------------------
# Event-type run-length histogram (repeat-action detector)
# ---------------------------------------------------------------------------

@register(
    "event_type_run_histogram",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) IS DISTINCT FROM event_type
               THEN 1 ELSE 0 END AS is_new
      FROM events),
    grp AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS gid
      FROM seq),
    runs AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM grp GROUP BY user_id, gid, event_type)
    SELECT event_type, run_len, CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def event_type_run_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSECUTIVE same-action runs per user: the run-length histogram
    by event type — a fat error-run tail is a retry loop (users
    hammering a broken thing: read with error_recovery_histogram), a
    fat click-run tail is pagination or rage-clicking; Markov
    transition matrices (path_transitions) average these streaks away.

    Scale: the same ONE user-partitioned exchange feeds both the
    lag-compare and the running-sum island id (the sessionizer shape
    applied to type changes); runs then reduce twice map-side to the
    bounded type x length histogram.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    grp = seq.select(
        "user_id",
        "event_type",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("gid"),
    )
    runs = grp.groupBy("user_id", "gid", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    return (
        runs.groupBy("event_type", "run_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_runs"))
        .orderBy("event_type", "run_len")
    )


# ---------------------------------------------------------------------------
# User event-type entropy histogram (specialist vs generalist)
# ---------------------------------------------------------------------------

_UENT_MIN_EVENTS = 5


@register(
    "user_type_entropy_histogram",
    oracle=f"""
    WITH ut AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    e AS (
      SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(round(c * ln(CAST(c AS DOUBLE)) * 1000, 0)
               AS BIGINT)) AS BIGINT) AS clnc_milli
      FROM ut GROUP BY 1),
    h AS (
      SELECT CAST(round((ln(CAST(n AS DOUBLE))
        - (CAST(clnc_milli AS DOUBLE) / 1000) / n) * 100, 0) AS BIGINT)
        AS entropy_centinat
      FROM e WHERE n >= {_UENT_MIN_EVENTS})
    SELECT entropy_centinat, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM h GROUP BY 1 ORDER BY 1
    """,
)
def user_type_entropy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specialists vs generalists: the histogram of per-user
    EVENT-TYPE entropy (centinats) — mass near zero is single-action
    users (pure browsers, pure buyers: serve them narrow), mass near
    ln(|types|) is uniform generalists. The behavioral-diversity
    segmentation that per-type volume dashboards cannot express.

    Scale: (user, type) counts reduce map-side; each user's entropy is
    the Shannon identity over tick-quantized c·ln c terms summed
    INSIDE bounded per-user groups (<=|types| rows each); the
    histogram is a bounded centinat rollup.
    """
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    clnc = F.round(
        F.col("c") * F.log(F.col("c").cast("double")) * 1000, 0
    ).cast("bigint")
    eu = ut.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(clnc).cast("bigint").alias("clnc_milli"),
    )
    ent = F.round(
        (
            F.log(F.col("n").cast("double"))
            - (F.col("clnc_milli").cast("double") / 1000) / F.col("n")
        )
        * 100,
        0,
    ).cast("bigint")
    return (
        eu.filter(F.col("n") >= _UENT_MIN_EVENTS)
        .select(ent.alias("entropy_centinat"))
        .groupBy("entropy_centinat")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("entropy_centinat")
    )


# ---------------------------------------------------------------------------
# Top-decile user value concentration
# ---------------------------------------------------------------------------

@register(
    "user_value_concentration",
    oracle="""
    WITH uv AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS v
      FROM events GROUP BY 1),
    vg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(v) AS BIGINT) AS sv
      FROM uv GROUP BY 1),
    cum AS (
      SELECT v,
             CAST(SUM(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cc,
             CAST(SUM(sv) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_v,
             CAST(SUM(c) OVER () AS BIGINT) AS n,
             CAST(SUM(sv) OVER () AS BIGINT) AS tot
      FROM vg),
    cut AS (
      SELECT n, tot,
             CAST(MIN(CASE WHEN cc * 10 >= n THEN cum_v END) AS BIGINT)
               AS top_v,
             CAST(MIN(CASE WHEN cc * 10 >= n THEN cc END) AS BIGINT)
               AS top_n
      FROM cum GROUP BY n, tot)
    SELECT n AS n_users, top_n AS n_top_decile,
           CAST(top_v * 1000000 // tot AS BIGINT) AS top_decile_share_ppm
    FROM cut
    """,
)
def user_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whale question in one number: the share of total event value
    held by the TOP DECILE of users — 10% share is perfectly flat
    demand, 80% is a whale economy where the product is really serving
    a few hundred accounts (lorenz_curve draws the whole curve; this
    extracts the headline the board asks for).

    Scale: per-user totals reduce first, then the VALUE-GRAIN
    descending cumulative (distinct totals, not users) finds the exact
    decile cut by integer ECDF threshold — no global sort of users,
    exact cents, exact ppm.
    """
    e = load_table(spark, sf_dir, "events")
    uv = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    vg = uv.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("v").cast("bigint").alias("sv"),
    )
    w_desc = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        F.sum("c").over(w_desc).cast("bigint").alias("cc"),
        F.sum("sv").over(w_desc).cast("bigint").alias("cum_v"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
        F.sum("sv").over(w_all).cast("bigint").alias("tot"),
    )
    cut = cum.groupBy("n", "tot").agg(
        F.min(F.when(F.col("cc") * 10 >= F.col("n"), F.col("cum_v")))
        .cast("bigint")
        .alias("top_v"),
        F.min(F.when(F.col("cc") * 10 >= F.col("n"), F.col("cc")))
        .cast("bigint")
        .alias("top_n"),
    )
    return cut.select(
        F.col("n").alias("n_users"),
        F.col("top_n").alias("n_top_decile"),
        F.expr("CAST(top_v * 1000000 DIV tot AS BIGINT)").alias(
            "top_decile_share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# k-step absorption probability into the purchase state (conversion horizon)
# ---------------------------------------------------------------------------

#: Picotick scale for absorption probabilities and the unrolled horizon.
_ABS_PT = 1_000_000_000_000
_ABS_STEPS = 4


def _absorption_oracle() -> str:
    pt = _ABS_PT
    steps = "\n".join(
        f"""h{k} AS (
      SELECT c.s AS state, CAST(CASE WHEN c.s = 'purchase' THEN {pt}
        ELSE SUM(c.c * h{k-1}.h) // MAX(n.n) END AS BIGINT) AS h
      FROM c JOIN h{k-1} ON h{k-1}.state = c.t JOIN n ON n.s = c.s
      GROUP BY c.s),"""
        for k in range(1, _ABS_STEPS + 1)
    )
    sel = " UNION ALL ".join(
        f"SELECT {k} AS k_steps, state, h AS p_ticks FROM h{k}"
        for k in range(1, _ABS_STEPS + 1)
    )
    return f"""
    WITH seq AS (
      SELECT user_id, event_type AS s,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events),
    c AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
          FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
    n AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
    h0 AS (SELECT s AS state,
                  CAST(CASE WHEN s = 'purchase' THEN {pt} ELSE 0 END
                    AS BIGINT) AS h
           FROM n),
    {steps}
    dummy AS (SELECT 1)
    {sel}
    ORDER BY k_steps, state
    """


@register("markov_absorption_k_step", oracle=_absorption_oracle())
def markov_absorption_k_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion horizon: from each event type, the probability of
    REACHING the purchase state within k steps of the observed Markov
    dynamics (purchase made absorbing), for k = 1..{_ABS_STEPS} — the
    absorption-probability companion of markov_stationary_profile:
    stationary says where sessions settle, absorption says how fast
    each entry state converts. h_k(s) = Σ_t P(s,t)·h_{{k-1}}(t) with
    h(purchase) pinned to 1.

    Scale: one user-partition lead window reduces the corpus to the
    ≤|types|² transition-count matrix; the unrolled k-step recursion is
    then {_ABS_STEPS} hint-free joins over that tiny checkpointed
    matrix in exact integer picoticks (count·tick products summed as
    int64, ONE floor division per state per step — mirrored `DIV` /
    `//`, so no float ever crosses an aggregation; truncation bleeds
    ≤1 tick per division, identical in both engines).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    )
    m = (
        seq.filter(F.col("t").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # The transition matrix is SCHEMA-bounded (≤|types|² rows, a fixed
    # event vocabulary at every SF) — the bounded-collect class (the
    # bradley_terry/HITS device). The distributed work is the one
    # user-partitioned lead window + the rollup above; the {_ABS_STEPS}
    # recursion steps are exact integer arithmetic where Spark joins
    # over a ≤25-row frame were pure scheduler overhead (r11: was 25
    # tiny exchanges per run). h and num are nonnegative, so Python //
    # replicates Spark's DIV exactly.
    from ai_etl_studio_spark.plans.snapshot import capture_stage

    mrows = capture_stage(m).collect()
    c = {(r["s"], r["t"]): r["c"] for r in mrows}
    states = sorted({s for s, _ in c})
    n = {s: sum(v for (ss, _), v in c.items() if ss == s) for s in states}
    h = {s: _ABS_PT if s == "purchase" else 0 for s in states}
    out_rows = []
    for k in range(1, _ABS_STEPS + 1):
        h = {
            s: _ABS_PT
            if s == "purchase"
            else sum(c.get((s, t), 0) * h.get(t, 0) for t in states) // n[s]
            for s in states
        }
        out_rows += [(k, s, h[s]) for s in states]
    out_rows.sort(key=lambda r: (r[0], r[1]))
    return spark.createDataFrame(
        out_rows, "k_steps int, state string, p_ticks bigint"
    )


# ---------------------------------------------------------------------------
# Markov removal effects (channel attribution by counterfactual deletion)
# ---------------------------------------------------------------------------

#: Non-absorbing states whose removal effect is measured (the event
#: vocabulary is fixed in this corpus; purchase is the absorbing goal).
_REMOVAL_STATES = ("click", "error", "signup", "view")


def _removal_oracle() -> str:
    pt = _ABS_PT
    variants = {"full": None} | {s: s for s in _REMOVAL_STATES}

    def h_cte(v: str, k: int, removed: str | None) -> str:
        zero = f"WHEN c.s = '{removed}' THEN 0" if removed else ""
        return f"""h_{v}_{k} AS (
      SELECT c.s AS state, CAST(CASE WHEN c.s = 'purchase' THEN {pt}
        {zero}
        ELSE SUM(c.c * h_{v}_{k-1}.h) // MAX(n.n) END AS BIGINT) AS h
      FROM c JOIN h_{v}_{k-1} ON h_{v}_{k-1}.state = c.t
      JOIN n ON n.s = c.s GROUP BY c.s)"""

    ctes = []
    convs = []
    for v, removed in variants.items():
        ctes.append(
            f"""h_{v}_0 AS (SELECT s AS state,
          CAST(CASE WHEN s = 'purchase' THEN {pt} ELSE 0 END AS BIGINT) AS h
        FROM n)"""
        )
        for k in range(1, _ABS_STEPS + 1):
            ctes.append(h_cte(v, k, removed))
        convs.append(
            f"""conv_{v} AS (
      SELECT CAST(SUM(ent.c * h.h) // (SELECT SUM(c) FROM ent) AS BIGINT)
        AS conv
      FROM ent JOIN h_{v}_{_ABS_STEPS} h ON h.state = ent.s)"""
        )
    rows = " UNION ALL ".join(
        f"""SELECT '{s}' AS removed_state,
        (SELECT conv FROM conv_full) AS conv_full_ticks,
        (SELECT conv FROM conv_{s}) AS conv_removed_ticks,
        CAST(((SELECT conv FROM conv_full) - (SELECT conv FROM conv_{s}))
          * 1000000 // (SELECT conv FROM conv_full) AS BIGINT)
          AS removal_effect_ppm"""
        for s in _REMOVAL_STATES
    )
    cte_block = ",\n    ".join(ctes)
    conv_block = ",\n    ".join(convs)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type AS s, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events),
    c AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
          FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
    n AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
    firsts AS (
      SELECT s FROM (
        SELECT s, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
        FROM seq) f WHERE rn = 1),
    ent AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM firsts GROUP BY 1),
    {cte_block},
    {conv_block}
    {rows}
    ORDER BY removed_state
    """


@register("markov_removal_effects", oracle=_removal_oracle())
def markov_removal_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel attribution by counterfactual deletion — the Markov
    removal-effect model: conversion is the {_ABS_STEPS}-step
    absorption probability into purchase averaged over the observed
    ENTRY-state distribution; each state's removal effect is the
    relative conversion lost when that state is deleted (its absorption
    value pinned to 0 — journeys reaching it die). The third
    attribution family next to the positional models
    (attribution_last_touch / _u_shaped / _time_decay): it credits a
    step by what the FUNNEL loses without it, not by where it sits.

    Exactness: the same integer-picotick recursion as
    markov_absorption_k_step, run once per variant over the identical
    checkpointed transition matrix; the entry average and the ppm
    effect are exact integer floor divisions mirrored in both engines.

    Scale: the corpus reduces ONCE (one lead window) to the ≤|types|²
    matrix and a |types|-row entry distribution; all 1 + |removals|
    recursions are joins over those tiny frames.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
        F.row_number().over(w).alias("rn"),
    ).localCheckpoint()  # one corpus window feeds the matrix AND entries
    m = (
        seq.filter(F.col("t").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ent = (
        seq.filter(F.col("rn") == 1)
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ec"))
    )
    # The transition matrix and entry distribution are SCHEMA-bounded
    # (≤|types|² and ≤|types| rows, a fixed event vocabulary at every
    # SF) — the bounded-collect class (the bradley_terry/HITS device).
    # All 1 + |removals| four-step recursions run as exact Python
    # integer arithmetic on the collected matrix; the Spark-join form
    # spent ~88 tiny exchanges per run on ≤25-row frames (r11). Every
    # division below has a nonnegative numerator (pinning a state to 0
    # only lowers the dominated h vector, so full ≥ removed), so
    # Python // replicates Spark's DIV bit-for-bit.
    from ai_etl_studio_spark.plans.snapshot import capture_stage

    c = {(r["s"], r["t"]): r["c"] for r in capture_stage(m).collect()}
    states = sorted({s for s, _ in c})
    n = {s: sum(v for (ss, _), v in c.items() if ss == s) for s in states}
    ec = {r["s"]: r["ec"] for r in capture_stage(ent).collect()}
    te = sum(ec.values())

    def k_step_conv(removed: str | None) -> int:
        def pin(s: str, val: int) -> int:
            if s == "purchase":
                return _ABS_PT
            if removed is not None and s == removed:
                return 0
            return val

        h = {s: _ABS_PT if s == "purchase" else 0 for s in states}
        for _ in range(_ABS_STEPS):
            h = {
                s: pin(
                    s,
                    sum(c.get((s, t), 0) * h.get(t, 0) for t in states)
                    // n[s],
                )
                for s in states
            }
        return sum(ec[s] * h.get(s, 0) for s in ec) // te

    full = k_step_conv(None)
    rows = [
        (s, full, rem, (full - rem) * 1_000_000 // full)
        for s in sorted(_REMOVAL_STATES)
        for rem in (k_step_conv(s),)
    ]
    return spark.createDataFrame(
        rows,
        "removed_state string, conv_full_ticks bigint,"
        " conv_removed_ticks bigint, removal_effect_ppm bigint",
    )


# ---------------------------------------------------------------------------
# Shapley channel attribution (exact over session touch-set coalitions)
# ---------------------------------------------------------------------------

#: channel -> bit in the session touch mask (purchase is the conversion,
#: never a channel).
_SHAPLEY_CHANNELS = (("view", 1), ("click", 2), ("signup", 4), ("error", 8))

#: 24·w(|S|) for n = 4 players: |S|!·(n−1−|S|)!/n! × 4! — exact integers.
_SHAPLEY_W24 = (6, 2, 2, 6)

_POPCNT_SQL = (
    "((smask % 2) + ((smask // 2) % 2) + ((smask // 4) % 2)"
    " + ((smask // 8) % 2))"
)


def _shapley_oracle() -> str:
    mask_expr = " + ".join(
        f"MAX(CASE WHEN event_type = '{ch}' THEN {bit} ELSE 0 END)"
        for ch, bit in _SHAPLEY_CHANNELS
    )
    w24 = (
        f"CASE {_POPCNT_SQL} WHEN 0 THEN {_SHAPLEY_W24[0]}"
        f" WHEN 1 THEN {_SHAPLEY_W24[1]} WHEN 2 THEN {_SHAPLEY_W24[2]}"
        f" ELSE {_SHAPLEY_W24[3]} END"
    )
    phis = " UNION ALL ".join(
        f"""SELECT '{ch}' AS channel,
        CAST(SUM({w24.replace("smask", "v1.smask")}
             * (v2.v - v1.v)) AS BIGINT) AS phi24_ppm
      FROM v v1 JOIN v v2 ON v2.smask = v1.smask + {bit}
      WHERE (v1.smask // {bit}) % 2 = 0"""
        for ch, bit in _SHAPLEY_CHANNELS
    )
    return f"""
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s2 AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess
           FROM g),
    u AS (
      SELECT user_id, sess, {mask_expr} AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM s2 GROUP BY user_id, sess),
    r AS (
      SELECT mask,
             CAST(SUM(conv) * 1000000 // COUNT(*) AS BIGINT) AS r_ppm
      FROM u WHERE mask > 0 GROUP BY mask),
    spine AS (SELECT CAST(i AS BIGINT) AS smask
              FROM UNNEST(range(16)) AS t(i)),
    v AS (
      SELECT spine.smask,
             CAST(COALESCE(SUM(r.r_ppm), 0) AS BIGINT) AS v
      FROM spine LEFT JOIN r ON (r.mask & spine.smask) = r.mask
      GROUP BY spine.smask),
    phi AS ({phis}),
    tot AS (SELECT SUM(phi24_ppm) AS t FROM phi)
    SELECT channel, phi24_ppm,
           CAST(phi24_ppm * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS share_ppm
    FROM phi ORDER BY channel
    """


@register("shapley_channel_attribution", oracle=_shapley_oracle())
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution over session coalitions —
    the game-theoretic member of the attribution family (positional:
    last-touch/U-shaped/time-decay; counterfactual:
    markov_removal_effects; axiomatic-fair: this). Sessions (the
    shared 30-min rule) reduce to their channel TOUCH SET; each
    coalition's value v(S) is the summed conversion rate of the touch
    sets it covers, and φ(channel) is the exact Shapley sum over all
    2⁴ coalitions. With 4 channels the factorial weights ×4! are the
    integers {_SHAPLEY_W24}, so φ is EXACT integer arithmetic end to
    end (conversion rates as ppm floor divisions) — no sampling, no
    permutation Monte Carlo.

    Scale: the corpus reduces through the sessionize windows to
    ≤2⁴ (mask, n, conv) cells; everything after is joins over a 16-row
    spine. The exactness story is the point: at ≤26 channels the
    2^k spine still beats permutation sampling; beyond that, sample
    permutations instead.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    g = e.select("user_id", "ts", "event_id", "event_type").withColumn(
        "prev_ts", F.lag("ts").over(w)
    )
    s2 = g.withColumn(
        "new_s",
        F.when(gap_us > 1_800_000_000, 1)
        .when(F.col("prev_ts").isNull(), 1)
        .otherwise(0),
    ).withColumn("sess", F.sum("new_s").over(w))
    mask = sum(
        (
            F.max(
                F.when(F.col("event_type") == ch, F.lit(bit)).otherwise(0)
            )
            for ch, bit in _SHAPLEY_CHANNELS
        ),
        F.lit(0),
    )
    u = s2.groupBy("user_id", "sess").agg(
        mask.alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    r = (
        u.filter(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.expr("SUM(conv) * 1000000 DIV COUNT(*)").alias("r_ppm"))
        .localCheckpoint()  # ≤15 rows; the spine join reads it
    )
    spine = spark.range(16).select(F.col("id").alias("smask"))
    v = (
        spine.join(
            r, (F.col("mask").bitwiseAND(F.col("smask")) == F.col("mask")), "left"
        )
        .groupBy("smask")
        .agg(F.coalesce(F.sum("r_ppm"), F.lit(0)).cast("bigint").alias("v"))
        .localCheckpoint()  # 16 rows; read twice per channel
    )
    w24 = F.expr(
        f"CASE {_POPCNT_SQL.replace('//', ' DIV ')} WHEN 0 THEN {_SHAPLEY_W24[0]}"
        f" WHEN 1 THEN {_SHAPLEY_W24[1]} WHEN 2 THEN {_SHAPLEY_W24[2]}"
        f" ELSE {_SHAPLEY_W24[3]} END"
    )
    rows = None
    v1 = v.select(F.col("smask"), F.col("v").alias("v1"))
    for ch, bit in _SHAPLEY_CHANNELS:
        v2 = v.select(
            (F.col("smask") - bit).alias("smask"), F.col("v").alias("v2")
        )
        phi = (
            v1.filter(F.expr(f"(smask DIV {bit}) % 2 = 0"))
            .join(v2, "smask")
            .agg(
                F.sum(w24 * (F.col("v2") - F.col("v1")))
                .cast("bigint")
                .alias("phi24_ppm")
            )
            .select(F.lit(ch).alias("channel"), "phi24_ppm")
        )
        rows = phi if rows is None else rows.unionAll(phi)
    tot = rows.agg(F.sum("phi24_ppm").alias("t"))
    return (
        rows.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "phi24_ppm",
            F.expr("phi24_ppm * 1000000 DIV t").alias("share_ppm"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the customer-part purchase graph
# ---------------------------------------------------------------------------

@register(
    "degree_assortativity_graph",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    du AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
    dp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
    j AS (SELECT du.d AS x, dp.d AS y
          FROM e JOIN du USING (u) JOIN dp USING (p)),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(CAST(SUM(x * x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS HUGEINT) AS DOUBLE) AS syy
      FROM j)
    SELECT n AS n_edges,
           CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000, 0) AS BIGINT) AS assortativity_micro
    FROM s
    """,
)
def degree_assortativity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer⋈part purchase bipartite
    graph: the Pearson correlation, over EDGES, between the two
    endpoints' degrees — positive means heavy buyers concentrate on
    popular parts (rich-club structure: recommendation and inventory
    models can exploit hubs), negative means heavy buyers live in the
    long tail, near zero certifies a degree-uncorrelated graph (what
    this corpus shows — an informative negative for any
    popularity-prior model). The structural companion of
    degree_distribution (the marginals) and triangle_count (closure).

    Exactness: degrees are exact integer counts; the edge-level Pearson
    rides exact int64 / HUGEINT-decimal sufficient statistics with one
    mirrored single-row double.

    Scale: edges dedup to DISTINCT (customer, part) — lineitem-bounded;
    the two degree joins are hint-free key joins back onto that edge
    set (fact-grain aggregates, AQE decides); one fused stats row out.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()  # edge set; feeds both degree legs + the join
    )
    du = e.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("dx"))
    dp = e.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("dy"))
    j = e.join(du, "u").join(dp, "p").select(
        F.col("dx").alias("x"), F.col("dy").alias("y")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_edges"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / (
                F.sqrt(
                    F.col("n").cast("double") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * F.sqrt(
                    F.col("n").cast("double") * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("assortativity_micro"),
    )


# ---------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain (journey predictability)
# ---------------------------------------------------------------------------

def _entropy_rate_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    return f"""
    WITH pi AS ({ORACLES["markov_stationary_profile"]}),
    seq AS (
      SELECT event_type AS s,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events),
    c AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
          FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
    n AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
    terms AS (
      SELECT CAST(round(
               (CAST(pi.stationary_ticks AS DOUBLE) / 1000000000000)
               * (CAST(c.c AS DOUBLE) / n.n)
               * ln(CAST(n.n AS DOUBLE) / c.c) * 1000000000, 0)
               AS BIGINT) AS tick
      FROM c JOIN n USING (s) JOIN pi ON pi.event_type = c.s),
    h0 AS (
      SELECT CAST(round(
               (CAST(stationary_ticks AS DOUBLE) / 1000000000000)
               * ln(1000000000000.0 / stationary_ticks)
               * 1000000000, 0) AS BIGINT) AS tick
      FROM pi WHERE stationary_ticks > 0)
    SELECT (SELECT CAST(SUM(tick) // 1000 AS BIGINT) FROM terms)
             AS entropy_rate_micronats,
           (SELECT CAST(SUM(tick) // 1000 AS BIGINT) FROM h0)
             AS stationary_entropy_micronats
    """


@register("markov_entropy_rate", oracle=_entropy_rate_oracle())
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the event-type Markov chain, H = −Σᵢ πᵢ Σⱼ
    Pᵢⱼ ln Pᵢⱼ (how unpredictable the NEXT step is, given the current
    one, under the stationary mix) next to the stationary entropy
    H(π) (how unpredictable a step is with no context). Their gap is
    exactly the predictability the 1-step context buys — the number
    that says whether journey-aware models (markov_absorption,
    event_trigram_paths) can beat marginal-frequency baselines at all.
    Composes the REGISTERED stationary distribution, so the two views
    share one definition of π.

    Exactness: π comes from the integer-picotick power iteration;
    every (i,j) term quantizes to nanonats before the bounded sum
    (≤|types|² terms); the two entropies are exact tick integers.

    Scale: one lead window reduces the corpus to the transition matrix
    (shared shape with the stationary op); everything else is
    arithmetic over ≤|types|² rows.
    """
    pi = markov_stationary_profile(spark, sf_dir).select(
        F.col("event_type").alias("s"), "stationary_ticks"
    )
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    )
    c = (
        seq.filter(F.col("t").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n = c.groupBy("s").agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        c.join(n, "s")
        .join(pi, "s")
        .select(
            F.round(
                (F.col("stationary_ticks").cast("double") / 1_000_000_000_000)
                * (F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("n").cast("double") / F.col("c"))
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("tick")
        )
        .agg(F.expr("CAST(SUM(tick) DIV 1000 AS BIGINT)").alias(
            "entropy_rate_micronats"
        ))
    )
    h0 = (
        pi.filter(F.col("stationary_ticks") > 0)
        .select(
            F.round(
                (F.col("stationary_ticks").cast("double") / 1_000_000_000_000)
                * F.log(F.lit(1_000_000_000_000.0) / F.col("stationary_ticks"))
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("tick")
        )
        .agg(F.expr("CAST(SUM(tick) DIV 1000 AS BIGINT)").alias(
            "stationary_entropy_micronats"
        ))
    )
    return terms.crossJoin(F.broadcast(h0))


# ---------------------------------------------------------------------------
# Cumulative user acquisition curve (distinct-users-ever by day)
# ---------------------------------------------------------------------------

@register(
    "cumulative_new_users_daily",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
    daily AS (SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS new_users
              FROM fs GROUP BY 1)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
             AS users_ever
    FROM daily ORDER BY day
    """,
)
def cumulative_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-acquisition curve: first-seen day per user, daily new
    users, and the running distinct-users-ever total — the cumulative
    companion of growth_accounting_daily's flow view (that op nets
    new/churned per day; this is the headline "total users" line whose
    flattening is the saturation signal dau_wau_stickiness normalizes
    by).

    Scale: events reduce to user grain (map-side-combinable MIN), then
    to |days| rows; the cumulative window runs over the bounded
    calendar series.
    """
    e = load_table(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    daily = fs.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("users_ever"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Round 7: part co-purchase graph — triangle census + link prediction
# ---------------------------------------------------------------------------

#: Co-purchase edge = two parts in the SAME order at least MINSUP times;
#: the support floor scales the graph sub-linearly (repeat co-occurrence
#: is rare), and the degree cap hard-bounds the quadratic wedge stage —
#: the graph twins of the dedup hot-bucket cap. Nodes whose support-
#: filtered degree exceeds DCAP are dropped deterministically (and
#: counted in the census output).
_CP_MINSUP = 2
_CP_DCAP = 48

#: Shared oracle CTE: the capped co-purchase edge set + adjacency +
#: post-cap degrees. Per-order pair fan-out is bounded by the order's
#: line count (≤ C(7,2) = 21 in TPC-H-shaped data).
_CP_GRAPH_CTE = f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    e0 AS (
      SELECT a.p AS x, b.p AS y
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= {_CP_MINSUP}),
    adj0 AS (SELECT x AS u, y AS v FROM e0
             UNION ALL SELECT y, x FROM e0),
    d0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj0 GROUP BY u),
    keep AS (SELECT u FROM d0 WHERE deg <= {_CP_DCAP}),
    e AS (
      SELECT e0.x, e0.y FROM e0
      JOIN keep ka ON e0.x = ka.u JOIN keep kb ON e0.y = kb.u),
    adj AS (SELECT x AS u, y AS v FROM e UNION ALL SELECT y, x FROM e),
    d AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY u)
"""


#: session-scoped build-once cache for the checkpointed graph frames:
#: eight registered operators share the same capped co-purchase graph,
#: and localCheckpoint'ed frames stay valid for the session — rebuilding
#: the support-filter + degree-cap pipeline per operator would pay the
#: ~2 s extraction eight times per bench pass (the ensure_* index
#: convention applied to in-session frames). A ``SessionMemo`` keyed by
#: (graph kind, sf_dir): an entry from another session (dead RDDs) or
#: over a rewritten lineitem is rebuilt.
_CP_GRAPH_CACHE = SessionMemo()


def _cp_memo(spark: SparkSession, sf_dir: str, kind: str, build):
    """The ``kind`` graph frames of ``sf_dir`` from the memo, or
    ``build()``; every graph tier derives from lineitem alone."""
    import os as _os

    return _CP_GRAPH_CACHE.fetch(
        spark,
        (kind, _os.path.realpath(sf_dir)),
        [_os.path.join(sf_dir, "lineitem.parquet")],
        build,
    )


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """Spark twin of ``_CP_GRAPH_CTE``: returns (edges, adj, deg) — the
    capped co-purchase edge set (checkpointed), its symmetric adjacency,
    and post-cap degrees. The support floor + degree cap keep all three
    small EMPIRICALLY (2.3k-3.6k edges across sf0.001-0.1) but the
    worst case is nodes x DCAP/2 with nodes from part (SF-linear), so
    no join here carries a broadcast hint — AQE broadcasts the
    checkpointed (hence size-known) frames at every SF where they fit
    and falls back to shuffle joins when they don't."""
    return _cp_memo(
        spark, sf_dir, "graph", lambda: _build_copurchase_graph(spark, sf_dir)
    )


def _build_copurchase_graph(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    # pairs born per order from the sorted distinct part list (the
    # supplier_overlap_jaccard device) — ONE shuffle by orderkey, no
    # fact self-join; fan-out ≤ C(order line count, 2)
    # ONE pinned-width exchange (r12, §2.4/§2.6): hash-partition the
    # projected fact by orderkey up front — the groupBy below then
    # shuffles nothing, and the explicit REPARTITION_BY_NUM pins the
    # pair fan-out stage's width against AQE's byte-sized coalescing
    # (the fan-out is CPU-bound per input byte: C(lines,2) structs per
    # order). Paired N=3 for the e0 build at sf0.1: 2.2 s (AQE-
    # coalesced) / 1.5 s (post-hoc spread) / 1.0 s (this shape).
    li = li.select("l_orderkey", "l_partkey").repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    )
    ps = li.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = ps.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (a, i) ->"
                " transform(slice(ps, i + 2, size(ps)),"
                " b -> struct(a AS x, b AS y))))"
            )
        ).alias("pr")
    ).select("pr.x", "pr.y")
    e0 = (
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _CP_MINSUP)
        .select("x", "y")
        .localCheckpoint()  # support-filtered edges feed d0, keep AND e
    )
    adj0 = e0.select(F.col("x").alias("u"), F.col("y").alias("v")).unionAll(
        e0.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    d0 = (
        adj0.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint()  # read by keep and the census hub count
    )
    keep = d0.filter(F.col("deg") <= _CP_DCAP).select("u")
    # hint-free: keep is capped (support floor + degree cap, measured
    # 2.3k-3.6k rows across sf0.001-0.1) but only EMPIRICALLY — its
    # worst case is nodes x DCAP/2 with nodes drawn from part, which is
    # SF-linear. AQE broadcasts it at every SF where it actually fits;
    # a forced hint would bypass autoBroadcastJoinThreshold (the r7
    # verdict's scale-killer class, same de-hint as r4/r5).
    e = (
        e0.join(keep.withColumnRenamed("u", "x"), "x")
        .join(keep.withColumnRenamed("u", "y"), "y")
        .select("x", "y")
        .localCheckpoint()  # tiny capped edge set; read by every stage
    )
    adj = e.select(F.col("x").alias("u"), F.col("y").alias("v")).unionAll(
        e.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    return e, adj, deg, d0


@register(
    "copurchase_triangle_census",
    oracle=_CP_GRAPH_CTE
    + """
    , w AS (
      SELECT a.v AS x, b.v AS y
      FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v),
    closed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m
      FROM w JOIN e ON w.x = e.x AND w.y = e.y),
    s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d0
              WHERE deg > {dcap}) AS n_dropped_hubs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS wedges,
             (SELECT m FROM closed) AS closed_wedges)
    SELECT n_nodes, n_edges, n_dropped_hubs, wedges,
           CAST(closed_wedges // 3 AS BIGINT) AS triangles,
           CAST(round(CAST(closed_wedges AS DOUBLE)
             / CAST(wedges AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS global_cc_micro
    FROM s
    """.format(dcap=_CP_DCAP),
)
def copurchase_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the part
    co-purchase graph (parts linked when bought together in ≥2 orders):
    triangles = cliques of mutually co-bought parts — the bundle
    signal one notch above basket_pairs' edge lift; the global CC
    (closed/total wedges) says whether co-purchase is CLIQUEY (bundle
    merchandising works) or HUB-LIKE (a few staples co-occur with
    everything — recommend by popularity instead).

    Scale: per-order pair fan-out is bounded by the order's line count
    (≤21 pairs); the support floor shrinks the edge set sub-linearly
    (measured: 2.3k→3.4k→3.6k edges across sf0.001→0.1); the degree cap
    makes the wedge self-join quadratic-bounded at (DCAP)² per node —
    the dedup hot-bucket device on a graph. Every triangle closes 3
    wedges on the capped subgraph, so triangles = closed // 3 exactly.

    Exactness: pure integer counting; the only double is the final CC
    ratio, mirrored.
    """
    e, adj, deg, d0 = _copurchase_graph(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    w = a.join(
        b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v"))
    ).select(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
    wedges = w.agg(F.count(F.lit(1)).cast("bigint").alias("wedges"))
    closed = (
        w.join(e, ["x", "y"])  # hint-free: AQE broadcasts e when it fits
        .agg(F.count(F.lit(1)).cast("bigint").alias("closed_wedges"))
    )
    stats = (
        deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
        .crossJoin(
            d0.filter(F.col("deg") > _CP_DCAP).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_dropped_hubs")
            )
        )
        .crossJoin(wedges)
        .crossJoin(closed)
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_dropped_hubs",
        "wedges",
        F.expr("CAST(closed_wedges DIV 3 AS BIGINT)").alias("triangles"),
        F.expr(
            "CAST(round(CAST(closed_wedges AS DOUBLE)"
            " / CAST(wedges AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("global_cc_micro"),
    )


@register(
    "adamic_adar_link_topk",
    oracle=_CP_GRAPH_CTE
    + """
    , w AS (
      SELECT a.v AS x, b.v AS y, a.u AS m
      FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v),
    open_w AS (
      SELECT w.x, w.y, w.m FROM w
      LEFT JOIN e ON w.x = e.x AND w.y = e.y
      WHERE e.x IS NULL),
    sc AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(round(1000000E0 / ln(CAST(d.deg AS DOUBLE)), 0)
               AS BIGINT)) AS BIGINT) AS aa_micro
      FROM open_w JOIN d ON open_w.m = d.u
      GROUP BY x, y)
    SELECT x AS part_a, y AS part_b, n_common, aa_micro
    FROM sc ORDER BY aa_micro DESC, x, y LIMIT 20
    """,
)
def adamic_adar_link_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-purchase graph: the top-20
    part pairs NOT yet co-bought (≥2×) whose common neighbors — rare
    ones up-weighted by 1/ln(degree) — most strongly predict they will
    be: the classic cold-start "customers who bought these also
    bought…" candidate list, next to event_type_affinity's realized
    lift (this op ranks the UNREALIZED edges).

    Exactness: each common-neighbor contribution 1/ln(deg_w) quantizes
    to micro PER TERM before the pair sum (the per-term tick device),
    so the distributed sum is exact int64; top-20 selection orders by
    (score, part_a, part_b) — fully deterministic under ties. Every
    middle node of a wedge has post-cap degree ≥ 2, so ln(deg) > 0.

    Scale: the same capped wedge generator as the triangle census —
    (DCAP)²-bounded per node; candidate pairs materialize only at the
    capped wedge grain and the anti-join against the small edge set is
    hint-free (AQE picks broadcast when it fits).
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    w = a.join(
        b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v"))
    ).select(
        F.col("a.v").alias("x"), F.col("b.v").alias("y"), F.col("a.u").alias("m")
    )
    # hint-free (r7 verdict): the capped edge/degree sets are small
    # empirically, not provably — AQE broadcasts them when they fit
    open_w = w.join(e, ["x", "y"], "left_anti")
    sc = (
        open_w.join(
            deg.withColumnRenamed("u", "m"), "m"
        )
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(round(1000000E0 / ln(CAST(deg AS DOUBLE)), 0)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("aa_micro"),
        )
    )
    return (
        sc.orderBy(F.desc("aa_micro"), "x", "y")
        .limit(20)
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "n_common",
            "aa_micro",
        )
    )


# ---------------------------------------------------------------------------
# Round 8: co-purchase graph structure — components, cores, local metrics
# ---------------------------------------------------------------------------

# The oracles below need transitive closure / iterative peeling, so the
# shared graph CTE gains the RECURSIVE keyword. Marker-asserted (the
# ansari lesson): a silent no-op replace would leave plain WITH and the
# recursive members would fail to parse, not silently diverge — but
# assert anyway so drift is an import error, not a sweep error.
_CP_CTE_MARKER = "WITH op AS"
assert _CP_CTE_MARKER in _CP_GRAPH_CTE, "co-purchase CTE head drifted"
_CP_GRAPH_CTE_REC = _CP_GRAPH_CTE.replace(
    _CP_CTE_MARKER, "WITH RECURSIVE op AS", 1
)

#: min-label fixpoint via transitive closure: each node's component id
#: is the MIN reachable node — the same fixpoint the distributed
#: pointer-jumping loop converges to (the dedup_clusters device, on the
#: co-purchase graph). Closure rows = Σ|component|² over a capped graph
#: — fine for an oracle at sf0.01, which is exactly why the Spark side
#: propagates labels instead of materializing reachability.
_CP_CC_CTE = (
    _CP_GRAPH_CTE_REC
    + """
    , reach(u, r) AS (
      SELECT u, u FROM d
      UNION
      SELECT a.u, reach.r FROM adj a JOIN reach ON a.v = reach.u),
    lab AS (SELECT u, MIN(r) AS c FROM reach GROUP BY u)
"""
)


def _cp_cc_labels(spark: SparkSession, sf_dir: str):
    """Connected-component labels (u, label) of the capped co-purchase
    graph via iterative min-label propagation with pointer jumping —
    the dedup `_cc_labels` loop re-hosted on the part graph. Returns
    (labels, e, adj, deg).

    Scale: each round is ONE shuffle keyed by node (join + groupBy-min)
    plus a self-lookup jump; pointer jumping collapses label chains
    geometrically so rounds ~ log2(diameter). Per-round localCheckpoint
    truncates lineage (round k must not replay rounds 1..k-1); the
    convergence probe reads the `old` column carried inside the
    checkpointed frame — a bounded limit(1).count(), not a collect.

    The converged label frame is cached per (session, sf_dir) like the
    graph itself: the components and profile operators share one
    propagation run."""
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    labels = _cp_memo(spark, sf_dir, "cc", lambda: _cp_propagate(adj, deg))
    return labels, e, adj, deg


def _cp_propagate(adj: DataFrame, deg: DataFrame) -> DataFrame:
    labels = deg.select("u").withColumn("label", F.col("u")).localCheckpoint()
    edges = adj.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).localCheckpoint()
    for i in range(12):
        neigh = (
            edges.join(labels, edges.dst == labels.u)
            .groupBy(F.col("src").alias("nu"))
            .agg(F.min("label").alias("nlabel"))
        )
        # r12: relaxed is NOT checkpointed — recomputing the tiny
        # neigh join for the second jump side is cheaper than the
        # per-round materialization job (paired: the 7-round loop fell
        # 3.8-5.3 -> ~3.5 s at sf0.1); the per-round labels checkpoint
        # below still truncates lineage every round.
        relaxed = labels.join(neigh, labels.u == neigh.nu, "left").select(
            "u",
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("mid"),
        )
        rep = relaxed.select(
            F.col("u").alias("rnode"), F.col("mid").alias("rlabel")
        )
        labels = (
            relaxed.join(rep, relaxed.mid == rep.rnode, "left")
            .select(
                "u",
                "old",
                F.least(
                    F.col("mid"), F.coalesce(F.col("rlabel"), F.col("mid"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # probe from round 3 (r12): earlier convergence is impossible on
        # any graph with an edge, and a skipped probe merely runs an
        # idempotent extra round — saves 2 probe jobs per query
        if i >= 2 and (
            labels.filter(F.col("label") != F.col("old")).limit(1).count()
            == 0
        ):
            break
    else:  # r8 ADVICE: never fall through unconverged silently — an
        # unconverged label frame at an unswept SF would be wrong with
        # no signal. Pointer-jumping doubles reach per round, so 12
        # rounds cover components of diameter 2^12; exhaustion means
        # the cap assumption broke, not a slow corpus.
        raise RuntimeError(
            "copurchase CC label propagation did not converge in 12 rounds"
        )
    return labels.select("u", "label").localCheckpoint()


@register(
    "copurchase_connected_components",
    oracle=_CP_CC_CTE
    + """
    , sizes AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS sz FROM lab GROUP BY c)
    SELECT sz AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(sz * COUNT(*) AS BIGINT) AS n_nodes
    FROM sizes GROUP BY sz ORDER BY component_size
    """,
)
def copurchase_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph as a size
    histogram — the market-structure census: one giant component means
    the catalog cross-sells as a single ecosystem (recommendations can
    walk anywhere); many small components mean isolated bundles (walk
    within, advertise across).

    Algorithm: min-label propagation with pointer jumping (rounds ~
    log2(diameter), one shuffle each) — the dedup_clusters CC device on
    the part graph. Oracle: DuckDB recursive-CTE transitive closure
    taking MIN over the reachable set — a different algorithm arriving
    at the same fixpoint, so the hash match proves CONVERGENCE, not
    just shape.

    Scale: labels/edges are the capped co-purchase frames (support
    floor + degree cap); no broadcast hints anywhere — AQE picks the
    strategy per round. Cites reference scope: graph structure is an
    extension axis (prompts.py has no graph surface).
    """
    labels, _, _, _ = _cp_cc_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").alias("component_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .select(
            "component_size",
            "n_components",
            (F.col("component_size") * F.col("n_components"))
            .cast("bigint")
            .alias("n_nodes"),
        )
        .orderBy("component_size")
    )


@register(
    "copurchase_component_profile",
    oracle=_CP_CC_CTE
    + """
    , cn AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM lab GROUP BY c),
    ce AS (
      SELECT l.c, CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM e JOIN lab l ON e.x = l.u GROUP BY l.c)
    SELECT cn.c AS component_id, cn.n_nodes, ce.n_edges,
           CAST(round(2000000E0 * CAST(ce.n_edges AS DOUBLE)
             / (CAST(cn.n_nodes AS DOUBLE)
                * CAST(cn.n_nodes - 1 AS DOUBLE)), 0) AS BIGINT)
             AS density_micro
    FROM cn JOIN ce ON cn.c = ce.c
    ORDER BY cn.n_nodes DESC, ce.n_edges DESC, component_id LIMIT 10
    """,
)
def copurchase_component_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 co-purchase components by size with edge count and
    density — WHICH cross-sell ecosystems exist and how tightly each is
    wired (a dense small component is a true bundle; the sparse giant
    component is a browsing graph).

    Edges attach to components via their x endpoint (both endpoints
    share a component by construction). Density = 2m/(n(n-1)) in micro
    ticks, mirrored as one double expression over integer counts.
    Deterministic under ties: ORDER BY (n_nodes, n_edges, id).

    Scale: same capped frames + label propagation as
    copurchase_connected_components; the per-component rollup is
    bounded by the component count.
    """
    labels, e, _, _ = _cp_cc_labels(spark, sf_dir)
    cn = labels.groupBy(F.col("label").alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    ce = (
        e.join(labels.withColumnRenamed("u", "x"), "x")
        .groupBy(F.col("label").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    dens = F.round(
        F.lit(2_000_000.0)
        * F.col("n_edges").cast("double")
        / (
            F.col("n_nodes").cast("double")
            * (F.col("n_nodes") - 1).cast("double")
        ),
        0,
    ).cast("bigint")
    return (
        cn.join(ce, "c")
        .select(
            F.col("c").alias("component_id"),
            "n_nodes",
            "n_edges",
            dens.alias("density_micro"),
        )
        .orderBy(F.desc("n_nodes"), F.desc("n_edges"), "component_id")
        .limit(10)
    )


@register(
    "copurchase_kcore_summary",
    oracle=_CP_GRAPH_CTE_REC
    + """
    , core2(i, u) AS (
      SELECT 0, u FROM d
      UNION
      SELECT c.i + 1, c.u FROM core2 c
      WHERE c.i < 12
        AND (SELECT COUNT(*) FROM adj a JOIN core2 c2
               ON a.v = c2.u AND c2.i = c.i
             WHERE a.u = c.u) >= 2),
    core3(i, u) AS (
      SELECT 0, u FROM d
      UNION
      SELECT c.i + 1, c.u FROM core3 c
      WHERE c.i < 12
        AND (SELECT COUNT(*) FROM adj a JOIN core3 c2
               ON a.v = c2.u AND c2.i = c.i
             WHERE a.u = c.u) >= 3),
    k2 AS (SELECT u FROM core2 WHERE i = 12),
    k3 AS (SELECT u FROM core3 WHERE i = 12),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM d),
    s AS (
      SELECT 2 AS k,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM k2) AS n_core_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e
              JOIN k2 a ON e.x = a.u JOIN k2 b ON e.y = b.u) AS n_core_edges
      UNION ALL
      SELECT 3,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM k3),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e
              JOIN k3 a ON e.x = a.u JOIN k3 b ON e.y = b.u))
    SELECT s.k, s.n_core_nodes, s.n_core_edges,
           CAST(round(1000000E0 * CAST(s.n_core_nodes AS DOUBLE)
             / CAST(t.n_all AS DOUBLE), 0) AS BIGINT) AS node_share_micro
    FROM s CROSS JOIN tot t ORDER BY s.k
    """,
)
def copurchase_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core and 3-core of the co-purchase graph: nodes/edges
    surviving iterative peeling (drop nodes with induced degree < k
    until stable) and the surviving node share — the dense-backbone
    size. The 2-core strips dangling pendant parts (kill the tree
    fringe and what remains cycles); the 3-core is where bundle
    merchandising actually has material.

    Algorithm: monotone peeling — survivors(i+1) = nodes with ≥ k
    neighbors among survivors(i); converged when the survivor count
    stops falling (survivors only shrink, so count equality is set
    equality). The oracle peels exactly 12 bounded rounds in a
    recursive CTE; the Spark loop stops at convergence — identical
    results whenever convergence happens within 12 rounds, which the
    replay test pins by asserting a 13th round changes nothing.

    Scale: each round is two joins against the (capped) alive set +
    one degree aggregate, all hint-free; rounds are ≤ peel depth,
    observed ≤ 4 on this corpus at every SF.
    """
    # r12 negative result: a keyed single loop (alive carrying k, the
    # s-core device) measured WORSE here — 5.50 -> 6.59 s paired N=3,
    # tasks 250 -> 669 — because both tiers then ride max(rounds) over
    # a doubled frame while the 2-loop form's k=2 leg converges in
    # fewer rounds; kept the per-k loops.
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    n_all = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    rows = []
    for k in (2, 3):
        alive = deg.select("u").localCheckpoint()
        prev = alive.count()
        for _ in range(12):
            ind = (
                e.join(alive.withColumnRenamed("u", "x"), "x")
                .join(alive.withColumnRenamed("u", "y"), "y")
            )
            dg = (
                ind.select(F.col("x").alias("u"))
                .unionAll(ind.select(F.col("y").alias("u")))
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("dg"))
            )
            nxt = dg.filter(F.col("dg") >= k).select("u").localCheckpoint()
            cur = nxt.count()
            alive = nxt
            if cur == prev:
                break
            prev = cur
        else:  # r8 ADVICE: surface non-convergence instead of silently
            # returning a partially-peeled core.
            raise RuntimeError(
                f"k-core peeling (k={k}) did not converge in 12 rounds"
            )
        core_edges = (
            e.join(alive.withColumnRenamed("u", "x"), "x")
            .join(alive.withColumnRenamed("u", "y"), "y")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_core_edges"))
        )
        rows.append(
            alive.agg(F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"))
            .withColumn("k", F.lit(k))
            .crossJoin(core_edges)
        )
    out = rows[0].unionByName(rows[1])
    return (
        out.crossJoin(n_all)
        .select(
            "k",
            "n_core_nodes",
            "n_core_edges",
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_core_nodes").cast("double")
                / F.col("n_all").cast("double"),
                0,
            )
            .cast("bigint")
            .alias("node_share_micro"),
        )
        .orderBy("k")
    )


@register(
    "copurchase_jaccard_topk",
    oracle=_CP_GRAPH_CTE
    + """
    , w AS (
      SELECT a.v AS x, b.v AS y, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
      GROUP BY 1, 2),
    sc AS (
      SELECT w.x, w.y, w.n_common,
             dx.deg + dy.deg - w.n_common AS n_union,
             CASE WHEN ex.x IS NULL THEN 0 ELSE 1 END AS is_edge
      FROM w JOIN d dx ON w.x = dx.u JOIN d dy ON w.y = dy.u
      LEFT JOIN e ex ON w.x = ex.x AND w.y = ex.y)
    SELECT x AS part_a, y AS part_b, n_common,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(is_edge AS BIGINT) AS is_edge,
           CAST(round(1000000E0 * CAST(n_common AS DOUBLE)
             / CAST(n_union AS DOUBLE), 0) AS BIGINT) AS jaccard_micro
    FROM sc
    ORDER BY jaccard_micro DESC, part_a, part_b LIMIT 20
    """,
)
def copurchase_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by neighborhood Jaccard |N(x)∩N(y)| /
    |N(x)∪N(y)| on the co-purchase graph — the SUBSTITUTE detector:
    two parts bought with the same things but rarely together are
    interchangeable (is_edge says which). Complements adamic_adar
    (which up-weights rare common neighbors and only ranks non-edges).

    Exactness: numerator and denominator are exact integers off the
    wedge grain and the degree table; one mirrored double division
    quantized to micro. Deterministic: ORDER BY (jaccard, a, b).

    Scale: candidates materialize only at the (DCAP)²-bounded wedge
    grain; degree/edge joins are hint-free over the capped frames.
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    w = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")))
        .groupBy(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sc = (
        w.join(deg.select(F.col("u").alias("x"), F.col("deg").alias("dx")), "x")
        .join(deg.select(F.col("u").alias("y"), F.col("deg").alias("dy")), "y")
        .join(e.withColumn("is_e", F.lit(1)), ["x", "y"], "left")
        .select(
            "x",
            "y",
            "n_common",
            (F.col("dx") + F.col("dy") - F.col("n_common"))
            .cast("bigint")
            .alias("n_union"),
            F.coalesce(F.col("is_e"), F.lit(0)).cast("bigint").alias("is_edge"),
        )
    )
    return (
        sc.select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "n_common",
            "n_union",
            "is_edge",
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_common").cast("double")
                / F.col("n_union").cast("double"),
                0,
            )
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy(F.desc("jaccard_micro"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "copurchase_local_clustering_topk",
    oracle=_CP_GRAPH_CTE
    + """
    , w AS (
      SELECT a.u AS m, a.v AS x, b.v AS y
      FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v),
    cw AS (
      SELECT w.m, CAST(COUNT(*) AS BIGINT) AS closed
      FROM w JOIN e ON w.x = e.x AND w.y = e.y GROUP BY w.m)
    SELECT d.u AS part_key, d.deg,
           CAST(COALESCE(cw.closed, 0) AS BIGINT) AS closed_wedges,
           CAST(round(2000000E0 * CAST(COALESCE(cw.closed, 0) AS DOUBLE)
             / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE)), 0)
             AS BIGINT) AS local_cc_micro
    FROM d LEFT JOIN cw ON d.u = cw.m
    WHERE d.deg >= 2
    ORDER BY local_cc_micro DESC, d.deg DESC, part_key LIMIT 20
    """,
)
def copurchase_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by LOCAL clustering coefficient (closed wedges at
    the node over C(deg,2)) — the per-part version of the census's
    global CC: a part whose neighborhood is fully wired anchors a true
    bundle; a hub with cc≈0 is a staple that co-occurs with everything
    and predicts nothing. Deterministic: (cc, deg, part).

    Exactness: closed counts and degrees are integers; one mirrored
    micro-quantized double per node.

    Scale: the wedge generator is the census's (DCAP)²-bounded
    midpoint self-join; the per-node rollup is |nodes|-bounded,
    hint-free throughout.
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    w = a.join(
        b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v"))
    ).select(
        F.col("a.u").alias("m"), F.col("a.v").alias("x"), F.col("b.v").alias("y")
    )
    cw = (
        w.join(e, ["x", "y"])
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("closed"))
    )
    cc = F.round(
        F.lit(2_000_000.0)
        * F.coalesce(F.col("closed"), F.lit(0)).cast("double")
        / (F.col("deg").cast("double") * (F.col("deg") - 1).cast("double")),
        0,
    ).cast("bigint")
    return (
        deg.join(cw, deg.u == cw.m, "left")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("u").alias("part_key"),
            "deg",
            F.coalesce(F.col("closed"), F.lit(0))
            .cast("bigint")
            .alias("closed_wedges"),
            cc.alias("local_cc_micro"),
        )
        .orderBy(F.desc("local_cc_micro"), F.desc("deg"), "part_key")
        .limit(20)
    )


@register(
    "copurchase_local_bridges",
    oracle=_CP_GRAPH_CTE
    + """
    , w AS (
      SELECT a.v AS x, b.v AS y
      FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v),
    closed AS (SELECT DISTINCT w.x, w.y FROM w
               JOIN e ON w.x = e.x AND w.y = e.y),
    s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e
              ANTI JOIN closed ON e.x = closed.x AND e.y = closed.y)
               AS n_local_bridges)
    SELECT n_edges, n_local_bridges,
           CAST(round(1000000E0 * CAST(n_local_bridges AS DOUBLE)
             / CAST(n_edges AS DOUBLE), 0) AS BIGINT) AS bridge_share_micro
    FROM s
    """,
)
def copurchase_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of co-purchase edges that are LOCAL BRIDGES (no common
    neighbor — the edge sits in no triangle): high share means the
    graph is held together by weak ties (Granovetter's structure —
    cross-sell paths are fragile and each link is novel information);
    low share means redundant clique wiring.

    Exactness: pure integer counting (edges anti-joined against the
    distinct closed wedge-pair set) + one mirrored micro ratio.

    Scale: same capped wedge generator; the anti join runs over the
    capped edge set, hint-free.
    """
    e, adj, _, _ = _copurchase_graph(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    w = a.join(
        b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v"))
    ).select(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
    closed = w.join(e, ["x", "y"]).select("x", "y").distinct()
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_bridge = (
        e.join(closed, ["x", "y"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_local_bridges"))
    )
    return n_edges.crossJoin(n_bridge).select(
        "n_edges",
        "n_local_bridges",
        F.round(
            F.lit(1_000_000.0)
            * F.col("n_local_bridges").cast("double")
            / F.col("n_edges").cast("double"),
            0,
        )
        .cast("bigint")
        .alias("bridge_share_micro"),
    )


@register(
    "copurchase_eigenvector_topk",
    oracle=_CP_GRAPH_CTE_REC
    + """
    , ev(i, u, s) AS (
      SELECT 0, u, CAST(1000000 AS BIGINT) FROM d
      UNION
      SELECT c.i + 1, c.u,
             CAST(round(1000000E0 * CAST(
               (SELECT SUM(r2.s) FROM adj a JOIN ev r2
                  ON a.v = r2.u AND r2.i = c.i WHERE a.u = c.u)
               AS DOUBLE) / CAST(
               (SELECT MAX(m.ns) FROM (
                  SELECT SUM(r3.s) AS ns FROM adj a2 JOIN ev r3
                    ON a2.v = r3.u AND r3.i = c.i
                  GROUP BY a2.u) m)
               AS DOUBLE), 0) AS BIGINT)
      FROM ev c WHERE c.i < 10)
    SELECT u AS part_key, s AS centrality_micro
    FROM ev WHERE i = 10
    ORDER BY centrality_micro DESC, part_key LIMIT 20
    """,
)
def copurchase_eigenvector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by eigenvector centrality on the co-purchase graph
    — influence weighted by the influence of your co-purchases, the
    prestige metric PageRank approximates with damping; a part scoring
    high here sits at the center of the densest cross-sell mass (the
    flagship-product detector), distinct from raw degree (a hub wired
    to leaves scores low).

    Algorithm: 10 fixed power-iteration steps x_{k+1} = A·x_k / max,
    with the per-step quantization to integer micro BEFORE the next
    multiply — both engines walk a bit-identical integer trajectory
    (the raking/EWMA fixpoint device), so the oracle (a recursive CTE
    re-running the same 10 steps) proves the recursion, not just the
    final shape. The step count is the op's spec, not a convergence
    knob: quantized renormalized iterates are deterministic at ANY
    step, and 10 steps separate the leaders on this corpus.

    Scale: each step is one shuffle keyed by node over the capped
    adjacency + a 1-row max; hint-free throughout.
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    edges = capture_stage(
        adj.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    ).localCheckpoint()
    x = (
        capture_stage(
            deg.select("u")
            .withColumn("s", F.lit(1_000_000).cast("bigint"))
        )
        .localCheckpoint()
    )
    for _ in range(10):
        # materialize ns ONCE per step — the nonlinear max step reads
        # ns twice (as the crossJoin left and under the 1-row max), and
        # with the checkpoint formerly on x both reads re-ran the
        # edges ⋈ x aggregation (r11: 2 join+agg jobs per step -> 1;
        # the max agg over the checkpointed ns is a cheap second read).
        ns = capture_stage(
            edges.join(x, edges.dst == x.u)
            .groupBy(F.col("src").alias("nu"))
            .agg(F.sum("s").alias("ns"))
        ).localCheckpoint()
        # the 1-row max rides a crossJoin (lazy BNLJ) rather than a
        # per-step driver collect — measured: the synchronous collect
        # round-trip per step is SLOWER locally (2.22 -> 2.69 s) than
        # letting the max agg chain into the next step's job (r11 A/B)
        mx = ns.agg(F.max("ns").alias("mx"))
        x = ns.crossJoin(mx).select(
            F.col("nu").alias("u"),
            F.round(
                F.lit(1_000_000.0)
                * F.col("ns").cast("double")
                / F.col("mx").cast("double"),
                0,
            )
            .cast("bigint")
            .alias("s"),
        )
    return (
        x.select(F.col("u").alias("part_key"), F.col("s").alias("centrality_micro"))
        .orderBy(F.desc("centrality_micro"), "part_key")
        .limit(20)
    )


@register(
    "copurchase_avg_neighbor_degree",
    oracle=_CP_GRAPH_CTE
    + """
    , pernode AS (
      SELECT a.u, d1.deg,
             CAST(round(1000000E0 * CAST(SUM(d2.deg) AS DOUBLE)
               / CAST(d1.deg AS DOUBLE), 0) AS BIGINT) AS mnd_micro
      FROM adj a JOIN d d1 ON a.u = d1.u JOIN d d2 ON a.v = d2.u
      GROUP BY a.u, d1.deg)
    SELECT deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(round(CAST(SUM(mnd_micro) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
             AS avg_neighbor_degree_micro
    FROM pernode GROUP BY deg ORDER BY degree
    """,
)
def copurchase_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k): for each degree k, the
    mean over degree-k parts of their neighbors' mean degree — the
    assortativity CURVE behind degree_assortativity_graph's single r
    (a falling curve = hubs attach to leaves = disassortative retail
    wiring; the curve shows WHERE the mixing turns over, which r
    cannot).

    Exactness: per-node mean neighbor degree quantized to integer
    micro (Σdeg is exact, ONE division), then the per-k mean is an
    integer sum over nodes with ONE final mirrored division — no
    cross-node double accumulation.

    Scale: one adjacency-degree join + two bounded rollups (|nodes|,
    then ≤ DCAP degree values), hint-free.
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    pernode = (
        adj.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v"
        )
        .groupBy("u", "du")
        .agg(
            F.round(
                F.lit(1_000_000.0)
                * F.sum("dv").cast("double")
                / F.col("du").cast("double"),
                0,
            )
            .cast("bigint")
            .alias("mnd_micro")
        )
    )
    return (
        pernode.groupBy(F.col("du").alias("degree"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.round(
                F.sum("mnd_micro").cast("double")
                / F.count(F.lit(1)).cast("double"),
                0,
            )
            .cast("bigint")
            .alias("avg_neighbor_degree_micro"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Round 7: scale-path estimation infrastructure
# ---------------------------------------------------------------------------

#: Poisson-bootstrap replicate count and the Poisson(1) CDF thresholds
#: (e⁻¹·Σ 1/k!) written as identical literals in both engines; weights
#: cap at 8 (P > 8 ≈ 1e-6 — stated truncation).
_PB_B = 32
_PB_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167589426136", "0.9999897508033253",
)


def _pb_weight_sql(u: str) -> str:
    """CASE ladder mapping a uniform to a Poisson(1) multiplicity —
    shared text for both engines."""
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_PB_CDF)
    )
    return f"(CASE {cases} ELSE 8 END)"


@register(
    "poisson_bootstrap_se_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS yc
      FROM orders GROUP BY 1),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS s1,
             CAST(SUM(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS s2
      FROM daily),
    rep AS (
      SELECT d.day, d.yc, b.b,
             {_pb_weight_sql(
                 "(CAST(concat('0x', substr(md5('pb:' || CAST(d.day AS VARCHAR)"
                 " || ':' || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT)"
                 " / 4294967296E0)"
             )} AS w
      FROM daily d CROSS JOIN
           (SELECT unnest(generate_series(0, {_PB_B - 1})) AS b) b),
    bm AS (
      SELECT b, CAST(SUM(w) AS BIGINT) AS nb,
             CAST(SUM(CAST(w AS BIGINT) * yc) AS BIGINT) AS sb
      FROM rep GROUP BY b HAVING SUM(w) > 0),
    mm AS (
      SELECT b, CAST(round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 0)
               AS BIGINT) AS mb
      FROM bm),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS beff,
             CAST(SUM(mb) AS BIGINT) AS sm,
             CAST(SUM(CAST(mb AS HUGEINT) * mb) AS HUGEINT) AS qm
      FROM mm)
    SELECT st.n AS n_days, agg.beff AS b_resamples,
           CAST(round(sqrt((CAST(qm AS DOUBLE)
             - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
               / CAST(beff AS DOUBLE)) / CAST(beff - 1 AS DOUBLE)), 0)
             AS BIGINT) AS se_boot_cents,
           CAST(round(sqrt((CAST(s2 AS DOUBLE) / CAST(st.n AS DOUBLE)
             - (CAST(s1 AS DOUBLE) / CAST(st.n AS DOUBLE))
               * (CAST(s1 AS DOUBLE) / CAST(st.n AS DOUBLE)))
             / CAST(st.n AS DOUBLE)), 0) AS BIGINT) AS se_analytic_cents
    FROM agg, st
    """,
)
def poisson_bootstrap_se_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap standard error of mean daily revenue from
    {_PB_B} DETERMINISTIC resamples — the bootstrap that actually works
    on a cluster: multinomial resampling needs the global row count up
    front and a shared random state, Poisson multiplicities are per-row
    independent (each row draws its weight from a hash — one pass, no
    coordination, restart-safe), which is why it's the standard
    engine-side bootstrap at fleet scale. The analytic σ/√n rides along
    so the test can assert the device calibrates.

    Exactness: weights come from a CASE ladder over the md5-uniform
    against Poisson(1) CDF literals (identical text both engines);
    per-replicate sums are exact integers; each replicate mean
    quantizes to whole cents before the across-replicate moment sums
    (per-term device), and both SEs are one mirrored expression.

    Scale: the replicate fan-out is |days|×{_PB_B} rows of integers —
    state bounded by the calendar, not the fact table (facts reduce to
    the day grain first).
    """
    o = load_table(spark, sf_dir, "orders")
    from ai_etl_studio_spark.functions.exact import cents

    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("yc"))
        .localCheckpoint()  # day grain; read by stats AND the fan-out
    )
    st = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yc").cast("bigint").alias("s1"),
        F.sum(F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    b = spark.createDataFrame([(i,) for i in range(_PB_B)], "b int")
    u = (
        "(CAST(conv(substring(md5(concat('pb:', CAST(day AS STRING), ':',"
        " CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296E0)"
    )
    rep = daily.crossJoin(F.broadcast(b)).select(
        "day", "yc", "b", F.expr(_pb_weight_sql(u)).alias("w")
    )
    bm = (
        rep.groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("nb"),
            F.sum(F.col("w").cast("bigint") * F.col("yc"))
            .cast("bigint")
            .alias("sb"),
        )
        .filter(F.col("nb") > 0)
    )
    mm = bm.select(
        F.expr(
            "CAST(round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 0)"
            " AS BIGINT)"
        ).alias("mb")
    )
    agg = mm.agg(
        F.count(F.lit(1)).cast("bigint").alias("beff"),
        F.sum("mb").cast("bigint").alias("sm"),
        F.sum(F.col("mb").cast("decimal(19,0)") * F.col("mb").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("qm"),
    )
    return agg.crossJoin(F.broadcast(st)).select(
        F.col("n").alias("n_days"),
        F.col("beff").alias("b_resamples"),
        F.expr(
            "CAST(round(sqrt((CAST(qm AS DOUBLE)"
            " - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)"
            "   / CAST(beff AS DOUBLE)) / CAST(beff - 1 AS DOUBLE)), 0)"
            " AS BIGINT)"
        ).alias("se_boot_cents"),
        F.expr(
            "CAST(round(sqrt((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
            "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
            " / CAST(n AS DOUBLE)), 0) AS BIGINT)"
        ).alias("se_analytic_cents"),
    )


#: Horvitz-Thompson probability-proportional-to-size cap: orders at or
#: above this value (cents) are taken with certainty.
_HT_CAP_CENTS = 30_000_000


@register(
    "horvitz_thompson_total",
    oracle=f"""
    WITH v AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS vc
      FROM orders),
    p AS (
      SELECT o_orderkey, vc,
             LEAST(1E0, CAST(vc AS DOUBLE) / {_HT_CAP_CENTS}E0) AS pi,
             (CAST(concat('0x', substr(md5('ht:'
                || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
              / 4294967296E0) AS u
      FROM v),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
             CAST(SUM(CAST(round(CAST(vc AS DOUBLE) / pi, 0) AS BIGINT))
               AS BIGINT) AS ht_total_cents
      FROM p WHERE u < pi),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(vc) AS BIGINT) AS true_total_cents
      FROM v)
    SELECT n_sampled, n_total, ht_total_cents, true_total_cents,
           CAST(round((CAST(ht_total_cents AS DOUBLE) - true_total_cents)
             / CAST(true_total_cents AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS err_ppm
    FROM s, t
    """,
)
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total-revenue estimate from a DETERMINISTIC
    probability-proportional-to-size Poisson sample: each order enters
    with π ∝ its value (capped at 1), and the estimator up-weights by
    1/π — the unequal-probability machinery behind every "sample 1% of
    events but never miss a whale" pipeline; the emitted err_ppm is the
    empirical bias readout (PPS makes sub-cap orders contribute exactly
    the cap value when sampled, so most estimator variance lives at the
    boundary — the classic PPS property, visible in the output).

    Exactness: inclusion is the md5-uniform against π (one mirrored
    double comparison per row); each sampled term v/π quantizes to
    whole cents before the sum (per-term device), so the distributed
    sums are exact int64.

    Scale: one pass, no shuffle beyond the final one-row aggregates;
    the sample never materializes.
    """
    o = load_table(spark, sf_dir, "orders")
    from ai_etl_studio_spark.functions.exact import cents

    v = o.select(
        "o_orderkey", cents("o_totalprice").cast("bigint").alias("vc")
    )
    p = v.select(
        "vc",
        F.expr(
            f"LEAST(1E0, CAST(vc AS DOUBLE) / {_HT_CAP_CENTS}E0)"
        ).alias("pi"),
        F.expr(
            "(CAST(conv(substring(md5(concat('ht:',"
            " CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " / 4294967296E0)"
        ).alias("u"),
    )
    s = p.filter(F.col("u") < F.col("pi")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum(
            F.expr("CAST(round(CAST(vc AS DOUBLE) / pi, 0) AS BIGINT)")
        )
        .cast("bigint")
        .alias("ht_total_cents"),
    )
    t = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("vc").cast("bigint").alias("true_total_cents"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "n_sampled",
        "n_total",
        "ht_total_cents",
        "true_total_cents",
        F.expr(
            "CAST(round((CAST(ht_total_cents AS DOUBLE) - true_total_cents)"
            " / CAST(true_total_cents AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("err_ppm"),
    )



# ---------------------------------------------------------------------------
# round-9: WEIGHTED co-purchase graph tier (r8 verdict item 5). Same
# topology and fence as the unweighted tier — the weighted edge set is
# the CAPPED edge set annotated with exact-cents strength — so every
# scale argument (support floor, degree cap, hint-free joins,
# checkpointed small frames) carries over unchanged; the only new work
# is one revenue rollup over lineitem and one join onto the capped
# edges.
# ---------------------------------------------------------------------------

#: weighted edges: pair weight = Σ over shared orders of (revenue of
#: x's lines + revenue of y's lines in that order), exact cents. Built
#: ON TOP of the unweighted CTE so the fence (sup >= MINSUP, deg <=
#: DCAP) is literally the same text in both engines.
_CP_WGRAPH_CTE = (
    _CP_GRAPH_CTE
    + """
    , opr AS (
      SELECT l_orderkey AS o, l_partkey AS p,
             CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS r
      FROM lineitem GROUP BY 1, 2),
    pw AS (
      SELECT a.p AS x, b.p AS y, CAST(SUM(a.r + b.r) AS BIGINT) AS w
      FROM opr a JOIN opr b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2),
    ew AS (
      SELECT e.x, e.y, pw.w FROM e
      JOIN pw ON e.x = pw.x AND e.y = pw.y),
    adjw AS (SELECT x AS u, y AS v, w FROM ew
             UNION ALL SELECT y, x, w FROM ew),
    st AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS deg,
             CAST(SUM(w) AS BIGINT) AS s
      FROM adjw GROUP BY u)
"""
)

_CP_WGRAPH_CTE_REC = _CP_WGRAPH_CTE.replace(
    _CP_CTE_MARKER, "WITH RECURSIVE op AS", 1
)


def _copurchase_wgraph(spark: SparkSession, sf_dir: str):
    """Spark twin of ``_CP_WGRAPH_CTE``: (ew, adjw, strength) — the
    capped edge set annotated with exact-cents co-purchase strength,
    its symmetric weighted adjacency, and per-node (degree, strength).
    Topology is IDENTICAL to ``_copurchase_graph`` (the weight join
    cannot add or drop edges: every capped edge has a weight by
    construction), so the unweighted fence bounds this tier too.

    Scale: one extra (orderkey, partkey) revenue rollup over lineitem
    (same shuffle key as the pair fan-out), one pair-weight rollup, one
    join onto the checkpointed capped edges. Hint-free — AQE broadcasts
    the small side where it fits."""
    return _cp_memo(
        spark, sf_dir, "wgraph", lambda: _build_copurchase_wgraph(spark, sf_dir)
    )


def _build_copurchase_wgraph(spark: SparkSession, sf_dir: str):
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    # ONE exchange feeds BOTH rollups (r12, §2.4): hash-partitioning
    # the projected fact by orderkey satisfies the (o, p) grain AND the
    # per-order list grain (o ⊆ (o, p) clusters both), so neither
    # groupBy below shuffles again — and the explicit REPARTITION_BY_NUM
    # also pins the fan-out stage's width against AQE's byte-sized
    # coalescing (the former shape paid 2 exchanges + a spread; paired
    # N=3 wgraph build 4.7 -> 3.8 s at sf0.1, values identical).
    li = li.select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    ).repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    opr = li.groupBy(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("r")
    )
    # per-order sorted (part, revenue) list -> pair fan-out with the
    # SAME one-shuffle device as the unweighted builder (no self-join)
    ps = opr.groupBy("o").agg(
        F.sort_array(F.collect_list(F.struct("p", "r"))).alias("ps")
    )
    pw = (
        ps.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (a, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " b -> struct(a.p AS x, b.p AS y,"
                    " a.r + b.r AS w))))"
                )
            ).alias("pr")
        )
        .select("pr.x", "pr.y", "pr.w")
        .groupBy("x", "y")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    ew = e.join(pw, ["x", "y"]).localCheckpoint()
    adjw = ew.select(
        F.col("x").alias("u"), F.col("y").alias("v"), "w"
    ).unionAll(ew.select(F.col("y").alias("u"), F.col("x").alias("v"), "w"))
    strength = adjw.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg"),
        F.sum("w").cast("bigint").alias("s"),
    )
    return ew, adjw, strength


@register(
    "copurchase_strength_topk",
    oracle=_CP_WGRAPH_CTE
    + """
    SELECT u AS part_key, deg AS degree, s AS strength_cents
    FROM st ORDER BY strength_cents DESC, part_key LIMIT 20
    """,
)
def copurchase_strength_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by co-purchase STRENGTH (weighted degree: the exact
    cents of revenue flowing over a part's co-purchase edges) beside
    the raw degree — the revenue-anchored complement of the degree
    ranking: a part with few but expensive co-purchases outranks a hub
    of trinkets, which is the ranking a merchandiser actually acts on.

    Exactness: integer cents end-to-end (per-(order,part) revenue is
    rounded once at the source, then only integer sums).

    Scale: the strength table is |nodes| rows off the capped adjacency;
    one rollup + top-k."""
    _, _, strength = _copurchase_wgraph(spark, sf_dir)
    return (
        strength.select(
            F.col("u").alias("part_key"),
            F.col("deg").alias("degree"),
            F.col("s").alias("strength_cents"),
        )
        .orderBy(F.desc("strength_cents"), "part_key")
        .limit(20)
    )


@register(
    "copurchase_strength_profile",
    oracle=_CP_WGRAPH_CTE
    + """
    SELECT deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(s) AS BIGINT) AS strength_cents,
           CAST(round(CAST(SUM(s) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
             AS avg_strength_cents
    FROM st GROUP BY deg ORDER BY degree
    """,
)
def copurchase_strength_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-by-degree profile: for each co-purchase degree k, how
    many parts sit there and how much exact-cents strength they carry
    (total + per-node mean). Read against copurchase_avg_neighbor_degree
    it answers whether WEIGHT concentrates where DEGREE does — flat
    avg_strength over k means revenue rides the long tail, rising means
    the hubs are also the money (the weighted-assortativity question).

    Exactness: integer cents summed exactly; ONE mirrored final
    division for the mean.

    Scale: |nodes|-row input, ≤ DCAP output rows."""
    _, _, strength = _copurchase_wgraph(spark, sf_dir)
    return (
        strength.groupBy(F.col("deg").alias("degree"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("s").cast("bigint").alias("strength_cents"),
            F.round(
                F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"),
                0,
            )
            .cast("bigint")
            .alias("avg_strength_cents"),
        )
        .orderBy("degree")
    )


@register(
    "copurchase_weighted_eigenvector_topk",
    oracle=_CP_WGRAPH_CTE_REC
    + """
    , ev(i, u, s) AS (
      SELECT 0, u, CAST(1000000 AS BIGINT) FROM st
      UNION
      SELECT c.i + 1, c.u,
             CAST(round(1000000E0 * CAST(
               (SELECT SUM(a.w * r2.s) FROM adjw a JOIN ev r2
                  ON a.v = r2.u AND r2.i = c.i WHERE a.u = c.u)
               AS DOUBLE) / CAST(
               (SELECT MAX(m.ns) FROM (
                  SELECT SUM(a2.w * r3.s) AS ns FROM adjw a2 JOIN ev r3
                    ON a2.v = r3.u AND r3.i = c.i
                  GROUP BY a2.u) m)
               AS DOUBLE), 0) AS BIGINT)
      FROM ev c WHERE c.i < 10)
    SELECT u AS part_key, s AS centrality_micro
    FROM ev WHERE i = 10
    ORDER BY centrality_micro DESC, part_key LIMIT 20
    """,
)
def copurchase_weighted_eigenvector_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 parts by WEIGHTED eigenvector centrality: influence
    weighted by the revenue strength of each co-purchase tie — the
    flagship detector where an edge worth $10k pulls 100x an edge worth
    $100, i.e. prestige in dollars rather than in link count. Diverges
    from the unweighted ranking exactly where cheap-hub / expensive-
    niche structure exists.

    Algorithm: the SAME 10-step integer-micro quantized power iteration
    as copurchase_eigenvector_topk with A's entries being exact cents
    (x_{k+1} = round(1e6 · A_w·x_k / max)); both engines and the pytest
    replay walk a bit-identical integer trajectory. Products stay well
    inside bigint: w ≤ ~1e9 cents, s ≤ 1e6, ≤ DCAP neighbors.

    Scale: each step is one shuffle keyed by node over the capped
    weighted adjacency + a 1-row max; hint-free throughout."""
    _, adjw, strength = _copurchase_wgraph(spark, sf_dir)
    edges = capture_stage(
        adjw.select(F.col("u").alias("src"), F.col("v").alias("dst"), "w")
    ).localCheckpoint()
    x = (
        capture_stage(
            strength.select("u")
            .withColumn("s", F.lit(1_000_000).cast("bigint"))
        )
        .localCheckpoint()
    )
    for _ in range(10):
        # materialize ns ONCE per step (see copurchase_eigenvector_topk:
        # the nonlinear max step reads ns twice, and checkpointing x
        # instead ran the weighted edges ⋈ x aggregation twice — r11)
        ns = capture_stage(
            edges.join(x, edges.dst == x.u)
            .groupBy(F.col("src").alias("nu"))
            .agg(F.sum(F.col("w") * F.col("s")).alias("ns"))
        ).localCheckpoint()
        mx = ns.agg(F.max("ns").alias("mx"))
        x = ns.crossJoin(mx).select(
            F.col("nu").alias("u"),
            F.round(
                F.lit(1_000_000.0)
                * F.col("ns").cast("double")
                / F.col("mx").cast("double"),
                0,
            )
            .cast("bigint")
            .alias("s"),
        )
    return (
        x.select(
            F.col("u").alias("part_key"), F.col("s").alias("centrality_micro")
        )
        .orderBy(F.desc("centrality_micro"), "part_key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# round-9: causal-inference / experimentation shelf — CUPED variance
# reduction, difference-in-differences, regression discontinuity, and
# covariate balance, beside the existing ab_* ops. All exact-sufficient-
# statistic closed forms; no resampling, no randomness.
# ---------------------------------------------------------------------------


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH per AS (
      SELECT c.c_custkey AS ck,
             CAST(COALESCE(SUM(CASE WHEN year(CAST(o.o_orderdate AS DATE))
               = 1995 THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
               END), 0) AS BIGINT) AS pre,
             CAST(COALESCE(SUM(CASE WHEN year(CAST(o.o_orderdate AS DATE))
               = 1996 THEN CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
               END), 0) AS BIGINT) AS post
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS sx,
             CAST(SUM(post) AS BIGINT) AS sy,
             CAST(SUM(CAST(pre AS HUGEINT) * pre) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(post AS HUGEINT) * post) AS DOUBLE) AS syy,
             CAST(SUM(CAST(pre AS HUGEINT) * post) AS DOUBLE) AS sxy
      FROM per)
    SELECT n AS n_customers,
           CAST(round((sxy - CAST(sx AS DOUBLE) * sy / n)
             / (sxx - CAST(sx AS DOUBLE) * sx / n)
             * 1000000E0, 0) AS BIGINT) AS theta_micro,
           CAST(round((sxy - CAST(sx AS DOUBLE) * sy / n)
             / sqrt((sxx - CAST(sx AS DOUBLE) * sx / n)
                    * (syy - CAST(sy AS DOUBLE) * sy / n))
             * 1000000E0, 0) AS BIGINT) AS rho_micro,
           CAST(round((sxy - CAST(sx AS DOUBLE) * sy / n)
             * (sxy - CAST(sx AS DOUBLE) * sy / n)
             / (sxx - CAST(sx AS DOUBLE) * sx / n)
             / (syy - CAST(sy AS DOUBLE) * sy / n)
             * 1000000E0, 0) AS BIGINT) AS var_reduction_micro
    FROM s
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data): how
    much variance a 1996 revenue experiment metric loses when adjusted
    by each customer's 1995 spend — θ = cov(pre, post)/var(pre) is the
    adjustment coefficient, and the variance shrinks by ρ² (the
    var_reduction column): ρ² = 0.3 means every A/B test on this metric
    needs 30% less traffic at the same power. The deterministic
    pre-computation every experimentation platform runs before assigning
    units; pairs with ab_power_sample_size (which this column directly
    discounts) and ab_test_ztest.

    Exactness: per-customer pre/post are exact cents over the FULL
    customer universe (left join, zero-filled — dropping no-order
    customers would bias θ); the five sufficient statistics ride
    int128/decimal128; θ/ρ/ρ² are mirrored expressions.

    Scale: one customer-grain rollup, one single-row aggregate."""
    from ai_etl_studio_spark.functions.exact import cents

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("ck"))
        .agg(
            F.coalesce(
                F.sum(F.when(yr == 1995, cents("o_totalprice"))), F.lit(0)
            )
            .cast("bigint")
            .alias("pre"),
            F.coalesce(
                F.sum(F.when(yr == 1996, cents("o_totalprice"))), F.lit(0)
            )
            .cast("bigint")
            .alias("post"),
        )
    )
    s = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sx"),
        F.sum("post").cast("bigint").alias("sy"),
        F.sum(F.col("pre").cast("decimal(19,0)") * F.col("pre").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("post").cast("decimal(19,0)") * F.col("post").cast("decimal(19,0)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("pre").cast("decimal(19,0)") * F.col("post").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxy"),
    )
    cov = "(sxy - CAST(sx AS DOUBLE) * sy / n)"
    vx = "(sxx - CAST(sx AS DOUBLE) * sx / n)"
    vy = "(syy - CAST(sy AS DOUBLE) * sy / n)"
    return s.select(
        F.col("n").alias("n_customers"),
        F.expr(
            f"CAST(round({cov} / {vx} * 1000000E0, 0) AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            f"CAST(round({cov} / sqrt({vx} * {vy}) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("rho_micro"),
        F.expr(
            f"CAST(round({cov} * {cov} / {vx} / {vy} * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("var_reduction_micro"),
    )


@register(
    "did_segment_policy_estimate",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS treat,
             CASE WHEN o.o_orderdate >= '1996-01-01' THEN 1 ELSE 0 END
               AS post,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
      GROUP BY 1, 2),
    m AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
             SUM(CASE WHEN treat = 1 AND post = 0
               THEN CAST(cents AS DOUBLE) / n END) AS t0,
             SUM(CASE WHEN treat = 1 AND post = 1
               THEN CAST(cents AS DOUBLE) / n END) AS t1,
             SUM(CASE WHEN treat = 0 AND post = 0
               THEN CAST(cents AS DOUBLE) / n END) AS c0,
             SUM(CASE WHEN treat = 0 AND post = 1
               THEN CAST(cents AS DOUBLE) / n END) AS c1
      FROM cells)
    SELECT n_orders,
           CAST(round(t0 * 1000, 0) AS BIGINT) AS treat_pre_milli,
           CAST(round(t1 * 1000, 0) AS BIGINT) AS treat_post_milli,
           CAST(round(c0 * 1000, 0) AS BIGINT) AS ctrl_pre_milli,
           CAST(round(c1 * 1000, 0) AS BIGINT) AS ctrl_post_milli,
           CAST(round(((t1 - t0) - (c1 - c0)) * 1000, 0) AS BIGINT)
             AS did_milli
    FROM m
    """,
)
def did_segment_policy_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences 2x2: the change in BUILDING-segment
    average order value from pre-1996 to 1996+, NET of the change every
    other segment experienced — the parallel-trends causal estimate of
    a segment-targeted 'policy' (price change, campaign) that a naive
    before/after would confound with the market-wide drift the control
    cells absorb. The four cell means are reported so the
    parallel-trends story is inspectable, not hidden inside one number.

    Exactness: four exact (cents, count) cells; each mean is one
    division; DiD is one mirrored expression (milli-cents).

    Scale: the entire estimator is a 4-row aggregate off one fact
    join."""
    from ai_etl_studio_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .groupBy(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("treat"),
            F.when(F.col("o_orderdate") >= "1996-01-01", 1)
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    m = cells.agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        *[
            F.sum(
                F.when(
                    (F.col("treat") == tr) & (F.col("post") == po),
                    F.col("cents").cast("double") / F.col("n"),
                )
            ).alias(name)
            for tr, po, name in (
                (1, 0, "t0"),
                (1, 1, "t1"),
                (0, 0, "c0"),
                (0, 1, "c1"),
            )
        ],
    )
    return m.select(
        "n_orders",
        F.round(F.col("t0") * 1000, 0).cast("bigint").alias("treat_pre_milli"),
        F.round(F.col("t1") * 1000, 0).cast("bigint").alias("treat_post_milli"),
        F.round(F.col("c0") * 1000, 0).cast("bigint").alias("ctrl_pre_milli"),
        F.round(F.col("c1") * 1000, 0).cast("bigint").alias("ctrl_post_milli"),
        F.round(
            ((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")))
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("did_milli"),
    )


@register(
    "rdd_acctbal_cutoff",
    oracle="""
    WITH base AS (
      SELECT cu.c_custkey AS ck,
             CAST(round(cu.c_acctbal * 100, 0) AS BIGINT) AS x,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS y
      FROM customer cu LEFT JOIN orders o ON o.o_custkey = cu.c_custkey
      WHERE cu.c_acctbal >= -500 AND cu.c_acctbal < 500
      GROUP BY 1, 2),
    s AS (
      SELECT CASE WHEN x >= 0 THEN 1 ELSE 0 END AS side,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
      FROM base GROUP BY 1),
    fit AS (
      SELECT side, n,
             CAST(SUM(sy) AS DOUBLE) / n
               - (sxy - CAST(sx AS DOUBLE) * sy / n)
                 / (sxx - CAST(sx AS DOUBLE) * sx / n)
                 * CAST(sx AS DOUBLE) / n AS a
      FROM s GROUP BY side, n, sx, sy, sxy, sxx)
    SELECT CAST(SUM(CASE WHEN side = 0 THEN n END) AS BIGINT) AS n_left,
           CAST(SUM(CASE WHEN side = 1 THEN n END) AS BIGINT) AS n_right,
           CAST(round(SUM(CASE WHEN side = 0 THEN a END) * 1000000E0, 0)
             AS BIGINT) AS intercept_left_micro,
           CAST(round(SUM(CASE WHEN side = 1 THEN a END) * 1000000E0, 0)
             AS BIGINT) AS intercept_right_micro,
           CAST(round((SUM(CASE WHEN side = 1 THEN a END)
             - SUM(CASE WHEN side = 0 THEN a END)) * 1000000E0, 0)
             AS BIGINT) AS rdd_jump_micro
    FROM fit
    """,
)
def rdd_acctbal_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate at the account-balance
    zero cutoff: local linear fits of per-customer order count on
    balance, separately within (−$500, 0) and [0, $500), and the jump
    between the two intercepts AT the cutoff — the causal reading of
    'does crossing into positive balance change purchasing?' under the
    standard RD assumption (everything else varies smoothly through the
    threshold, so only a genuine discontinuity moves the jump). Local
    linear rather than difference-of-means because RD's known failure
    mode is slope bias at the boundary.

    Exactness: running variable in exact cents, outcome an exact count;
    both side fits are closed-form OLS over exact wide-integer
    sufficient statistics; intercepts and jump are mirrored
    expressions.

    Scale: bandwidth filter pushes to the customer scan; one
    customer-grain rollup; two sufficient-statistic rows."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    base = (
        cu.filter((F.col("c_acctbal") >= -500) & (F.col("c_acctbal") < 500))
        .join(o, o.o_custkey == cu.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("ck"),
            F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("x"),
        )
        .agg(F.count(F.col("o_orderkey")).cast("bigint").alias("y"))
    )
    s = base.groupBy(
        F.when(F.col("x") >= 0, 1).otherwise(0).alias("side")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
    )
    a = (
        "(CAST(sy AS DOUBLE) / n"
        " - (sxy - CAST(sx AS DOUBLE) * sy / n)"
        "   / (sxx - CAST(sx AS DOUBLE) * sx / n)"
        "   * CAST(sx AS DOUBLE) / n)"
    )
    fit = s.select("side", "n", F.expr(a).alias("a"))
    return fit.agg(
        F.sum(F.when(F.col("side") == 0, F.col("n")))
        .cast("bigint")
        .alias("n_left"),
        F.sum(F.when(F.col("side") == 1, F.col("n")))
        .cast("bigint")
        .alias("n_right"),
        F.round(
            F.sum(F.when(F.col("side") == 0, F.col("a"))) * 1e6, 0
        )
        .cast("bigint")
        .alias("intercept_left_micro"),
        F.round(
            F.sum(F.when(F.col("side") == 1, F.col("a"))) * 1e6, 0
        )
        .cast("bigint")
        .alias("intercept_right_micro"),
        F.round(
            (
                F.sum(F.when(F.col("side") == 1, F.col("a")))
                - F.sum(F.when(F.col("side") == 0, F.col("a")))
            )
            * 1e6,
            0,
        )
        .cast("bigint")
        .alias("rdd_jump_micro"),
    )


@register(
    "smd_covariate_balance",
    oracle="""
    WITH per AS (
      SELECT cu.c_custkey AS ck,
             CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS treat,
             CAST(round(cu.c_acctbal * 100, 0) AS BIGINT) AS acctbal,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(COALESCE(SUM(CAST(round(o.o_totalprice * 100, 0)
               AS BIGINT)), 0) AS BIGINT) AS spend
      FROM customer cu LEFT JOIN orders o ON o.o_custkey = cu.c_custkey
      GROUP BY 1, 2, 3),
    lng AS (
      SELECT treat, 'acctbal_cents' AS covariate, acctbal AS v FROM per
      UNION ALL
      SELECT treat, 'n_orders', n_orders FROM per
      UNION ALL
      SELECT treat, 'spend_cents', spend FROM per),
    s AS (
      SELECT covariate, treat,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS svv
      FROM lng GROUP BY 1, 2),
    w AS (
      SELECT covariate,
             SUM(CASE WHEN treat = 1 THEN n END) AS n1,
             SUM(CASE WHEN treat = 0 THEN n END) AS n0,
             SUM(CASE WHEN treat = 1
               THEN CAST(sv AS DOUBLE) / n END) AS m1,
             SUM(CASE WHEN treat = 0
               THEN CAST(sv AS DOUBLE) / n END) AS m0,
             SUM(CASE WHEN treat = 1 THEN
               (svv - CAST(sv AS DOUBLE) * sv / n) / (n - 1) END) AS v1,
             SUM(CASE WHEN treat = 0 THEN
               (svv - CAST(sv AS DOUBLE) * sv / n) / (n - 1) END) AS v0
      FROM s GROUP BY covariate)
    SELECT covariate, CAST(n1 AS BIGINT) AS n_treat,
           CAST(n0 AS BIGINT) AS n_ctrl,
           CAST(round((m1 - m0) / sqrt((v1 + v0) / 2E0) * 1000000E0, 0)
             AS BIGINT) AS smd_micro
    FROM w ORDER BY covariate
    """,
)
def smd_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean differences between the BUILDING segment and
    the rest across three pre-treatment covariates (account balance,
    order count, total spend) — THE balance table every observational
    study prints before trusting a segment comparison: |SMD| < 0.1 is
    the conventional 'balanced' bar, and a large SMD names exactly
    which covariate confounds a naive BUILDING-vs-rest contrast (e.g.
    the DiD op's parallel-trends assumption). Pooled-SD denominator
    sqrt((s₁²+s₀²)/2), the Cohen convention.

    Exactness: per-customer covariates are exact integers over the full
    customer universe (left join, zero-filled); per-group sufficient
    statistics ride int128/decimal128; each SMD is one mirrored
    expression.

    Scale: one customer-grain rollup, a 3-covariate unpivot, a 6-row
    sufficient-statistic table."""
    from ai_etl_studio_spark.functions.exact import cents

    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per = (
        cu.join(o, o.o_custkey == cu.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("ck"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("treat"),
            F.round(F.col("c_acctbal") * 100, 0)
            .cast("bigint")
            .alias("acctbal"),
        )
        .agg(
            F.count(F.col("o_orderkey")).cast("bigint").alias("n_orders"),
            F.coalesce(F.sum(cents("o_totalprice")), F.lit(0))
            .cast("bigint")
            .alias("spend"),
        )
    )
    lng = per.select(
        "treat",
        F.expr(
            "stack(3, 'acctbal_cents', acctbal, 'n_orders', n_orders,"
            " 'spend_cents', spend)"
        ).alias("covariate", "v"),
    )
    s = lng.groupBy("covariate", "treat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v").cast("decimal(19,0)"))
        .cast("double")
        .alias("svv"),
    )
    var = "(svv - CAST(sv AS DOUBLE) * sv / n) / (n - 1)"
    w = s.groupBy("covariate").agg(
        F.sum(F.when(F.col("treat") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("treat") == 0, F.col("n"))).alias("n0"),
        F.sum(
            F.when(F.col("treat") == 1, F.col("sv").cast("double") / F.col("n"))
        ).alias("m1"),
        F.sum(
            F.when(F.col("treat") == 0, F.col("sv").cast("double") / F.col("n"))
        ).alias("m0"),
        F.sum(F.when(F.col("treat") == 1, F.expr(var))).alias("v1"),
        F.sum(F.when(F.col("treat") == 0, F.expr(var))).alias("v0"),
    )
    return w.select(
        "covariate",
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_ctrl"),
        F.expr(
            "CAST(round((m1 - m0) / sqrt((v1 + v0) / 2E0) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("smd_micro"),
    ).orderBy("covariate")


@register(
    "copurchase_weighted_score_summary",
    oracle=_CP_WGRAPH_CTE_REC
    + """
    , rk AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM st),
    t25 AS (SELECT CAST(s AS BIGINT) AS t FROM rk WHERE rn = (n + 3) // 4),
    t50 AS (SELECT CAST(s AS BIGINT) AS t FROM rk WHERE rn = (n + 1) // 2),
    sc25(i, u) AS (
      SELECT 0, u FROM st
      UNION
      SELECT c.i + 1, c.u FROM sc25 c
      WHERE c.i < 12
        AND (SELECT SUM(a.w) FROM adjw a JOIN sc25 c2
               ON a.v = c2.u AND c2.i = c.i
             WHERE a.u = c.u) >= (SELECT t FROM t25)),
    sc50(i, u) AS (
      SELECT 0, u FROM st
      UNION
      SELECT c.i + 1, c.u FROM sc50 c
      WHERE c.i < 12
        AND (SELECT SUM(a.w) FROM adjw a JOIN sc50 c2
               ON a.v = c2.u AND c2.i = c.i
             WHERE a.u = c.u) >= (SELECT t FROM t50)),
    k25 AS (SELECT u FROM sc25 WHERE i = 12),
    k50 AS (SELECT u FROM sc50 WHERE i = 12),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM st),
    s AS (
      SELECT 25 AS q, (SELECT t FROM t25) AS threshold_cents,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM k25) AS n_core_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ew
              JOIN k25 a ON ew.x = a.u JOIN k25 b ON ew.y = b.u)
               AS n_core_edges,
             (SELECT CAST(COALESCE(SUM(ew.w), 0) AS BIGINT) FROM ew
              JOIN k25 a ON ew.x = a.u JOIN k25 b ON ew.y = b.u)
               AS core_strength_cents
      UNION ALL
      SELECT 50, (SELECT t FROM t50),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM k50),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ew
              JOIN k50 a ON ew.x = a.u JOIN k50 b ON ew.y = b.u),
             (SELECT CAST(COALESCE(SUM(ew.w), 0) AS BIGINT) FROM ew
              JOIN k50 a ON ew.x = a.u JOIN k50 b ON ew.y = b.u))
    SELECT s.q, s.threshold_cents, s.n_core_nodes, s.n_core_edges,
           s.core_strength_cents,
           CAST(round(1000000E0 * CAST(s.n_core_nodes AS DOUBLE)
             / CAST(t.n_all AS DOUBLE), 0) AS BIGINT) AS node_share_micro
    FROM s CROSS JOIN tot t ORDER BY s.q
    """,
)
def copurchase_weighted_score_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRENGTH-weighted core decomposition (s-core) of the co-purchase
    graph — the weighted completion of copurchase_kcore_summary: peel
    nodes whose INDUCED STRENGTH (exact cents over edges to survivors)
    falls below a threshold until stable. Two tiers, thresholded at the
    exact P25/P50 node strengths of the initial graph (percentile_disc
    semantics — the ceil(p·n)-th smallest, integer row indexing, so the
    thresholds are observed values both engines agree on bit-exactly).
    The k-core asks "is this part structurally embedded?"; the s-core
    asks "is it embedded in REVENUE?" — a part with 3 cheap ties
    survives the 3-core but not the P50 s-core, which is the backbone
    a merchandiser budgets against.

    Algorithm: monotone peeling — survivors(i+1) = nodes whose induced
    strength ≥ t; convergence when the survivor count stops falling
    (survivors only shrink). The oracle peels exactly 12 bounded
    recursive-CTE rounds; the Spark loop stops at convergence and
    RAISES if 12 rounds don't converge — identical whenever
    convergence happens within the cap, which the replay test pins by
    peeling to the true fixpoint with no cap.

    Exactness: thresholds and induced strengths are integer cents end
    to end; an empty induced neighborhood yields NULL ≥ t (oracle) and
    a missing rollup row (Spark) — both peel the node.

    Scale: the same fence as the k-core — each round is two joins
    against the capped alive set + one strength rollup, hint-free,
    per-round localCheckpoint; ≤ 12 rounds."""
    ew, adjw, strength = _copurchase_wgraph(spark, sf_dir)
    n_all = strength.count()
    # exact percentile_disc thresholds: the ceil(p·n)-th smallest
    # strength, each a 1-row bounded collect (the same budget class as
    # the kcore loop's per-round count())
    t_of = {
        q: int(
            strength.orderBy("s")
            .select("s")
            .offset((n_all + add) // div - 1)
            .limit(1)
            .collect()[0]["s"]
        )
        for q, add, div in ((25, 3, 4), (50, 1, 2))
    }
    # BOTH tiers peel in ONE keyed loop (alive carries q): peeling is
    # idempotent at its fixpoint, so the earlier-converged tier rides
    # the remaining rounds unchanged and the total row count is stable
    # iff both tiers are — halves the per-round job overhead vs two
    # sequential loops (measured 12.8 s at sf0.1 for the 2-loop form).
    thr = F.when(F.col("q") == 25, F.lit(t_of[25])).otherwise(
        F.lit(t_of[50])
    )
    alive = (
        strength.select("u")
        .crossJoin(spark.createDataFrame([(25,), (50,)], "q int"))
        .localCheckpoint()
    )
    prev = alive.count()
    for _ in range(12):
        ind = ew.join(
            alive.select("q", F.col("u").alias("x")), "x"
        ).join(alive.select("q", F.col("u").alias("y")), ["q", "y"])
        # two-leg union, NOT an explode: the legs re-run the two alive
        # joins once each, but those duplicated subtrees schedule in
        # PARALLEL inside the round's job while an explode serializes
        # them into one chain — measured 3.03 s (union) vs 4.51 s
        # (explode) per run at sf0.1 (r11 A/B; kept the faster form)
        sg = (
            ind.select("q", F.col("x").alias("u"), "w")
            .unionAll(ind.select("q", F.col("y").alias("u"), "w"))
            .groupBy("q", "u")
            .agg(F.sum("w").cast("bigint").alias("sw"))
        )
        nxt = (
            sg.filter(F.col("sw") >= thr)
            .select("q", "u")
            .localCheckpoint()
        )
        cur = nxt.count()
        alive = nxt
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError("s-core peeling did not converge in 12 rounds")
    core = ew.join(alive.select("q", F.col("u").alias("x")), "x").join(
        alive.select("q", F.col("u").alias("y")), ["q", "y"]
    )
    # anchor on the static tier frame: a tier whose core peeled to
    # EMPTY (the P50 cascade collapse observed at sf0.01 — itself the
    # finding "no revenue backbone at this threshold") must still emit
    # its zero row; groupBy alone would drop it.
    tiers = spark.createDataFrame(
        [(25, t_of[25]), (50, t_of[50])], "q int, threshold_cents bigint"
    )
    cn = alive.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_nodes")
    )
    cs = core.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_edges"),
        F.sum("w").cast("bigint").alias("core_strength_cents"),
    )
    return (
        tiers.join(cn, "q", "left")
        .join(cs, "q", "left")
        .select(
            "q",
            "threshold_cents",
            F.coalesce("n_core_nodes", F.lit(0))
            .cast("bigint")
            .alias("n_core_nodes"),
            F.coalesce("n_core_edges", F.lit(0))
            .cast("bigint")
            .alias("n_core_edges"),
            F.coalesce("core_strength_cents", F.lit(0))
            .cast("bigint")
            .alias("core_strength_cents"),
            F.round(
                F.lit(1_000_000.0)
                * F.coalesce("n_core_nodes", F.lit(0)).cast("double")
                / F.lit(float(n_all)),
                0,
            )
            .cast("bigint")
            .alias("node_share_micro"),
        )
        .orderBy("q")
    )


@register(
    "copurchase_community_labels_topk",
    oracle=_CP_WGRAPH_CTE_REC
    + """
    , lp(i, u, l) AS (
      SELECT 0, u, u FROM st
      UNION
      SELECT c.i + 1, c.u,
             (SELECT l FROM (
                SELECT r.l AS l, CAST(SUM(a.w) AS BIGINT) AS tw
                FROM adjw a JOIN lp r ON a.v = r.u AND r.i = c.i
                WHERE a.u = c.u GROUP BY r.l)
              ORDER BY tw DESC, l LIMIT 1)
      FROM lp c WHERE c.i < 4),
    fin AS (SELECT u, l FROM lp WHERE i = 4),
    cn AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM fin GROUP BY l),
    ce AS (
      SELECT fa.l, CAST(COUNT(*) AS BIGINT) AS n_internal_edges,
             CAST(SUM(ew.w) AS BIGINT) AS internal_strength_cents
      FROM ew JOIN fin fa ON ew.x = fa.u
      JOIN fin fb ON ew.y = fb.u AND fa.l = fb.l
      GROUP BY fa.l)
    SELECT cn.l AS community_id, cn.n_nodes,
           CAST(COALESCE(ce.n_internal_edges, 0) AS BIGINT)
             AS n_internal_edges,
           CAST(COALESCE(ce.internal_strength_cents, 0) AS BIGINT)
             AS internal_strength_cents
    FROM cn LEFT JOIN ce ON cn.l = ce.l
    ORDER BY n_nodes DESC, community_id LIMIT 10
    """,
)
def copurchase_community_labels_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Propagated COMMUNITY assignment on the weighted co-purchase
    graph — the labeling op the tier lacked: components score
    connectivity, modularity scores a GIVEN partition, and this one
    PRODUCES a partition. Synchronous strength-weighted label
    propagation, exactly 4 rounds: every node starts as its own label;
    each round it adopts the label carrying the largest total edge
    strength among its neighbors (exact-cents SUM, ties broken by
    smallest label — fully deterministic, no convergence ambiguity:
    both engines walk the identical 4-round trajectory, which the
    replay test re-walks in pure Python). Communities differ from
    components exactly where a component contains multiple revenue
    basins — the cross-sell territories a merchandiser staffs.

    Output: top-10 communities by size with internal edge count and
    internal exact-cents strength.

    Scale: each round is one adjacency-vs-labels join + one (u, label)
    strength rollup + one argmax window over ≤ DCAP candidate labels
    per node — all hint-free on the capped graph, per-round
    localCheckpoint keeps lineage flat."""
    ew, adjw, strength = _copurchase_wgraph(spark, sf_dir)
    labels = strength.select("u", F.col("u").alias("l")).localCheckpoint()
    wpick = Window.partitionBy("u").orderBy(F.desc("tw"), F.asc("l"))
    for _ in range(4):
        labels = (
            adjw.join(
                labels.select(F.col("u").alias("v"), "l"), "v"
            )
            .groupBy("u", "l")
            .agg(F.sum("w").cast("bigint").alias("tw"))
            .withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select("u", "l")
            .localCheckpoint()
        )
    cn = labels.groupBy("l").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    fa = labels.select(F.col("u").alias("x"), F.col("l").alias("la"))
    fb = labels.select(F.col("u").alias("y"), F.col("l").alias("lb"))
    ce = (
        ew.join(fa, "x")
        .join(fb, "y")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("l"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_internal_edges"),
            F.sum("w").cast("bigint").alias("internal_strength_cents"),
        )
    )
    return (
        cn.join(ce, "l", "left")
        .select(
            F.col("l").alias("community_id"),
            "n_nodes",
            F.coalesce("n_internal_edges", F.lit(0))
            .cast("bigint")
            .alias("n_internal_edges"),
            F.coalesce("internal_strength_cents", F.lit(0))
            .cast("bigint")
            .alias("internal_strength_cents"),
        )
        .orderBy(F.desc("n_nodes"), "community_id")
        .limit(10)
    )


@register(
    "copurchase_brand_modularity",
    oracle=_CP_GRAPH_CTE
    + """
    , eb AS (
      SELECT pa.p_brand AS ba, pb.p_brand AS bb
      FROM e JOIN part pa ON e.x = pa.p_partkey
      JOIN part pb ON e.y = pb.p_partkey),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM eb),
    within AS (
      SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS m_c
      FROM eb WHERE ba = bb GROUP BY 1),
    degs AS (
      SELECT brand, CAST(SUM(cnt) AS BIGINT) AS d_c FROM (
        SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM eb GROUP BY 1
        UNION ALL
        SELECT bb, COUNT(*) FROM eb GROUP BY 1) u
      GROUP BY brand),
    terms AS (
      SELECT d.brand,
             COALESCE(w.m_c, 0) AS m_c, d.d_c,
             CAST(round((CAST(COALESCE(w.m_c, 0) AS DOUBLE) / m.m
               - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
                 * (CAST(d.d_c AS DOUBLE) / (2 * m.m)))
               * 1000000000E0, 0) AS BIGINT) AS q_nano
      FROM degs d LEFT JOIN within w ON d.brand = w.brand
      CROSS JOIN m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(MAX(m.m) AS BIGINT) AS n_edges,
           CAST(SUM(m_c) AS BIGINT) AS n_within_edges,
           CAST(SUM(q_nano) AS BIGINT) AS modularity_nano
    FROM terms CROSS JOIN m
    """,
)
def copurchase_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition on the co-purchase
    graph: Q = Σ_c [m_c/m − (d_c/2m)²] — do co-purchase ties
    concentrate WITHIN brands beyond what brand degree alone predicts?
    Q near 0 says brands are not purchase communities (cross-sell flows
    freely); Q >> 0 says brand-loyal baskets. The community-STRUCTURE
    question the component/k-core ops (pure connectivity) and the
    weighted tier (revenue mass) don't ask: this scores a given
    labeling against the degree-preserving null.

    Exactness: within-edge and degree counts are exact integers off the
    capped edge set; each brand's Q term quantizes to 1e-9 before the
    sum (order-independent); one bounded output row.

    Scale: two broadcastable part-brand joins onto the checkpointed
    capped edges; brand-grain rollups."""
    e, _, _, _ = _copurchase_graph(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    eb = (
        e.join(p.withColumnRenamed("p_partkey", "x").withColumnRenamed(
            "p_brand", "ba"), "x")
        .join(p.withColumnRenamed("p_partkey", "y").withColumnRenamed(
            "p_brand", "bb"), "y")
        .select("ba", "bb")
        .localCheckpoint()
    )
    m = eb.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    within = (
        eb.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_c"))
    )
    degs = (
        eb.select(F.col("ba").alias("brand"))
        .unionAll(eb.select(F.col("bb").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    terms = (
        degs.join(within, "brand", "left")
        .na.fill({"m_c": 0})
        .crossJoin(F.broadcast(m))
        .select(
            "m_c",
            F.expr(
                "CAST(round((CAST(m_c AS DOUBLE) / m"
                " - (CAST(d_c AS DOUBLE) / (2 * m))"
                "   * (CAST(d_c AS DOUBLE) / (2 * m)))"
                " * 1000000000E0, 0) AS BIGINT)"
            ).alias("q_nano"),
        )
    )
    return terms.crossJoin(F.broadcast(m)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        F.max("m").cast("bigint").alias("n_edges"),
        F.sum("m_c").cast("bigint").alias("n_within_edges"),
        F.sum("q_nano").cast("bigint").alias("modularity_nano"),
    )


@register(
    "association_rules_topk",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pair AS (
      SELECT a.pk AS x, b.pk AS y, CAST(COUNT(*) AS BIGINT) AS sup
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    rules AS (
      SELECT x AS antecedent, y AS consequent, sup FROM pair
      UNION ALL
      SELECT y, x, sup FROM pair),
    pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM items GROUP BY pk),
    tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM items),
    scored AS (
      SELECT r.antecedent, r.consequent, r.sup,
             CAST(r.sup * 1000000 // ca.cnt AS BIGINT) AS conf_micro,
             CAST(CAST(r.sup AS HUGEINT) * tot.n * 1000000
               // (CAST(ca.cnt AS HUGEINT) * cc.cnt) AS BIGINT)
               AS lift_micro,
             CASE WHEN r.sup < ca.cnt THEN
               CAST(round((1E0 - CAST(cc.cnt AS DOUBLE) / tot.n)
                 / (1E0 - CAST(r.sup AS DOUBLE) / ca.cnt)
                 * 1000000E0, 0) AS BIGINT)
             END AS conviction_micro
      FROM rules r
      JOIN pc ca ON r.antecedent = ca.pk
      JOIN pc cc ON r.consequent = cc.pk
      CROSS JOIN tot)
    SELECT antecedent, consequent, sup, conf_micro, lift_micro,
           conviction_micro
    FROM scored
    ORDER BY conf_micro DESC, antecedent, consequent
    LIMIT 20
    """,
)
def association_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules x → y from order baskets, top-20
    by CONFIDENCE with lift and conviction: confidence is the rule's
    hit rate (P(y|x)), lift removes y's base-rate flattery, and
    conviction (1−P(y))/(1−conf) reads like an odds multiplier of the
    rule FAILING less often than chance — infinite (NULL here, mirrored
    CASE) for exceptionless rules. basket_pairs ranks symmetric PAIRS
    by support; this op emits what a recommender actually deploys —
    directed rules, because conf(x→y) and conf(y→x) differ exactly when
    the base rates do.

    Exactness: support/item counts exact; confidence and lift are exact
    integer micro floor-divisions (lift through int128); conviction is
    one mirrored double expression; ordering is on the quantized
    integers with full tie-breaks.

    Scale: the pair fan-out is the basket_pairs shape (one shuffle by
    order, per-order C(k,2) pairs); the support >= 2 floor prunes the
    singleton tail before the rule join; rule scoring joins count
    tables only.

    r11, plan-verified: the distinct (order, part) edge list is
    checkpointed once for its three consumers (pairs, per-item counts,
    basket total) instead of re-running the lineitem scan + distinct
    per leg, and ordered pairs are born MAP-SIDE from each order's
    sorted item list (the supplier_overlap_jaccard device — exact,
    uncapped: TPC-H baskets are ≤7 items) instead of a two-sided
    shuffle self-join on the order key. Plan: 4 lineitem scans → 1;
    the a⋈b SortMergeJoin and its two exchanges are gone."""
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint()
    )
    pl = items.groupBy("ok").agg(
        F.array_sort(F.collect_list("pk")).alias("pks")
    )
    combos = F.flatten(
        F.transform(
            "pks",
            lambda x, i: F.transform(
                F.slice(F.col("pks"), i + 2, F.size("pks")),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    pair = (
        pl.select(F.explode(combos).alias("pr"))
        .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("sup"))
        .filter(F.col("sup") >= 2)
    )
    rules = pair.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        "sup",
    ).unionAll(
        pair.select(
            F.col("y").alias("antecedent"),
            F.col("x").alias("consequent"),
            "sup",
        )
    )
    pc = items.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = items.agg(
        F.countDistinct("ok").cast("bigint").alias("n")
    )
    scored = (
        rules.join(
            pc.select(F.col("pk").alias("antecedent"), F.col("cnt").alias("ca")),
            "antecedent",
        )
        .join(
            pc.select(F.col("pk").alias("consequent"), F.col("cnt").alias("cc")),
            "consequent",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "sup",
            F.expr("CAST(sup * 1000000 DIV ca AS BIGINT)").alias(
                "conf_micro"
            ),
            F.expr(
                "CAST(CAST(sup AS DECIMAL(38,0)) * n * 1000000"
                " DIV (CAST(ca AS DECIMAL(38,0)) * cc) AS BIGINT)"
            ).alias("lift_micro"),
            F.expr(
                "CASE WHEN sup < ca THEN"
                " CAST(round((1E0 - CAST(cc AS DOUBLE) / n)"
                "   / (1E0 - CAST(sup AS DOUBLE) / ca)"
                "   * 1000000E0, 0) AS BIGINT) END"
            ).alias("conviction_micro"),
        )
    )
    return scored.orderBy(
        F.desc("conf_micro"), "antecedent", "consequent"
    ).limit(20)


# ---------------------------------------------------------------------------
# Round-10: paired-comparison ranking.
# ---------------------------------------------------------------------------

_BT_D_SUBQ = """
                 SELECT m.i AS b2,
                        CAST(SUM((2 * m.n * 1000000000 + (r1.pi + r2.pi))
                          // (2 * (r1.pi + r2.pi))) AS HUGEINT) AS d
                 FROM mat m JOIN bt r1 ON m.i = r1.b AND r1.r = c.r
                            JOIN bt r2 ON m.j = r2.b AND r2.r = c.r
                 GROUP BY m.i
"""


@register(
    "bradley_terry_brand_ranks",
    oracle=f"""
    WITH RECURSIVE ob AS (
      SELECT l.l_orderkey AS o, p.p_brand AS b,
             CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS r
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    comp AS (
      SELECT a.b AS i, x.b AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM ob a JOIN ob x ON a.o = x.o AND a.b <> x.b AND a.r > x.r
      GROUP BY 1, 2),
    mat0 AS (
      SELECT i, j, CAST(SUM(w) AS BIGINT) AS w, CAST(SUM(n) AS BIGINT) AS n
      FROM (SELECT i, j, w, w AS n FROM comp
            UNION ALL SELECT j, i, 0, w FROM comp) u
      GROUP BY 1, 2),
    wt AS (
      SELECT i, CAST(SUM(w) AS BIGINT) AS wtot,
             CAST(SUM(n) AS BIGINT) AS ntot
      FROM mat0 GROUP BY i),
    bs AS (SELECT i FROM wt WHERE wtot > 0 AND ntot > wtot),
    mat AS (
      SELECT m.* FROM mat0 m
      JOIN bs ba ON m.i = ba.i JOIN bs bb ON m.j = bb.i),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) * 1000000 AS k FROM bs),
    bt(r, b, pi) AS (
      SELECT 0, i, CAST(1000000 AS BIGINT) FROM bs
      UNION
      SELECT c.r + 1, c.b,
        CAST((2 * (SELECT (2 * CAST(w1.wtot AS HUGEINT)
                     * 1000000000000000 + d1.d) // (2 * d1.d)
                   FROM (SELECT d FROM ({_BT_D_SUBQ}) q1
                         WHERE q1.b2 = c.b) d1
                   CROSS JOIN (SELECT wtot FROM wt
                               WHERE wt.i = c.b) w1)
              * (SELECT k FROM kk)
            + (SELECT SUM((2 * CAST(w2.wtot AS HUGEINT)
                   * 1000000000000000 + d2.d) // (2 * d2.d))
               FROM ({_BT_D_SUBQ}) d2 JOIN wt w2 ON w2.i = d2.b2))
          // (2 * (SELECT SUM((2 * CAST(w3.wtot AS HUGEINT)
                     * 1000000000000000 + d3.d) // (2 * d3.d))
                   FROM ({_BT_D_SUBQ}) d3 JOIN wt w3 ON w3.i = d3.b2))
          AS BIGINT)
      FROM bt c WHERE c.r < 10)
    SELECT bt.b AS brand, wt.wtot AS wins, wt.ntot AS comparisons,
           bt.pi AS bt_score_micro
    FROM bt JOIN wt ON bt.b = wt.i
    WHERE bt.r = 10
    ORDER BY bt_score_micro DESC, brand LIMIT 10
    """,
)
def bradley_terry_brand_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ranking of brands from PAIRED
    COMPARISONS: every order carrying two brands is a head-to-head
    match (winner = the brand with the larger exact-cents line revenue
    in that order; ties are no-contests), and the MM algorithm (Hunter
    2004) turns the 25x25 win matrix into latent strengths π where
    P(i beats j) = πᵢ/(πᵢ+πⱼ). This is the model behind chess Elo and
    LLM-arena leaderboards — here it ranks brands by their probability
    of out-earning any rival INSIDE shared baskets, which no marginal
    revenue ranking can see (a brand that only appears in cheap baskets
    can still beat everything it meets).

    Algorithm: 10 MM rounds π'ᵢ = Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ), renormalized to
    mean 10⁶ each round. Every step is INTEGER: per-pair terms quantize
    to nano ticks via half-up integer division (order-independent
    sums), the update and the renormalization are exact half-up
    integer divisions — the recursive-CTE oracle (HUGEINT) and the
    Python rounds walk one bit-identical trajectory (plus an
    independent replay in tests). Brands that never win or never lose
    are excluded up front (their MLE is ±∞; none exist on this corpus,
    the guard is structural).

    Scale: the distributed work is the fact-grain (order, brand)
    rollup + the per-order head-to-head fan-out; the win matrix that
    reaches the driver is SCHEMA-bounded (|brands|² ≤ 625 — a fixed
    catalog dimension at every SF, the bounded-collect class), and the
    10 MM rounds on it are exact int arithmetic where Spark jobs would
    be pure scheduler overhead."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("r")
        )
        # both sides of the head-to-head self-join; without the
        # checkpoint the lineitem ⋈ part rollup ran once per side
        # (r11 — ReusedExchange does not fire across renamed legs)
        .localCheckpoint()
    )
    a = ob.select("o", F.col("b").alias("i"), F.col("r").alias("ra"))
    x = ob.select("o", F.col("b").alias("j"), F.col("r").alias("rb"))
    comp = (
        a.join(x, "o")
        .filter((F.col("i") != F.col("j")) & (F.col("ra") > F.col("rb")))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    mat0 = (
        comp.select("i", "j", "w", F.col("w").alias("n"))
        .unionAll(
            comp.select(
                F.col("j").alias("i"),
                F.col("i").alias("j"),
                F.lit(0).cast("bigint").alias("w"),
                F.col("w").alias("n"),
            )
        )
        .groupBy("i", "j")
        .agg(
            F.sum("w").cast("bigint").alias("w"),
            F.sum("n").cast("bigint").alias("n"),
        )
    )
    # The win matrix is SCHEMA-bounded: |brands| is a fixed catalog
    # dimension (25 in the TPC-H generator at every SF), so mat is
    # <= 625 rows regardless of data volume — the bounded-collect
    # class. The distributed work is the fact-grain rollup + per-order
    # head-to-heads above; iterating the 10 MM rounds on a 625-row
    # matrix through Spark jobs would be pure scheduler overhead
    # (measured 10.4 s vs ~2 s at sf0.1), so the rounds run as exact
    # Python integer arithmetic on the collected matrix. The per-brand
    # totals (wtot, ntot) are row sums of that same matrix — summed
    # here in exact Python ints instead of a SECOND Spark aggregation,
    # which re-ran the whole fact-grain pipeline (r11: 2 collects ->
    # 1; the values are identical integer sums).
    mrows = capture_stage(mat0).collect()
    wrows: dict = {}
    for r in mrows:
        w_, n_ = wrows.get(r["i"], (0, 0))
        wrows[r["i"]] = (w_ + r["w"], n_ + r["n"])
    bs = sorted(b for b, (w_, n_) in wrows.items() if 0 < w_ < n_)
    keep = set(bs)
    nmat = {
        (r["i"], r["j"]): r["n"]
        for r in mrows
        if r["i"] in keep and r["j"] in keep
    }
    K = len(bs) * 1_000_000
    pi = {b: 1_000_000 for b in bs}

    def _hdiv(num: int, den: int) -> int:
        return (2 * num + den) // (2 * den)

    for _ in range(10):
        pre = {}
        for i in bs:
            d = sum(
                _hdiv(nmat[(i, j)] * 1_000_000_000, pi[i] + pi[j])
                for j in bs
                if nmat.get((i, j), 0) > 0
            )
            pre[i] = _hdiv(wrows[i][0] * 10**15, d)
        stot = sum(pre.values())
        pi = {i: _hdiv(pre[i] * K, stot) for i in bs}
    out = sorted(
        ((b, wrows[b][0], wrows[b][1], pi[b]) for b in bs),
        key=lambda t: (-t[3], t[0]),
    )[:10]
    return spark.createDataFrame(
        out,
        "brand string, wins bigint, comparisons bigint,"
        " bt_score_micro bigint",
    )


@register(
    "hits_brand_authority_topk",
    oracle="""
    WITH RECURSIVE ed AS (
      SELECT DISTINCT o.o_custkey AS c, p.p_brand AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey),
    ref AS (
      SELECT b FROM ed GROUP BY b
      ORDER BY COUNT(*) DESC, b LIMIT 1),
    hits(r, b, a) AS (
      SELECT 0, b, CAST(1000000 AS BIGINT)
      FROM (SELECT DISTINCT b FROM ed)
      UNION
      SELECT cur.r + 1, cur.b,
        CAST((2 * (SELECT CAST(SUM(h.hv) AS HUGEINT)
                   FROM (SELECT e1.c AS cc,
                                CAST(SUM(r2.a) AS HUGEINT) AS hv
                         FROM ed e1 JOIN hits r2
                           ON e1.b = r2.b AND r2.r = cur.r
                         GROUP BY e1.c) h
                   JOIN ed e0 ON e0.c = h.cc
                   WHERE e0.b = cur.b) * 1000000
            + (SELECT CAST(SUM(h.hv) AS HUGEINT)
               FROM (SELECT e1.c AS cc,
                            CAST(SUM(r2.a) AS HUGEINT) AS hv
                     FROM ed e1 JOIN hits r2
                       ON e1.b = r2.b AND r2.r = cur.r
                     GROUP BY e1.c) h
               JOIN ed e0 ON e0.c = h.cc
               WHERE e0.b = (SELECT b FROM ref)))
          // (2 * (SELECT CAST(SUM(h.hv) AS HUGEINT)
                   FROM (SELECT e1.c AS cc,
                                CAST(SUM(r2.a) AS HUGEINT) AS hv
                         FROM ed e1 JOIN hits r2
                           ON e1.b = r2.b AND r2.r = cur.r
                         GROUP BY e1.c) h
                   JOIN ed e0 ON e0.c = h.cc
                   WHERE e0.b = (SELECT b FROM ref)))
          AS BIGINT)
      FROM hits cur WHERE cur.r < 10)
    SELECT b AS brand, a AS authority_micro
    FROM hits WHERE r = 10
    ORDER BY authority_micro DESC, brand LIMIT 10
    """,
)
def hits_brand_authority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores of BRANDS on the customer-brand bipartite
    purchase graph (Kleinberg 1999): an authoritative brand is one
    bought by strong HUBS (broad, well-connected customers), and a hub
    is a customer who buys authoritative brands — the mutually
    recursive pair neither degree counting nor pagerank_bipartite
    captures (PageRank mixes both roles into one score; HITS keeps the
    asymmetry, so this reads as 'what the serious buyers converge on'
    rather than 'what is popular'). Read against
    bradley_terry_brand_ranks: BT ranks brands by WITHIN-basket
    head-to-head revenue wins, HITS by global co-engagement structure;
    brands high on one and low on the other are niche-but-premium or
    ubiquitous-but-cheap.

    Algorithm: 10 double-steps of a ← (MᵀM a) / (MᵀM a)[ref], the
    power iteration on the brand co-engagement Gram operator with ONE
    half-up integer-micro REFERENCE normalization per double-step:
    dividing by the raw score of a fixed reference node (the
    max-degree brand, smallest-key tie-break) is scale-invariant
    exactly like max-normalization but costs one filtered aggregate
    instead of a global max — the standard inverse-iteration trick.
    Raw sums stay exact integers (HUGEINT / Spark bigint within proven
    bounds); the recursive-CTE oracle and a pure-Python replay walk
    the identical integer trajectory.

    Scale: the double-step collapses algebraically onto the brand
    co-engagement GRAM matrix G[b1,b2] = #customers buying both —
    raw_b = Σ G[b,b2]·a_b2 EXACTLY equals the two-join h-then-a form
    (proved by the replay test, which walks the h form). G is
    SCHEMA-bounded (|brands|² ≤ 625, a fixed catalog dimension), so the
    engine computes it in ONE distributed pass over the fact-grain
    edge set (the same dim²-bounded-Gram device as
    embedding_gram_isotropy) and iterates on the collected matrix —
    where per-round Spark jobs over the SF-linear customer grain would
    re-shuffle 10 times for the same integers (measured 10.2 s -> ~2 s
    at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    ed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("c"), F.col("p_brand").alias("b"))
        .distinct()
        # both sides of the Gram self-join below; without the
        # checkpoint the 3-table distinct ran once per side (r11 —
        # ReusedExchange does not fire across the renamed legs)
        .localCheckpoint()
    )
    e2 = ed.select("c", F.col("b").alias("b2"))
    gram = (
        ed.join(e2, "c")
        .groupBy("b", "b2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("g"))
    )
    G: dict = {}
    for r in capture_stage(gram).collect():  # schema-bounded: <= 625 rows
        G[(r["b"], r["b2"])] = r["g"]
    brands = sorted({b for b, _ in G})
    ref = min(brands, key=lambda b: (-G[(b, b)], b))
    a = {b: 1_000_000 for b in brands}
    for _ in range(10):
        raw = {
            b: sum(G.get((b, b2), 0) * a[b2] for b2 in brands)
            for b in brands
        }
        rv = raw[ref]
        a = {
            b: (2 * v * 1_000_000 + rv) // (2 * rv)
            for b, v in raw.items()
        }
    out = sorted(((b, a[b]) for b in brands), key=lambda t: (-t[1], t[0]))[
        :10
    ]
    return spark.createDataFrame(
        out, "brand string, authority_micro bigint"
    )


# ---------------------------------------------------------------------------
# Round-10: categorical-association suite over the lang x source grid.
# ---------------------------------------------------------------------------


@register(
    "categorical_association_lang_source",
    oracle="""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
           FROM obs GROUP BY source),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    dims AS (
      SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS rr,
             CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS cc),
    cells AS (
      SELECT l.lang, c2.source, COALESCE(o.o, 0) AS o, l.r, c2.c, t.n
      FROM rt l CROSS JOIN ct c2 CROSS JOIN tot t
      LEFT JOIN obs o ON o.lang = l.lang AND o.source = c2.source),
    sums AS (
      SELECT
        CAST(SUM(CAST(round(
          pow(CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c, 2)
          / (CAST(n AS DOUBLE) * r * c) * 1000000E0, 0) AS BIGINT))
          AS BIGINT) AS chi2_micro,
        CAST(SUM(CASE WHEN o > 0 THEN CAST(round(2E0 * o
          * ln(CAST(o AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))
          * 1000000E0, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS g2_micro,
        CAST(SUM(CASE WHEN o > 0 THEN CAST(round(
          -(CAST(o AS DOUBLE) / n) * ln(CAST(o AS DOUBLE) / n)
          * 1000000000E0, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS hj_nano
      FROM cells),
    hr AS (
      SELECT CAST(SUM(CAST(round(-(CAST(r AS DOUBLE) / t.n)
        * ln(CAST(r AS DOUBLE) / t.n) * 1000000000E0, 0) AS BIGINT))
        AS BIGINT) AS hr_nano
      FROM rt, tot t),
    hc AS (
      SELECT CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / t.n)
        * ln(CAST(c AS DOUBLE) / t.n) * 1000000000E0, 0) AS BIGINT))
        AS BIGINT) AS hc_nano
      FROM ct, tot t)
    SELECT t.n, d.rr AS n_langs, d.cc AS n_sources,
           s.chi2_micro, s.g2_micro,
           CAST(round(sqrt(CAST(s.chi2_micro AS DOUBLE) / 1000000E0
             / (CAST(t.n AS DOUBLE)
                * (LEAST(d.rr, d.cc) - 1))) * 1000000E0, 0) AS BIGINT)
             AS cramers_v_micro,
           CAST(round(sqrt(GREATEST(0E0,
               CAST(s.chi2_micro AS DOUBLE) / 1000000E0 / t.n
               - (CAST(d.rr AS DOUBLE) - 1) * (d.cc - 1)
                 / (CAST(t.n AS DOUBLE) - 1))
             / (LEAST(CAST(d.rr AS DOUBLE)
                  - (CAST(d.rr AS DOUBLE) - 1) * (d.rr - 1)
                    / (CAST(t.n AS DOUBLE) - 1),
                CAST(d.cc AS DOUBLE)
                  - (CAST(d.cc AS DOUBLE) - 1) * (d.cc - 1)
                    / (CAST(t.n AS DOUBLE) - 1)) - 1E0))
             * 1000000E0, 0) AS BIGINT) AS cramers_v_corrected_micro,
           CAST(round((CAST(hr.hr_nano AS DOUBLE) + hc.hc_nano
               - s.hj_nano)
             / CAST(hr.hr_nano AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS theil_u_lang_micro,
           CAST(round((CAST(hr.hr_nano AS DOUBLE) + hc.hc_nano
               - s.hj_nano)
             / CAST(hc.hc_nano AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS theil_u_source_micro
    FROM sums s, tot t, dims d, hr, hc
    """,
)
def categorical_association_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The categorical-association suite over the lang x source grid —
    G² (likelihood-ratio independence test, the better-calibrated twin
    of chi_square_independence for sparse cells), Cramér's V (the
    [0,1] effect size chi-square lacks), Bergsma's bias-corrected V
    (plain V inflates on large sparse tables — at 20 sources the
    correction is material), and Theil's uncertainty coefficients in
    BOTH directions (U(lang|source) != U(source|lang): "how much does
    knowing the source tell you about language" is the curation
    question, and its asymmetry is invisible to every symmetric
    measure above).

    Exactness: one corpus pass to the contingency grid; every per-cell
    chi²/G²/entropy term quantizes to micro/nano ticks on exact integer
    counts before the bounded sums; the five reported statistics are
    single-row mirrored doubles.

    Scale: everything after the first rollup runs on a <=|langs|x
    |sources| frame.
    """
    d = load_table(spark, sf_dir, "documents")
    obs = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint()
    )
    rt = obs.groupBy("lang").agg(F.sum("o").cast("bigint").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").cast("bigint").alias("c"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    dims = rt.agg(F.count(F.lit(1)).cast("bigint").alias("rr")).crossJoin(
        ct.agg(F.count(F.lit(1)).cast("bigint").alias("cc"))
    )
    cells = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["lang", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    sums = cells.agg(
        F.sum(
            F.expr(
                "CAST(round(pow(CAST(o AS DOUBLE) * n"
                " - CAST(r AS DOUBLE) * c, 2)"
                " / (CAST(n AS DOUBLE) * r * c) * 1000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("chi2_micro"),
        F.sum(
            F.expr(
                "CASE WHEN o > 0 THEN CAST(round(2E0 * o"
                " * ln(CAST(o AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))"
                " * 1000000E0, 0) AS BIGINT) ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("g2_micro"),
        F.sum(
            F.expr(
                "CASE WHEN o > 0 THEN CAST(round("
                "-(CAST(o AS DOUBLE) / n) * ln(CAST(o AS DOUBLE) / n)"
                " * 1000000000E0, 0) AS BIGINT) ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("hj_nano"),
    )
    hr = rt.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round(-(CAST(r AS DOUBLE) / n)"
                " * ln(CAST(r AS DOUBLE) / n) * 1000000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("hr_nano")
    )
    hc = ct.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round(-(CAST(c AS DOUBLE) / n)"
                " * ln(CAST(c AS DOUBLE) / n) * 1000000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("hc_nano")
    )
    j = (
        sums.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
    )
    return j.select(
        "n",
        F.col("rr").alias("n_langs"),
        F.col("cc").alias("n_sources"),
        "chi2_micro",
        "g2_micro",
        F.expr(
            "CAST(round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000E0"
            " / (CAST(n AS DOUBLE) * (LEAST(rr, cc) - 1))) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("cramers_v_micro"),
        F.expr(
            "CAST(round(sqrt(GREATEST(0E0,"
            " CAST(chi2_micro AS DOUBLE) / 1000000E0 / n"
            " - (CAST(rr AS DOUBLE) - 1) * (cc - 1)"
            "   / (CAST(n AS DOUBLE) - 1))"
            " / (LEAST(CAST(rr AS DOUBLE)"
            "     - (CAST(rr AS DOUBLE) - 1) * (rr - 1)"
            "       / (CAST(n AS DOUBLE) - 1),"
            "   CAST(cc AS DOUBLE)"
            "     - (CAST(cc AS DOUBLE) - 1) * (cc - 1)"
            "       / (CAST(n AS DOUBLE) - 1)) - 1E0))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("cramers_v_corrected_micro"),
        F.expr(
            "CAST(round((CAST(hr_nano AS DOUBLE) + hc_nano - hj_nano)"
            " / CAST(hr_nano AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("theil_u_lang_micro"),
        F.expr(
            "CAST(round((CAST(hr_nano AS DOUBLE) + hc_nano - hj_nano)"
            " / CAST(hc_nano AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("theil_u_source_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10: Fano factor across window scales (variance-time curve).
# ---------------------------------------------------------------------------

#: window widths for the Fano curve, in seconds (1h, 6h, 1d).
_FANO_WIDTHS_S = (3600, 21600, 86400)


@register(
    "fano_factor_event_windows",
    oracle=f"""
    WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS t_us FROM events),
    mn AS (SELECT CAST(MIN(t_us) AS BIGINT) AS t0,
                  CAST(MAX(t_us) AS BIGINT) AS t1,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM e),
    widths AS (SELECT * FROM (VALUES
      {", ".join(f"(CAST({w} AS BIGINT))" for w in (3600, 21600, 86400))}) t(w_s)),
    binned AS (
      SELECT widths.w_s,
             (e.t_us - mn.t0) // (widths.w_s * 1000000) AS b
      FROM e CROSS JOIN mn CROSS JOIN widths),
    nonzero AS (
      SELECT w_s, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY 1, 2),
    s AS (
      SELECT w_s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
      FROM nonzero GROUP BY w_s),
    wtot AS (
      SELECT s.w_s, s.q, mn.n,
             (mn.t1 - mn.t0) // (s.w_s * 1000000) + 1 AS nw
      FROM s CROSS JOIN mn)
    SELECT w_s AS window_seconds, CAST(nw AS BIGINT) AS n_windows, n
             AS n_events,
           CAST(round((CAST(q AS DOUBLE)
               - CAST(n AS DOUBLE) * n / nw)
             / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS fano_micro
    FROM wtot ORDER BY w_s
    """,
)
def fano_factor_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of window COUNTS) of the
    event stream at three window scales (1h / 6h / 1d) — the
    variance-time curve: a Poisson stream holds F=1 at every scale;
    F growing with the window is the signature of long-range burst
    correlation (and tells a capacity planner WHICH aggregation
    window smooths the load and which doesn't). The per-type
    burstiness_by_type op is the per-key companion; this is the
    whole-stream multi-scale readout.

    Exactness: windows are integer floor-divisions of exact epoch
    micros anchored at the observed minimum; empty windows enter
    through the closed-form count (span//width + 1), never by
    materializing them: Var = (Sum c^2 - N^2/W)/W over ALL W windows
    reduces to exact integers (128-bit Sum c^2) because the zero
    windows contribute nothing to Sum c^2. F = Var/mean = that over
    N/W — one mirrored double per width.

    Scale: one events pass per width (3 widths ride a tiny
    cross-joined width dim in the same pass); the per-(width, window)
    rollup is the only shuffle; output is 3 rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us")
    )
    mn = e.agg(
        F.min("t_us").cast("bigint").alias("t0"),
        F.max("t_us").cast("bigint").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    widths = spark.createDataFrame(
        [(w,) for w in _FANO_WIDTHS_S], "w_s bigint"
    )
    binned = e.crossJoin(F.broadcast(mn)).crossJoin(
        F.broadcast(widths)
    ).select(
        "w_s",
        F.expr("(t_us - t0) DIV (w_s * 1000000)").alias("b"),
    )
    nonzero = binned.groupBy("w_s", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = nonzero.groupBy("w_s").agg(
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("q")
    )
    wtot = s.crossJoin(F.broadcast(mn)).select(
        "w_s",
        "q",
        "n",
        F.expr("(t1 - t0) DIV (w_s * 1000000) + 1").alias("nw"),
    )
    return wtot.select(
        F.col("w_s").alias("window_seconds"),
        F.col("nw").cast("bigint").alias("n_windows"),
        F.col("n").alias("n_events"),
        F.expr(
            "CAST(round((CAST(q AS DOUBLE)"
            " - CAST(n AS DOUBLE) * n / nw)"
            " / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("fano_micro"),
    ).orderBy("window_seconds")


# ---------------------------------------------------------------------------
# Round-10: Goodman-Kruskal lambda — proportional-reduction-in-error.
# ---------------------------------------------------------------------------


@register(
    "goodman_kruskal_lambda_lang_source",
    oracle="""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    rmax AS (SELECT CAST(MAX(r) AS BIGINT) AS mr FROM
             (SELECT lang, SUM(o) AS r FROM obs GROUP BY lang)),
    cmax AS (SELECT CAST(MAX(c) AS BIGINT) AS mc FROM
             (SELECT source, SUM(o) AS c FROM obs GROUP BY source)),
    colbest AS (
      SELECT CAST(SUM(m) AS BIGINT) AS sum_col_max FROM
      (SELECT source, MAX(o) AS m FROM obs GROUP BY source)),
    rowbest AS (
      SELECT CAST(SUM(m) AS BIGINT) AS sum_row_max FROM
      (SELECT lang, MAX(o) AS m FROM obs GROUP BY lang))
    SELECT t.n, cb.sum_col_max, rm.mr AS modal_lang_count,
           rb.sum_row_max, cm.mc AS modal_source_count,
           CAST((2 * 1000000 * (cb.sum_col_max - rm.mr)
             + (t.n - rm.mr)) // (2 * (t.n - rm.mr)) AS BIGINT)
             AS lambda_lang_micro,
           CAST((2 * 1000000 * (rb.sum_row_max - cm.mc)
             + (t.n - cm.mc)) // (2 * (t.n - cm.mc)) AS BIGINT)
             AS lambda_source_micro
    FROM tot t, rmax rm, cmax cm, colbest cb, rowbest rb
    """,
)
def goodman_kruskal_lambda_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal lambda in both directions on the lang x source
    grid — the proportional-reduction-in-error measure: "guessing a
    doc's language, how much does knowing its source cut the error
    rate vs always guessing the modal language?" Lambda complements
    Theil's U (categorical_association_lang_source): U is
    entropy-weighted and never exactly 0 under any dependence, while
    lambda is MODAL — it reads exactly 0 whenever every source shares
    the same modal language even if the full distributions differ,
    which is itself the finding (dominant-class data makes modal
    prediction unimprovable).

    Exactness: FULLY integer — modal masses are MAX/SUM over the exact
    contingency grid, and each lambda is one exact half-up integer
    division. No double anywhere.

    Scale: one corpus pass to the grid; five scalar rollups on it.
    """
    d = load_table(spark, sf_dir, "documents")
    obs = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint()
    )
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    rmax = (
        obs.groupBy("lang")
        .agg(F.sum("o").alias("r"))
        .agg(F.max("r").cast("bigint").alias("mr"))
    )
    cmax = (
        obs.groupBy("source")
        .agg(F.sum("o").alias("c"))
        .agg(F.max("c").cast("bigint").alias("mc"))
    )
    colbest = (
        obs.groupBy("source")
        .agg(F.max("o").alias("m"))
        .agg(F.sum("m").cast("bigint").alias("sum_col_max"))
    )
    rowbest = (
        obs.groupBy("lang")
        .agg(F.max("o").alias("m"))
        .agg(F.sum("m").cast("bigint").alias("sum_row_max"))
    )
    j = (
        tot.crossJoin(F.broadcast(rmax))
        .crossJoin(F.broadcast(cmax))
        .crossJoin(F.broadcast(colbest))
        .crossJoin(F.broadcast(rowbest))
    )
    return j.select(
        "n",
        "sum_col_max",
        F.col("mr").alias("modal_lang_count"),
        "sum_row_max",
        F.col("mc").alias("modal_source_count"),
        F.expr(
            "CAST((2 * 1000000 * (sum_col_max - mr) + (n - mr))"
            " DIV (2 * (n - mr)) AS BIGINT)"
        ).alias("lambda_lang_micro"),
        F.expr(
            "CAST((2 * 1000000 * (sum_row_max - mc) + (n - mc))"
            " DIV (2 * (n - mc)) AS BIGINT)"
        ).alias("lambda_source_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10: Allan variance of event-window counts (multi-tau).
# ---------------------------------------------------------------------------


@register(
    "allan_variance_event_counts",
    oracle=f"""
    WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS t_us FROM events),
    mn AS (SELECT CAST(MIN(t_us) AS BIGINT) AS t0,
                  CAST(MAX(t_us) AS BIGINT) AS t1,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM e),
    widths AS (SELECT * FROM (VALUES
      {", ".join(f"(CAST({w} AS BIGINT))" for w in (3600, 21600, 86400))})
      t(w_s)),
    spanw AS (
      SELECT w.w_s, mn.t0, mn.n,
             (mn.t1 - mn.t0) // (w.w_s * 1000000) + 1 AS nw
      FROM widths w CROSS JOIN mn),
    allwin AS (
      SELECT s.w_s, s.nw, s.n, unnest(range(s.nw)) AS b
      FROM spanw s),
    nz AS (
      SELECT w.w_s, (e.t_us - m.t0) // (w.w_s * 1000000) AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM e CROSS JOIN mn m CROSS JOIN widths w GROUP BY 1, 2),
    filled AS (
      SELECT a.w_s, a.nw, a.n, a.b, COALESCE(nz.c, 0) AS c
      FROM allwin a LEFT JOIN nz ON a.w_s = nz.w_s AND a.b = nz.b),
    diffs AS (
      SELECT w_s, nw, n, c,
             LEAD(c) OVER (PARTITION BY w_s ORDER BY b) AS c_next
      FROM filled),
    s AS (
      SELECT w_s, MAX(nw) AS nw, MAX(n) AS n,
             CAST(SUM(CAST(c_next - c AS HUGEINT) * (c_next - c))
               AS HUGEINT) AS q,
             CAST(COUNT(c_next) AS BIGINT) AS npairs
      FROM diffs GROUP BY w_s)
    SELECT w_s AS window_seconds, CAST(nw AS BIGINT) AS n_windows,
           n AS n_events,
           CAST(round(CAST(q AS DOUBLE) / 2E0 / npairs * 1000E0, 0)
             AS BIGINT) AS allan_var_milli,
           CAST(round(CAST(q AS DOUBLE) / 2E0 / npairs
             / (CAST(n AS DOUBLE) / nw) * 1000000E0, 0) AS BIGINT)
             AS allan_factor_micro
    FROM s ORDER BY w_s
    """,
)
def allan_variance_event_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Allan variance of event-window counts at 1h/6h/1d — the
    ADJACENT-difference companion of fano_factor_event_windows: Fano
    compares every window against the global mean (so a slow trend
    inflates it), Allan differences NEIGHBORS (trend-immune by
    construction, the reason clock metrology uses it). The normalized
    allan_factor (AVAR/mean) reads like Fano: 1 for Poisson, above for
    bursts, and Fano >> Allan factor at the same tau localizes the
    excess variance to SLOW drift rather than fast bursts.

    Exactness: empty windows DO enter adjacent differences, so the
    window range materializes explicitly (bounded: span/tau rows per
    tau — ~18k at 1h on the test corpora) via range/sequence in both
    engines; squared adjacent differences are exact 128-bit integers;
    the two reported ratios are single-row mirrored doubles.

    Scale: one events pass to nonzero windows; the filled frame is
    calendar-bounded (span/tau), not data-bounded — at any SF the
    1h-grain frame stays ~|hours in span| rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us")
    )
    mn = e.agg(
        F.min("t_us").cast("bigint").alias("t0"),
        F.max("t_us").cast("bigint").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    widths = spark.createDataFrame(
        [(w,) for w in (3600, 21600, 86400)], "w_s bigint"
    )
    spanw = widths.crossJoin(F.broadcast(mn)).select(
        "w_s",
        "t0",
        "n",
        F.expr("(t1 - t0) DIV (w_s * 1000000) + 1").alias("nw"),
    )
    allwin = spanw.select(
        "w_s",
        "nw",
        "n",
        F.explode(F.expr("sequence(CAST(0 AS BIGINT), nw - 1)")).alias("b"),
    )
    nz = (
        e.crossJoin(F.broadcast(mn))
        .crossJoin(F.broadcast(widths))
        .select(
            "w_s", F.expr("(t_us - t0) DIV (w_s * 1000000)").alias("b")
        )
        .groupBy("w_s", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    filled = allwin.join(nz, ["w_s", "b"], "left").select(
        "w_s",
        "nw",
        "n",
        "b",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
    )
    wlead = Window.partitionBy("w_s").orderBy("b")
    diffs = filled.select(
        "w_s",
        "nw",
        "n",
        "c",
        F.lead("c").over(wlead).alias("c_next"),
    )
    s = diffs.groupBy("w_s").agg(
        F.max("nw").alias("nw"),
        F.max("n").alias("n"),
        F.sum(
            F.expr("CAST(c_next - c AS DECIMAL(38,0)) * (c_next - c)")
        ).alias("q"),
        F.count("c_next").cast("bigint").alias("npairs"),
    )
    return s.select(
        F.col("w_s").alias("window_seconds"),
        F.col("nw").cast("bigint").alias("n_windows"),
        F.col("n").alias("n_events"),
        F.expr(
            "CAST(round(CAST(q AS DOUBLE) / 2E0 / npairs * 1000E0, 0)"
            " AS BIGINT)"
        ).alias("allan_var_milli"),
        F.expr(
            "CAST(round(CAST(q AS DOUBLE) / 2E0 / npairs"
            " / (CAST(n AS DOUBLE) / nw) * 1000000E0, 0) AS BIGINT)"
        ).alias("allan_factor_micro"),
    ).orderBy("window_seconds")


# ---------------------------------------------------------------------------
# Round-11: Katz centrality + rich-club coefficient — the two remaining
# classical centrality/topology reads on the capped co-purchase graph.
# ---------------------------------------------------------------------------

#: Katz attenuation as an integer divisor: alpha = 1/64 < 1/DCAP, so
#: alpha * lambda_max < 1 and the series converges (the fixed 10-round
#: quantized iterate is deterministic regardless).
_KATZ_DIV = 64


@register(
    "copurchase_katz_topk",
    oracle=_CP_GRAPH_CTE_REC
    + f"""
    , kz(i, u, s) AS (
      SELECT 0, u, CAST(1000000 AS BIGINT) FROM d
      UNION
      SELECT c.i + 1, c.u,
             CAST(1000000 + COALESCE(
               (SELECT SUM(r2.s) FROM adj a JOIN kz r2
                  ON a.v = r2.u AND r2.i = c.i WHERE a.u = c.u), 0)
               // {_KATZ_DIV} AS BIGINT)
      FROM kz c WHERE c.i < 10)
    SELECT u AS part_key, s AS katz_micro
    FROM kz WHERE i = 10
    ORDER BY katz_micro DESC, part_key LIMIT 20
    """,
)
def copurchase_katz_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by Katz centrality on the co-purchase graph —
    influence as the attenuated count of ALL walks arriving at a node
    (x = 1 + alpha*A*x, alpha = 1/64): the centrality that, unlike
    eigenvector, gives every node a baseline and so stays informative
    on the graph's many small components (eigenvector mass collapses
    onto the dominant component; Katz ranks WITHIN the periphery too).
    alpha < 1/DCAP guarantees convergence since lambda_max <= max
    degree; the Katz-vs-eigenvector rank disagreement localizes which
    parts matter only through the giant component.

    Algorithm: 10 fixed rounds of x' = 1e6 + (Sum_nb x) DIV 64, every
    iterate an exact integer — both engines (and the oracle's
    recursive CTE) walk a bit-identical trajectory; no normalization
    step is needed because the attenuated series is absolutely
    bounded (x <= 1e6 / (1 - 48/64) = 4e6).

    Scale: each round is one shuffle keyed by node over the capped
    adjacency; hint-free; same Pregel budget as the eigenvector op.
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    edges = capture_stage(
        adj.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    ).localCheckpoint()
    x = (
        capture_stage(
            deg.select("u").withColumn(
                "s", F.lit(1_000_000).cast("bigint")
            )
        )
        .localCheckpoint()
    )
    nodes = deg.select("u").localCheckpoint()
    for _ in range(10):
        # linear recursion (x referenced exactly once per round, no
        # max/crossJoin duplication), so the 10 rounds chain lazily
        # over the checkpointed edges/nodes into ONE job instead of
        # paying a materialization job per round (r11; same argument
        # as _pagerank_iterate — the eigenvector tier keeps its
        # per-step checkpoint because its max step compounds). The
        # baseline term is FUSED into the neighbor aggregation via a
        # zero row per node (replaces the per-round nodes LEFT JOIN —
        # r11, guide §2.4; every dst is a src on the symmetric
        # adjacency, so summing an extra 0 equals COALESCE(ns, 0)).
        x = capture_stage(
            edges.join(x, edges.dst == x.u)
            .select(F.col("src").alias("u"), "s")
            .unionAll(
                nodes.select("u", F.lit(0).cast("bigint").alias("s"))
            )
            .groupBy("u")
            .agg(
                F.expr(
                    f"CAST(1000000 + SUM(s) DIV {_KATZ_DIV} AS BIGINT)"
                ).alias("s")
            )
        )
    return (
        x.select(F.col("u").alias("part_key"), F.col("s").alias("katz_micro"))
        .orderBy(F.desc("katz_micro"), "part_key")
        .limit(20)
    )


@register(
    "copurchase_rich_club",
    oracle=_CP_GRAPH_CTE
    + """
    , em AS (
      SELECT least(da.deg, db.deg) AS m
      FROM e JOIN d da ON da.u = e.x JOIN d db ON db.u = e.y),
    ks AS (SELECT unnest(range(1, 13)) AS k),
    phi AS (
      SELECT ks.k,
             CAST((SELECT COUNT(*) FROM d WHERE deg > ks.k) AS BIGINT)
               AS n_nodes,
             CAST((SELECT COUNT(*) FROM em WHERE m > ks.k) AS BIGINT)
               AS n_edges
      FROM ks)
    SELECT k, n_nodes, n_edges,
           CAST(2 * n_edges * 1000000 // (n_nodes * (n_nodes - 1))
             AS BIGINT) AS phi_micro
    FROM phi WHERE n_nodes >= 2
    ORDER BY k
    """,
)
def copurchase_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) of the co-purchase graph for
    degree thresholds k = 1..12: the edge density among nodes of
    degree > k — "do the hubs trade with each other" (phi rising in k
    = an elite of mutually-connected bestsellers; flat/falling = hubs
    are hubs of DISJOINT neighborhoods). Complements assortativity
    (one global correlation) by showing WHERE in the degree spectrum
    the clubbing happens.

    Exactness: FULLY integer — E_k counts edges by min-endpoint-degree
    (each edge classified once), N_k nodes by degree, phi an exact
    integer-micro floor division.

    Scale: one degrees join over the capped edge set, then 12
    threshold rows computed from two tiny histograms; no per-k scan of
    the graph.
    """
    e, adj, deg, _ = _copurchase_graph(spark, sf_dir)
    em = (
        e.join(deg.withColumnRenamed("u", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("u", "y").withColumnRenamed("deg", "dy"), "y")
        .select(F.least("dx", "dy").alias("m"))
    )
    ks = spark.range(1, 13).select(F.col("id").alias("k"))
    nk = (
        ks.crossJoin(deg.select("deg"))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("deg") > F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nodes")
        )
    )
    ek = (
        ks.crossJoin(em)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("m") > F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_edges")
        )
    )
    return (
        nk.join(ek, "k")
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.expr(
                "CAST(2 * n_edges * 1000000 DIV (n_nodes * (n_nodes - 1))"
                " AS BIGINT)"
            ).alias("phi_micro"),
        )
        .orderBy("k")
    )
