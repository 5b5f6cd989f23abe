"""Distribution-drift and statistical-audit operators: PSI, two-sample
KS, Mann-Whitney U, a one-pass correlation matrix, day-of-week-adjusted
anomaly ranking, and per-source language entropy.

The reference engine (balyuv/ai-etl-studio) answers only what its LLM
can phrase as one SELECT; these are the canned drift/monitoring shapes
an ML-data team runs between every two corpus snapshots — the "did the
incoming distribution move" gate in front of a 100 TB training
pipeline. Driver-directed extension surface, designed Spark-first.

Float-determinism discipline (shared with exact.py and insights.py):
every distributed SUM is over int64 ticks; rank machinery follows the
bucketed-exact-global-rank pattern (per-value-bucket windows + a tiny
bucket-offset table — never a single-partition global sort); doubles
appear only in final tiny-table expressions mirrored token-for-token in
the DuckDB oracle, quantized to ticks where the expression is compound
(the gini 1-ulp lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_etl_studio_spark.catalog import load_table
from ai_etl_studio_spark.functions.exact import cents
from ai_etl_studio_spark.operators import register

#: n_chars bin width for the PSI histogram.
_PSI_BIN = 50

#: Value-bucket width (cents) for the bucketed exact rank/ECDF used by
#: the KS and Mann-Whitney tests (same scheme as gini_concentration).
_RANK_BUCKET_CENTS = 1_000_000

#: The two order-priority populations the two-sample tests compare.
_GRP_A = "1-URGENT"
_GRP_B = "5-LOW"


# ---------------------------------------------------------------------------
# Population Stability Index over a binned histogram
# ---------------------------------------------------------------------------

@register(
    "psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT CAST(n_chars // {_PSI_BIN} AS BIGINT) AS bin,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_expected,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS cnt_actual
      FROM documents WHERE lang IS NOT NULL
      GROUP BY 1),
    t AS (
      SELECT bin, cnt_expected, cnt_actual,
             CAST(SUM(cnt_expected) OVER () AS BIGINT) AS n_e,
             CAST(SUM(cnt_actual) OVER () AS BIGINT) AS n_a
      FROM b),
    c AS (
      SELECT bin, cnt_expected, cnt_actual,
             CASE WHEN cnt_expected > 0 AND cnt_actual > 0 THEN
               CAST(round(
                 (CAST(cnt_actual AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(cnt_expected AS DOUBLE) / CAST(n_e AS DOUBLE))
                 * ln((CAST(cnt_actual AS DOUBLE) / CAST(n_a AS DOUBLE))
                      / (CAST(cnt_expected AS DOUBLE) / CAST(n_e AS DOUBLE)))
                 * 1000000000, 0) AS BIGINT)
             END AS contrib_ticks
      FROM t)
    SELECT bin, cnt_expected, cnt_actual, contrib_ticks,
           CAST(SUM(contrib_ticks) OVER () AS BIGINT) AS psi_ticks
    FROM c ORDER BY bin
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the English and non-English
    document-length distributions — the standard "did this feature's
    distribution move between snapshots" drift gate (PSI < 0.1 stable,
    > 0.25 action).

    Scale: documents reduce immediately to ≤ ~dozen histogram bins via
    ONE map-side-combinable count aggregation; the side totals, per-bin
    probabilities, and the PSI sum are all windows over that tiny bin
    table. Bins where either side is empty contribute NULL (reported,
    not silently dropped — the eps-smoothing choice is the caller's);
    the ln((p_a)/(p_e)) term is quantized to integer nanoticks with the
    expression mirrored token-for-token in the oracle.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    b = d.groupBy(
        (F.col("n_chars") / _PSI_BIN).cast("bigint").alias("bin")
    ).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("cnt_expected"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("cnt_actual"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = b.select(
        "bin",
        "cnt_expected",
        "cnt_actual",
        F.sum("cnt_expected").over(w_all).alias("n_e"),
        F.sum("cnt_actual").over(w_all).alias("n_a"),
    )
    pa = F.col("cnt_actual").cast("double") / F.col("n_a").cast("double")
    pe = F.col("cnt_expected").cast("double") / F.col("n_e").cast("double")
    contrib = (
        F.when(
            (F.col("cnt_expected") > 0) & (F.col("cnt_actual") > 0),
            F.round((pa - pe) * F.log(pa / pe) * 1_000_000_000, 0).cast("bigint"),
        )
    ).alias("contrib_ticks")
    c = t.select("bin", "cnt_expected", "cnt_actual", contrib)
    return c.select(
        "*", F.sum("contrib_ticks").over(w_all).alias("psi_ticks")
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Shared bucketed exact ECDF/rank scaffold for the two-sample tests
# ---------------------------------------------------------------------------

def _two_sample_per_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distinct-price counts for the two compared populations, with
    bucketed exact cumulative counts.

    Returns one row per distinct cents value carrying (v, ca, cb,
    cum_a, cum_b, cum_all_before, n1, n2) where cum_* are INCLUSIVE
    global cumulative counts in value order and cum_all_before is the
    EXCLUSIVE pooled one — everything downstream (KS sup-distance,
    Mann-Whitney midranks) is arithmetic on this table.

    Scale: the global order is never materialized as a global sort —
    values hash-bucket by range (``_RANK_BUCKET_CENTS``), per-bucket
    windows cumulate in parallel, and each bucket's global offset comes
    from a window over the tiny occupied-bucket table (the
    gini_concentration pattern). ``localCheckpoint`` materializes the
    per-value reduction once for its three consumers (per-bucket
    windows, bucket totals, grand totals).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(_GRP_A, _GRP_B)
    )
    per_v = (
        o.select(
            cents("o_totalprice").alias("v"),
            (F.col("o_orderpriority") == _GRP_A).cast("bigint").alias("is_a"),
        )
        .groupBy("v")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
        )
        .withColumn("bkt", (F.col("v") / _RANK_BUCKET_CENTS).cast("bigint"))
        .localCheckpoint()
    )
    per_bkt = per_v.groupBy("bkt").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bkt.select(
        "bkt",
        F.coalesce(F.sum("ta").over(w_off), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("off_b"),
    )
    totals = per_v.agg(
        F.sum("ca").cast("bigint").alias("n1"), F.sum("cb").cast("bigint").alias("n2")
    )
    w_in = (
        Window.partitionBy("bkt").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_ex = (
        Window.partitionBy("bkt").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_v.withColumn("la", F.sum("ca").over(w_in))
        .withColumn("lb", F.sum("cb").over(w_in))
        .withColumn(
            "lx", F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w_ex), F.lit(0))
        )
        .join(offsets, "bkt")
        .crossJoin(F.broadcast(totals))
        .select(
            "v",
            "ca",
            "cb",
            (F.col("off_a") + F.col("la")).alias("cum_a"),
            (F.col("off_b") + F.col("lb")).alias("cum_b"),
            (F.col("off_a") + F.col("off_b") + F.col("lx")).alias("cum_all_before"),
            "n1",
            "n2",
        )
    )


#: Shared oracle CTE prefix producing the same per-value table.
_TWO_SAMPLE_CTE = f"""
    WITH f AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '{_GRP_A}' THEN 1 ELSE 0 END AS is_a
      FROM orders
      WHERE o_orderpriority IN ('{_GRP_A}', '{_GRP_B}')),
    pv AS (
      SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM f GROUP BY v),
    c AS (
      SELECT v, ca, cb,
             CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b,
             CAST(COALESCE(SUM(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_all_before
      FROM pv),
    t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cb) AS BIGINT) AS n2
      FROM pv)
"""


@register(
    "ks_two_sample",
    oracle=_TWO_SAMPLE_CTE
    + """
    SELECT n1, n2,
           CAST(MAX(ABS(cum_a * n2 - cum_b * n1)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(cum_a * n2 - cum_b * n1)) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE) AS d_stat
    FROM c, t GROUP BY n1, n2
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic comparing the
    order-value distributions of urgent vs low-priority orders — the
    nonparametric "are these two samples from the same distribution"
    drift test.

    Scale: the sup-distance needs both ECDFs at every distinct value;
    the bucketed cumulative scaffold (``_two_sample_per_value``) builds
    them with per-bucket parallel windows — no global sort. D is kept
    as an EXACT integer cross-product sup |F1·n2 - F2·n1| (int64 safe
    to ~sf1000: cum ≤ 6e8, n ≤ 6e8 → 3.6e17 < 2^63; beyond that switch
    the product to decimal128); the surfaced d_stat is one mirrored
    IEEE division.
    """
    pv = _two_sample_per_value(spark, sf_dir)
    d = F.abs(F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1"))
    return pv.groupBy("n1", "n2").agg(
        F.max(d).cast("bigint").alias("d_num"),
        (
            F.max(d).cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
        ).alias("d_stat"),
    )


@register(
    "mannwhitney_utest",
    oracle=_TWO_SAMPLE_CTE
    + """
    , mr AS (
      SELECT ca, cb, ca + cb AS cnt,
             2 * cum_all_before + (ca + cb) + 1 AS mr2
      FROM c),
    s AS (
      SELECT CAST(SUM(ca * mr2) AS BIGINT) AS r1x2,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
      FROM mr)
    SELECT n1, n2,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2, tie_term,
           CAST(round(
             (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 * n2 AS DOUBLE) / 2)
             / sqrt(CAST(n1 * n2 AS DOUBLE) / 12
                    * (CAST(n1 + n2 + 1 AS DOUBLE)
                       - CAST(tie_term AS DOUBLE)
                         / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))
             * 1000000, 0) AS BIGINT) AS z_ticks
    FROM s, t
    """,
)
def mannwhitney_utest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test on the same two order
    populations — the rank-based location-shift test that, unlike the
    t/z test, needs every row's exact global midrank.

    Scale: midranks come from the bucketed exclusive-cumulative scaffold
    (2·midrank = 2·cum_before + t + 1 stays integer through ties); the
    doubled rank sum R1·2 and the tie-correction Σ(t³-t) are exact int64
    (Σ ca·mr2 ≤ n1·2n ≈ 1.8e18 at sf1000 — documented bound, decimal128
    beyond); only the final z-score is a mirrored compound double,
    quantized to microticks per the gini 1-ulp lesson.
    """
    pv = _two_sample_per_value(spark, sf_dir)
    mr2 = F.lit(2) * F.col("cum_all_before") + (F.col("ca") + F.col("cb")) + F.lit(1)
    cnt = F.col("ca") + F.col("cb")
    s = pv.groupBy("n1", "n2").agg(
        F.sum(F.col("ca") * mr2).cast("bigint").alias("r1x2"),
        F.sum(cnt * cnt * cnt - cnt).cast("bigint").alias("tie_term"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1x2 = F.col("r1x2") - n1 * (n1 + F.lit(1))
    z = (
        u1x2.cast("double") / 2 - (n1 * n2).cast("double") / 2
    ) / F.sqrt(
        (n1 * n2).cast("double") / 12
        * (
            (n1 + n2 + F.lit(1)).cast("double")
            - F.col("tie_term").cast("double")
            / ((n1 + n2) * (n1 + n2 - F.lit(1))).cast("double")
        )
    )
    return s.select(
        "n1",
        "n2",
        u1x2.cast("bigint").alias("u1_x2"),
        "tie_term",
        F.round(z * 1_000_000, 0).cast("bigint").alias("z_ticks"),
    )


# ---------------------------------------------------------------------------
# One-pass pairwise correlation matrix
# ---------------------------------------------------------------------------

#: (output name, tick expression SQL, Spark tick column) per measure —
#: tick scales chosen so Σx² stays inside int64 through ~sf100
#: (price in whole dollars: 9e4² × 6e8 rows ≈ 5e18 < 2^63).
_CORR_COLS = [
    ("quantity", "CAST(round(l_quantity * 100, 0) AS BIGINT)"),
    ("price", "CAST(round(l_extendedprice, 0) AS BIGINT)"),
    ("discount", "CAST(round(l_discount * 100, 0) AS BIGINT)"),
    ("tax", "CAST(round(l_tax * 100, 0) AS BIGINT)"),
]

_CORR_PAIRS = [
    ("quantity", "price"),
    ("quantity", "discount"),
    ("quantity", "tax"),
    ("price", "discount"),
    ("price", "tax"),
    ("discount", "tax"),
]


def _corr_oracle() -> str:
    ticks = ", ".join(f"{sql} AS t_{n}" for n, sql in _CORR_COLS)
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for n, _ in _CORR_COLS:
        sums.append(f"CAST(SUM(t_{n}) AS BIGINT) AS s_{n}")
    for i, (a, _) in enumerate(_CORR_COLS):
        for b, _sql in _CORR_COLS[i:]:
            sums.append(f"CAST(SUM(t_{a} * t_{b}) AS BIGINT) AS x_{a}_{b}")
    rows = []
    for a, b in _CORR_PAIRS:
        corr = (
            f"(CAST(n AS DOUBLE) * CAST(x_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * CAST(x_{a}_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * CAST(x_{b}_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        rows.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,"
            f" CAST(round({corr} * 1000000000, 0) AS BIGINT) AS corr_ticks"
            f" FROM s"
        )
    sums_str = ", ".join(sums)
    return (
        f"WITH ticks AS (SELECT {ticks} FROM lineitem),"
        f" s AS (SELECT {sums_str} FROM ticks)"
        f" {' UNION ALL '.join(rows)} ORDER BY col_x, col_y"
    )


@register("correlation_matrix", oracle=_corr_oracle())
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's four numeric
    measures — the profiling primitive behind feature selection and
    redundant-column detection, computed from ONE fused pass.

    Scale: a single aggregation collects all 15 sufficient statistics
    (n, 4 sums, 10 products) with map-side combine — the 100 TB cost is
    exactly one scan + one 1-row reduce, NOT 6 corr() passes. The sums
    are exact int64 on quantized ticks (scales documented at
    ``_CORR_COLS``; at ~sf1000 move the Σx² columns to decimal128); the
    6 output rows explode from the single stats row, each correlation a
    mirrored compound double quantized to nanoticks.
    """
    li = load_table(spark, sf_dir, "lineitem")
    tick = {
        "quantity": F.round(F.col("l_quantity") * 100, 0).cast("bigint"),
        "price": F.round(F.col("l_extendedprice"), 0).cast("bigint"),
        "discount": F.round(F.col("l_discount") * 100, 0).cast("bigint"),
        "tax": F.round(F.col("l_tax") * 100, 0).cast("bigint"),
    }
    ticks = li.select(*[c.alias(f"t_{n}") for n, c in tick.items()])
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    names = list(tick)
    for n in names:
        aggs.append(F.sum(f"t_{n}").cast("bigint").alias(f"s_{n}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(F.col(f"t_{a}") * F.col(f"t_{b}"))
                .cast("bigint")
                .alias(f"x_{a}_{b}")
            )
    s = ticks.agg(*aggs)

    def corr_ticks(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        xab = F.col(f"x_{a}_{b}").cast("double")
        xaa, xbb = F.col(f"x_{a}_{a}").cast("double"), F.col(f"x_{b}_{b}").cast("double")
        corr = (n * xab - sa * sb) / (
            F.sqrt(n * xaa - sa * sa) * F.sqrt(n * xbb - sb * sb)
        )
        return F.round(corr * 1_000_000_000, 0).cast("bigint")

    structs = [
        F.struct(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            F.col("n").alias("n"),
            corr_ticks(a, b).alias("corr_ticks"),
        )
        for a, b in _CORR_PAIRS
    ]
    return (
        s.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("col_x", "col_y")
    )


# ---------------------------------------------------------------------------
# Day-of-week-adjusted volume anomalies
# ---------------------------------------------------------------------------

@register(
    "seasonal_anomaly_dow",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    d AS (
      SELECT day, CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS dow,
             n_events FROM daily),
    w AS (
      SELECT day, dow, n_events,
             SUM(n_events) OVER (PARTITION BY dow ORDER BY day
               ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS baseline2,
             COUNT(*) OVER (PARTITION BY dow ORDER BY day
               ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS k
      FROM d)
    SELECT day, dow, n_events, CAST(baseline2 AS BIGINT) AS baseline2,
           CAST(2 * n_events - baseline2 AS BIGINT) AS dev_x2
    FROM w WHERE k = 2
    ORDER BY ABS(2 * n_events - baseline2) DESC, day LIMIT 20
    """,
)
def seasonal_anomaly_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 daily event-volume anomalies after removing day-of-week
    seasonality: each day's count vs the sum of the two previous SAME
    weekdays — the monitoring query behind "traffic looks weird today",
    which a raw z-score gets wrong on every weekend.

    Scale: events reduce to one row per calendar day in a single
    map-side-combinable count; the seasonal baseline is a 2-row lag
    window inside 7 tiny weekday partitions, and the deviation 2·n -
    baseline stays exact int64 (no /2 rational). Days-since-epoch mod 7
    derives the weekday identically in both engines (locale-free). Final
    ranking is a TakeOrdered heap with the day as tiebreak.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "dow",
            (F.datediff(F.col("day"), F.lit("1970-01-01")).cast("bigint")) % 7,
        )
    )
    w = Window.partitionBy("dow").orderBy("day").rowsBetween(-2, -1)
    out = (
        daily.withColumn("baseline2", F.sum("n_events").over(w))
        .withColumn("k", F.count("n_events").over(w))
        .filter(F.col("k") == 2)
    )
    dev = (F.lit(2) * F.col("n_events") - F.col("baseline2")).cast("bigint")
    return (
        out.select(
            "day",
            "dow",
            "n_events",
            F.col("baseline2").cast("bigint").alias("baseline2"),
            dev.alias("dev_x2"),
        )
        .orderBy(F.abs(F.col("dev_x2")).desc(), "day")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Per-source language-mix entropy
# ---------------------------------------------------------------------------

@register(
    "entropy_by_source",
    oracle="""
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents WHERE lang IS NOT NULL GROUP BY source, lang),
    t AS (
      SELECT source, lang, n,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS tot
      FROM c)
    SELECT source, CAST(MAX(tot) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(-SUM(CAST(round(
             (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
             * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
             * 1000000000, 0) AS BIGINT)) AS BIGINT) AS entropy_ticks
    FROM t GROUP BY source ORDER BY source
    """,
)
def entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix — the diversity
    score that flags a crawl source collapsing to one language (entropy
    → 0) before it skews the corpus mix.

    Scale: documents reduce to |source|×|lang| counts in one map-side-
    combinable aggregation; the per-source total is a window over that
    tiny table and each -p·ln(p) term is quantized to nanoticks BEFORE
    the per-source sum, so the distributed SUM is exact int64 and
    engine-order-free.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.withColumn(
        "tot", F.sum("n").over(Window.partitionBy("source")).cast("bigint")
    )
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    term = F.round(p * F.log(p) * 1_000_000_000, 0).cast("bigint")
    return (
        t.withColumn("term_ticks", term)
        .groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            (-F.sum("term_ticks")).cast("bigint").alias("entropy_ticks"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Market concentration (Herfindahl-Hirschman index)
# ---------------------------------------------------------------------------

@register(
    "hhi_concentration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    cust AS (
      SELECT c.c_nationkey, s.cents
      FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
    tot AS (
      SELECT c_nationkey, CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM cust GROUP BY c_nationkey),
    terms AS (
      SELECT cu.c_nationkey,
             CAST(round(
               (CAST(cu.cents AS DOUBLE) / CAST(t.total_cents AS DOUBLE))
               * (CAST(cu.cents AS DOUBLE) / CAST(t.total_cents AS DOUBLE))
               * 1000000000, 0) AS BIGINT) AS term_ticks
      FROM cust cu JOIN tot t USING (c_nationkey))
    SELECT n.n_name, t.n_customers, t.total_cents,
           CAST(SUM(tr.term_ticks) AS BIGINT) AS hhi_ticks
    FROM terms tr
    JOIN tot t USING (c_nationkey)
    JOIN nation n ON t.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, t.n_customers, t.total_cents
    ORDER BY n.n_name
    """,
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of revenue concentration per customer
    nation — the antitrust-style "is this market owned by a few
    accounts" score (1e9 ticks = monopoly), complementing the global
    gini_concentration with a per-market view.

    Scale: orders reduce to one row per customer BEFORE the customer
    join (key-on-key, hint-free — AQE picks the strategy); nation
    totals are a 25-row aggregate broadcast back onto per-customer
    shares; each share² is quantized to nanoticks per term so the
    per-nation SUM is exact int64 and order-free.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("cents")
    )
    cust = (
        spend.join(c, spend["o_custkey"] == c["c_custkey"])
        .select("c_nationkey", "cents")
        # 2 consumers (nation totals, per-customer terms): materialize
        # the per-customer reduction once — cluster scale: persist()
        .localCheckpoint()
    )
    tot = cust.groupBy("c_nationkey").agg(
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    )
    share = F.col("cents").cast("double") / F.col("total_cents").cast("double")
    terms = cust.join(F.broadcast(tot), "c_nationkey").select(
        "c_nationkey",
        "total_cents",
        "n_customers",
        F.round(share * share * 1_000_000_000, 0).cast("bigint").alias("term_ticks"),
    )
    return (
        terms.join(F.broadcast(n), terms["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "n_customers", "total_cents")
        .agg(F.sum("term_ticks").cast("bigint").alias("hhi_ticks"))
        .select("n_name", "n_customers", "total_cents", "hhi_ticks")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Mutual information of the lang × source contingency table
# ---------------------------------------------------------------------------

@register(
    "mutual_information",
    oracle="""
    WITH c AS (
      SELECT lang, source, COUNT(*) AS n
      FROM documents WHERE lang IS NOT NULL GROUP BY lang, source),
    t AS (
      SELECT n,
             CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS r,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS cl,
             CAST(SUM(n) OVER () AS BIGINT) AS tot
      FROM c)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(tot) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(round(
             (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
             * ln(CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)
                  / (CAST(r AS DOUBLE) * CAST(cl AS DOUBLE)))
             * 1000000000, 0) AS BIGINT)) AS BIGINT) AS mi_ticks
    FROM t
    """,
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) over the same contingency
    table chi_square_independence tests — the effect-size companion
    (how MANY bits of a document's language its source reveals), the
    dependence score used to catch source/label leakage in corpus mixes.

    Scale: one map-side-combinable count reduces documents to
    |lang|×|source| cells; the marginals are windows over that tiny
    table and each p·ln(p·N/(r·c)) term is quantized to nanoticks
    BEFORE the final sum (exact int64, order-free).
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = c.select(
        "n",
        F.sum("n").over(Window.partitionBy("lang")).cast("bigint").alias("r"),
        F.sum("n").over(Window.partitionBy("source")).cast("bigint").alias("cl"),
        F.sum("n").over(w_all).cast("bigint").alias("tot"),
    )
    nd, totd = F.col("n").cast("double"), F.col("tot").cast("double")
    term = F.round(
        (nd / totd)
        * F.log(nd * totd / (F.col("r").cast("double") * F.col("cl").cast("double")))
        * 1_000_000_000,
        0,
    ).cast("bigint")
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("tot").cast("bigint").alias("n_docs"),
        F.sum(term).cast("bigint").alias("mi_ticks"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily-revenue series
# ---------------------------------------------------------------------------

#: Row-lags probed by autocorrelation_lags (1 day, week, fortnight, ~month).
_ACF_LAGS = [1, 7, 14, 28]


@register(
    "autocorrelation_lags",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS DOUBLE) / 100000, 0) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    l AS (
      SELECT x,
             lag(x, 1) OVER (ORDER BY day) AS x1,
             lag(x, 7) OVER (ORDER BY day) AS x7,
             lag(x, 14) OVER (ORDER BY day) AS x14,
             lag(x, 28) OVER (ORDER BY day) AS x28
      FROM daily),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM daily),
    p AS (
      SELECT 1 AS lag_k, x, x1 AS xl FROM l
      UNION ALL SELECT 7, x, x7 FROM l
      UNION ALL SELECT 14, x, x14 FROM l
      UNION ALL SELECT 28, x, x28 FROM l),
    a AS (
      SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x * xl) AS BIGINT) AS sxy,
             CAST(SUM(x) AS BIGINT) AS sa, CAST(SUM(xl) AS BIGINT) AS sb
      FROM p WHERE xl IS NOT NULL GROUP BY lag_k)
    SELECT lag_k, n_pairs,
           CAST(round(
             (CAST(sxy AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sa + sb AS DOUBLE)
              + CAST(n_pairs AS DOUBLE)
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(q AS DOUBLE)
                - CAST(n AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             * 1000000000, 0) AS BIGINT) AS acf_ticks
    FROM a, g ORDER BY lag_k
    """,
)
def autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue at row-lags 1/7/14/28 —
    the seasonality detector behind "is there a weekly cycle" (high
    ACF at 7) and the whiteness check a forecast residual should pass.

    Scale: orders reduce to ONE row per calendar day (bounded by the
    calendar, not the data — ~2.4k rows here) before any window; the
    lag alignment is a single unpartitioned window over that tiny
    series (documented single-partition, same shape as
    holt_level_trend), melted into (lag, x, x_lag) pairs via explode so
    all four lags aggregate in one pass. Daily revenue is quantized to
    $1k ticks so every sufficient statistic (Σx, Σx², Σx·x_lag) is
    exact int64 (safe to ~sf100; decimal128 beyond); the textbook
    mean-centered ACF is ONE mirrored compound double per lag,
    quantized to nanoticks. Lags are over the ROW sequence of observed
    days (calendar gaps collapse — documented).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(
                F.sum(cents("o_totalprice")).cast("double") / 100000, 0
            )
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint()  # tiny; read by the window chain AND the stats agg
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x", *[F.lag("x", k).over(w).alias(f"x{k}") for k in _ACF_LAGS]
    )
    pairs = (
        lagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag_k"),
                            F.col("x").alias("x"),
                            F.col(f"x{k}").alias("xl"),
                        )
                        for k in _ACF_LAGS
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("xl").isNotNull())
    )
    a = pairs.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x") * F.col("xl")).cast("bigint").alias("sxy"),
        F.sum("x").cast("bigint").alias("sa"),
        F.sum("xl").cast("bigint").alias("sb"),
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    acf = (
        F.col("sxy").cast("double")
        - mu * (F.col("sa") + F.col("sb")).cast("double")
        + F.col("n_pairs").cast("double") * mu * mu
    ) / (F.col("q").cast("double") - F.col("n").cast("double") * mu * mu)
    return (
        a.crossJoin(F.broadcast(g))
        .select(
            "lag_k",
            "n_pairs",
            F.round(acf * 1_000_000_000, 0).cast("bigint").alias("acf_ticks"),
        )
        .orderBy("lag_k")
    )


# ---------------------------------------------------------------------------
# Quantile-by-quantile (QQ) drift table
# ---------------------------------------------------------------------------

@register(
    "quantile_drift",
    oracle=_TWO_SAMPLE_CTE
    + """
    , ds AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS d),
    sp AS (
      SELECT d, (d * n1 + 9) // 10 AS ta, (d * n2 + 9) // 10 AS tb
      FROM ds, t),
    q AS (
      SELECT sp.d,
             MIN(CASE WHEN c.cum_a >= sp.ta THEN c.v END) AS v_a,
             MIN(CASE WHEN c.cum_b >= sp.tb THEN c.v END) AS v_b
      FROM c, sp GROUP BY sp.d)
    SELECT d AS decile, CAST(v_a AS BIGINT) AS v_a, CAST(v_b AS BIGINT) AS v_b,
           CAST(v_a - v_b AS BIGINT) AS gap_cents
    FROM q ORDER BY decile
    """,
)
def quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ drift table: the exact decile values of the two compared
    order-value populations side by side, with the per-decile gap in
    cents — WHERE a distribution moved, where KS only says THAT it
    moved.

    Scale: reuses the bucketed exact-ECDF scaffold; each exact decile
    is "min v whose cumulative count reaches ceil(d·n/10)", evaluated
    as a conditional MIN over the per-value table crossed with the
    9-row broadcast threshold spine — no sort, no percentile_approx,
    and the thresholds use pure integer ceil division.
    """
    pv = _two_sample_per_value(spark, sf_dir)
    totals = pv.select("n1", "n2").limit(1)
    spine = totals.select(
        F.explode(F.array(*[F.lit(d) for d in range(1, 10)])).alias("d"),
        "n1",
        "n2",
    ).select(
        "d",
        ((F.col("d") * F.col("n1") + 9) / 10).cast("bigint").alias("ta"),
        ((F.col("d") * F.col("n2") + 9) / 10).cast("bigint").alias("tb"),
    )
    q = (
        pv.crossJoin(F.broadcast(spine))
        .groupBy("d")
        .agg(
            F.min(F.when(F.col("cum_a") >= F.col("ta"), F.col("v"))).alias("v_a"),
            F.min(F.when(F.col("cum_b") >= F.col("tb"), F.col("v"))).alias("v_b"),
        )
    )
    return q.select(
        F.col("d").alias("decile"),
        F.col("v_a").cast("bigint").alias("v_a"),
        F.col("v_b").cast("bigint").alias("v_b"),
        (F.col("v_a") - F.col("v_b")).cast("bigint").alias("gap_cents"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Rising terms between corpus halves
# ---------------------------------------------------------------------------

_RISING_TOPK = 25


@register(
    "rising_terms",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id % 2 AS half,
             unnest(string_split_regex(lower(text), '\s+')) AS token
      FROM documents WHERE text IS NOT NULL),
    c AS (
      SELECT token,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM tok WHERE token <> '' GROUP BY token),
    tot AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb
      FROM c)
    SELECT c.token, c.n_a, c.n_b,
           CAST(round((CAST(c.n_b AS DOUBLE) / tb - CAST(c.n_a AS DOUBLE) / ta)
             * 1000000000, 0) AS BIGINT) AS share_delta_ticks
    FROM c, tot
    ORDER BY share_delta_ticks DESC, c.token
    LIMIT {_RISING_TOPK}
    """,
)
def rising_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-terms detector: the tokens whose frequency SHARE rose
    most between the two deterministic corpus halves — the vocabulary-
    level drift readout (new jargon, a new feed's tics, an emerging
    spam template) that psi_drift's length bins and entropy_by_source's
    language mix cannot name.

    Scale: ONE (token)-keyed reduction computes both cohorts' counts as
    conditional sums (vocabulary-bounded state, map-side combine); the
    reduction is checkpointed so the 2-value totals aggregate from it
    without replanning the scan, then broadcast back; share deltas are
    mirrored divisions in nanoticks and the top-k is a heap.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    c = (
        tok.groupBy("token")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
        .localCheckpoint()
    )
    tot = c.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    delta = F.round(
        (F.col("n_b").cast("double") / F.col("tb")
         - F.col("n_a").cast("double") / F.col("ta"))
        * 1_000_000_000,
        0,
    ).cast("bigint")
    return (
        c.crossJoin(F.broadcast(tot))
        .select("token", "n_a", "n_b", delta.alias("share_delta_ticks"))
        .orderBy(F.desc("share_delta_ticks"), "token")
        .limit(_RISING_TOPK)
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend per nation (median of pairwise slopes)
# ---------------------------------------------------------------------------

@register(
    "theil_sen_trend_by_nation",
    oracle="""
    WITH monthly AS (
      SELECT c.c_nationkey AS nk,
             CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
               AS m,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    idx AS (
      SELECT nk, rev, CAST(year(m) * 12 + month(m) AS BIGINT) AS mi
      FROM monthly),
    pairs AS (
      SELECT a.nk, (b.rev - a.rev) * 1000 AS dr1000, b.mi - a.mi AS dm
      FROM idx a JOIN idx b ON a.nk = b.nk AND b.mi > a.mi),
    slopes AS (
      SELECT nk,
             CAST((dr1000 - (((dr1000 % dm) + dm) % dm)) // dm AS BIGINT)
               AS slope_milli
      FROM pairs),
    ranked AS (
      SELECT nk, slope_milli,
             ROW_NUMBER() OVER (PARTITION BY nk ORDER BY slope_milli) AS rn,
             COUNT(*) OVER (PARTITION BY nk) AS cnt
      FROM slopes)
    SELECT n.n_name AS nation, CAST(cnt AS BIGINT) AS n_pairs,
           CAST(slope_milli AS BIGINT) AS theil_slope_milli
    FROM ranked r JOIN nation n ON r.nk = n.n_nationkey
    WHERE rn = (cnt + 1) // 2
    ORDER BY nation
    """,
)
def theil_sen_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust monthly-revenue trend per nation: the median of
    all pairwise month-to-month slopes — a 29%-breakdown-point estimator
    a single crazy month cannot drag, unlike the OLS fit
    (groupwise_linreg) it complements. The robust-trend standard for
    noisy KPI series.

    Scale: the corpus reduces to |nation|x|month| exact-cents rows
    (partial->final, ONE fact shuffle) before anything quadratic; the
    pairwise self-join and median run on that tiny aggregate (84 months
    -> <=3.5k pairs per nation, independent of row count). Slopes are
    exact integer milli-cents/month via the subtract-positive-mod trick
    (pmod makes the numerator exactly divisible, so Spark DIV and
    DuckDB // agree at every sign); the median is the deterministic
    LOWER median — selection, never averaging, so no float enters.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m"),
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    idx = monthly.select(
        "nk",
        "rev",
        (F.year("m") * 12 + F.month("m")).cast("bigint").alias("mi"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nk") == F.col("b.nk")) & (F.col("b.mi") > F.col("a.mi")),
    ).select(
        F.col("a.nk").alias("nk"),
        ((F.col("b.rev") - F.col("a.rev")) * 1000).alias("dr1000"),
        (F.col("b.mi") - F.col("a.mi")).alias("dm"),
    )
    slopes = pairs.select(
        "nk",
        F.expr("CAST((dr1000 - pmod(dr1000, dm)) DIV dm AS BIGINT)").alias(
            "slope_milli"
        ),
    )
    w = Window.partitionBy("nk")
    ranked = slopes.select(
        "nk",
        "slope_milli",
        F.row_number().over(w.orderBy("slope_milli")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    ).filter(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
    return (
        ranked.join(F.broadcast(n), ranked.nk == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("cnt").cast("bigint").alias("n_pairs"),
            F.col("slope_milli").cast("bigint").alias("theil_slope_milli"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation: nation revenue vs average order value
# ---------------------------------------------------------------------------

@register(
    "spearman_rev_aov_nations",
    oracle="""
    WITH per_nation AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    ranked AS (
      SELECT nk,
             ROW_NUMBER() OVER (ORDER BY rev DESC, nk) AS r_rev,
             ROW_NUMBER() OVER (ORDER BY rev // n_orders DESC, nk) AS r_aov
      FROM per_nation),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((r_rev - r_aov) * (r_rev - r_aov)) AS BIGINT) AS sd2
      FROM ranked)
    SELECT n, sd2,
           CAST(1000000 - (6000000 * sd2) // (n * (n * n - 1)) AS BIGINT)
             AS rho_ppm
    FROM s
    """,
)
def spearman_rev_aov_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between nation TOTAL revenue and nation
    AVERAGE order value: does selling more mean selling bigger? A
    near-zero rho says market size and basket size are independent
    levers — the scale-free cousin of correlation_matrix's Pearson,
    immune to outliers because only ranks enter.

    Scale: the fact join reduces to ONE exact-cents row per nation
    before any ranking; both rank windows and the d-squared sum run on
    the |nation|-row aggregate (25 rows — driver-scale by
    construction). AOV is exact floor-division of positives (Spark DIV
    = DuckDB //); rho is the closed-form 1 - 6*sum(d^2)/(n(n^2-1)) in
    exact integer ppm, floor-divided while the numerator is
    non-negative so both engines truncate identically.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(cents("o_totalprice")).cast("bigint").alias("rev"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    ranked = per_nation.select(
        "nk",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), "nk"))
        .alias("r_rev"),
        F.row_number()
        .over(Window.orderBy(F.expr("rev DIV n_orders").desc(), "nk"))
        .alias("r_aov"),
    )
    d2 = (F.col("r_rev") - F.col("r_aov")) * (F.col("r_rev") - F.col("r_aov"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d2).cast("bigint").alias("sd2"),
    )
    return s.select(
        "n",
        "sd2",
        F.expr(
            "CAST(1000000 - (6000000 * sd2) DIV (n * (n * n - 1)) AS BIGINT)"
        ).alias("rho_ppm"),
    )


# ---------------------------------------------------------------------------
# Kendall tau: brand rank agreement between revenue and unit volume
# ---------------------------------------------------------------------------

@register(
    "kendall_tau_brand_ranks",
    oracle="""
    WITH per_brand AS (
      SELECT p.p_brand AS brand,
             CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev,
             CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1),
    pr AS (
      SELECT CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) > 0
                  THEN 1 ELSE 0 END AS conc,
             CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) < 0
                  THEN 1 ELSE 0 END AS disc
      FROM per_brand a JOIN per_brand b ON a.brand < b.brand),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(conc) AS BIGINT) AS concordant,
             CAST(SUM(disc) AS BIGINT) AS discordant
      FROM pr)
    SELECT n_pairs, concordant, discordant,
           CAST(n_pairs - concordant - discordant AS BIGINT) AS ties,
           CAST(((concordant - discordant) * 1000000
             - ((((concordant - discordant) * 1000000 % n_pairs) + n_pairs)
                % n_pairs)) // n_pairs AS BIGINT) AS tau_ppm
    FROM s
    """,
)
def kendall_tau_brand_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between two brand rankings — by revenue and by
    unit volume: the pairwise-agreement view of "do our dollar-best
    brands also move the most units?", with the tie mass reported
    rather than hidden. Tau's pair semantics make it the standard for
    comparing leaderboards (it IS the bubble-sort distance, rescaled).

    Scale: the fact join reduces to ONE row per brand (exact cents /
    exact units, partial->final) before the O(|brands|^2) pair join —
    25 brands -> 300 pairs regardless of corpus size. Concordance is
    pure integer sign algebra; tau_ppm floor-divides via the
    subtract-positive-mod trick so a negative tau still matches DuckDB
    bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_brand = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(cents("l_extendedprice")).cast("bigint").alias("rev"),
            F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        )
    )
    a, b = per_brand.alias("a"), per_brand.alias("b")
    sign = (F.col("a.rev") - F.col("b.rev")) * (F.col("a.qty") - F.col("b.qty"))
    pr = a.join(b, F.col("a.brand") < F.col("b.brand")).select(
        F.when(sign > 0, 1).otherwise(0).alias("conc"),
        F.when(sign < 0, 1).otherwise(0).alias("disc"),
    )
    s = pr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("conc").cast("bigint").alias("concordant"),
        F.sum("disc").cast("bigint").alias("discordant"),
    )
    return s.select(
        "n_pairs",
        "concordant",
        "discordant",
        (F.col("n_pairs") - F.col("concordant") - F.col("discordant"))
        .cast("bigint")
        .alias("ties"),
        F.expr(
            "CAST(((concordant - discordant) * 1000000"
            " - pmod((concordant - discordant) * 1000000, n_pairs))"
            " DIV n_pairs AS BIGINT)"
        ).alias("tau_ppm"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR screening of per-nation urgency anomalies
# ---------------------------------------------------------------------------

#: Normal-CDF tail via Abramowitz-Stegun 7.1.26 over |z| — the SAME
#: textual expression is planted in the Spark projection and the DuckDB
#: oracle (exact integer inputs -> bit-identical IEEE evaluation).
_PHI_TAIL = (
    "exp(-az * az / 2) / sqrt(2 * pi())"
    " * (0.319381530e0 * (1 / (1 + 0.2316419e0 * az))"
    "  - 0.356563782e0 * pow(1 / (1 + 0.2316419e0 * az), 2)"
    "  + 1.781477937e0 * pow(1 / (1 + 0.2316419e0 * az), 3)"
    "  - 1.821255978e0 * pow(1 / (1 + 0.2316419e0 * az), 4)"
    "  + 1.330274429e0 * pow(1 / (1 + 0.2316419e0 * az), 5))"
)

#: BH target false-discovery rate, in nano (0.05).
_FDR_ALPHA_NANO = 50_000_000


@register(
    "fdr_bh_screening",
    oracle=f"""
    WITH pn AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
               THEN 1 ELSE 0 END) AS BIGINT) AS u
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    t AS (
      SELECT pn.*, CAST(SUM(n) OVER () AS BIGINT) AS tn,
             CAST(SUM(u) OVER () AS BIGINT) AS tu
      FROM pn),
    z AS (
      SELECT nk, n, u,
             abs((CAST(u AS DOUBLE) / n - CAST(tu AS DOUBLE) / tn)
               / sqrt((CAST(tu AS DOUBLE) / tn)
                 * (1 - CAST(tu AS DOUBLE) / tn) / n)) AS az
      FROM t),
    p AS (
      SELECT nk, n, u,
             CAST(round(2 * ({_PHI_TAIL}) * 1000000000, 0) AS BIGINT)
               AS p_nano
      FROM z),
    r AS (
      SELECT p.*, ROW_NUMBER() OVER (ORDER BY p_nano, nk) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p),
    f AS (
      SELECT r.*, CASE WHEN p_nano * m <= rk * {_FDR_ALPHA_NANO}
        THEN rk ELSE 0 END AS hit
      FROM r),
    g AS (SELECT f.*, CAST(MAX(hit) OVER () AS BIGINT) AS cutoff FROM f)
    SELECT nk AS nationkey, n AS n_orders, u AS n_urgent, p_nano,
           rk AS p_rank,
           CAST(CASE WHEN rk <= cutoff THEN 1 ELSE 0 END AS BIGINT)
             AS significant
    FROM g ORDER BY p_rank
    """,
)
def fdr_bh_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which nations' URGENT-order share genuinely deviates from the
    global rate, with the false-discovery rate controlled at 5% by the
    Benjamini-Hochberg step-up — the multiple-testing discipline that
    keeps a 25-segment dashboard from crying wolf on ~1 segment every
    refresh (ab_test_ztest is the single-test primitive; this is what
    you run when you test EVERY segment at once).

    Scale: one fact reduction to |nation| rows; the z/p machinery, the
    p-ranking, and the BH cutoff are windows over that bounded table.
    The normal tail is the shared A&S 7.1.26 text over exact integer
    counts (bit-identical IEEE both engines), the p-value quantizes to
    nano, and the BH comparison p*m <= rank*alpha is EXACT integer
    arithmetic — no float ever decides significance.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pn = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("u"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = pn.select(
        "*",
        F.sum("n").over(w_all).cast("bigint").alias("tn"),
        F.sum("u").over(w_all).cast("bigint").alias("tu"),
    )
    z = t.select(
        "nk",
        "n",
        "u",
        F.expr(
            "abs((CAST(u AS DOUBLE) / n - CAST(tu AS DOUBLE) / tn)"
            " / sqrt((CAST(tu AS DOUBLE) / tn)"
            " * (1 - CAST(tu AS DOUBLE) / tn) / n))"
        ).alias("az"),
    )
    p = z.select(
        "nk",
        "n",
        "u",
        F.expr(
            f"CAST(round(2 * ({_PHI_TAIL}) * 1000000000, 0) AS BIGINT)"
        ).alias("p_nano"),
    )
    r = p.select(
        "*",
        F.row_number().over(Window.orderBy("p_nano", "nk")).alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("m"),
    )
    f = r.withColumn(
        "hit",
        F.when(
            F.col("p_nano") * F.col("m") <= F.col("rk") * _FDR_ALPHA_NANO,
            F.col("rk"),
        ).otherwise(0),
    )
    g = f.withColumn("cutoff", F.max("hit").over(w_all).cast("bigint"))
    return g.select(
        F.col("nk").alias("nationkey"),
        F.col("n").alias("n_orders"),
        F.col("u").alias("n_urgent"),
        "p_nano",
        F.col("rk").alias("p_rank"),
        F.when(F.col("rk") <= F.col("cutoff"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("significant"),
    ).orderBy("p_rank")


# ---------------------------------------------------------------------------
# Neyman optimal sample allocation across strata
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 10_000


@register(
    "neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS s1,
             SUM(CAST(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT) * CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS s2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    w AS (
      SELECT nk, n,
             CAST(round(n * sqrt(CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 0)
               AS BIGINT) AS wt
      FROM s),
    t AS (SELECT w.*, CAST(SUM(wt) OVER () AS BIGINT) AS tw FROM w)
    SELECT nk AS nationkey, n AS stratum_size, wt AS weight_ticks,
           CAST({_NEYMAN_BUDGET} * wt // tw AS BIGINT) AS alloc
    FROM t ORDER BY nationkey
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal audit-sample allocation: given a budget of
    {_NEYMAN_BUDGET} order inspections, how many to draw from each
    nation to estimate mean order value at minimum variance — samples
    proportional to N_h*S_h, so big AND volatile strata get the
    inspectors. The survey-sampling primitive behind every stratified
    audit design (stratified_sample draws uniformly; this says what the
    rates SHOULD be).

    Scale: one fact reduction to per-stratum sufficient statistics
    (Σx through int64 cents, Σx² through the wide-integer rule); the
    N_h*S_h weight quantizes to integer ticks BEFORE the global total
    (per-term tick discipline), and the allocation is exact integer
    floor-division of positives over the bounded stratum table.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    v = cents("o_totalprice")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_nationkey").alias("nk"), v.alias("x"))
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
            ).alias("s2"),
        )
    )
    w = s.select(
        "nk",
        "n",
        F.round(
            F.col("n")
            * F.sqrt(
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s1").cast("double") / F.col("n"))
                * (F.col("s1").cast("double") / F.col("n"))
            ),
            0,
        )
        .cast("bigint")
        .alias("wt"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = w.withColumn("tw", F.sum("wt").over(w_all).cast("bigint"))
    return t.select(
        F.col("nk").alias("nationkey"),
        F.col("n").alias("stratum_size"),
        F.col("wt").alias("weight_ticks"),
        F.expr(f"CAST({_NEYMAN_BUDGET} * wt DIV tw AS BIGINT)").alias("alloc"),
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily revenue series
# ---------------------------------------------------------------------------

@register(
    "runs_test_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    med AS (
      SELECT rev AS m FROM (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, d) AS rn,
               COUNT(*) OVER () AS c FROM daily)
      WHERE rn = (c + 1) // 2),
    sgn AS (
      SELECT d, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
      FROM daily),
    ch AS (
      SELECT s, CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL THEN 1
                     WHEN s <> LAG(s) OVER (ORDER BY d) THEN 1 ELSE 0
                END AS chg
      FROM sgn),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(s) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
             CAST(SUM(chg) AS BIGINT) AS runs
      FROM ch)
    SELECT nd AS n_days, n1 AS n_above, n2 AS n_below, runs,
           CAST(round((runs - (2.0e0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0e0 * n1 * n2 * (2.0e0 * n1 * n2 - n1 - n2)
               / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1)))
             * 1000000000, 0) AS BIGINT) AS z_nano
    FROM agg
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue series: are
    above/below-median days RANDOMLY interleaved, or does revenue run
    in streaks (momentum/regime behavior that invalidates iid
    assumptions behind naive control charts)? z >> 0 means too MANY
    alternations (oscillation), z << 0 too few (clustering).

    Scale: orders reduce to one exact-cents row per day; the median is
    the deterministic LOWER-median selection, the sign/run machinery is
    one lag window, and the z closed form is a mirrored expression over
    four exact integers — all on the bounded daily table.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("rev")
    )
    ranked = daily.select(
        "d",
        "rev",
        F.row_number().over(Window.orderBy("rev", "d")).alias("rn"),
        F.count(F.lit(1))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("c"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(c + 1) DIV 2")).select(
        F.col("rev").alias("m")
    )
    sgn = daily.crossJoin(F.broadcast(med)).select(
        "d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
    )
    lag_s = F.lag("s").over(Window.orderBy("d"))
    ch = sgn.select(
        "s",
        F.when(lag_s.isNull(), 1)
        .when(F.col("s") != lag_s, 1)
        .otherwise(0)
        .alias("chg"),
    )
    agg = ch.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"),
        F.sum("chg").cast("bigint").alias("runs"),
    )
    return agg.select(
        F.col("nd").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "runs",
        F.expr(
            "CAST(round((runs - (2.0e0 * n1 * n2 / (n1 + n2) + 1))"
            " / sqrt(2.0e0 * n1 * n2 * (2.0e0 * n1 * n2 - n1 - n2)"
            " / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1)))"
            " * 1000000000, 0) AS BIGINT)"
        ).alias("z_nano"),
    )


# ---------------------------------------------------------------------------
# Two-factor interaction scan: language x source on document length
# ---------------------------------------------------------------------------

_INTERACT_TOPK = 15


@register(
    "lang_source_interaction_scan",
    oracle=f"""
    WITH cell AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s
      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      GROUP BY 1, 2),
    m AS (
      SELECT cell.*,
             CAST(SUM(s) OVER (PARTITION BY lang) AS BIGINT) AS s_lang,
             CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
             CAST(SUM(s) OVER (PARTITION BY source) AS BIGINT) AS s_src,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS n_src,
             CAST(SUM(s) OVER () AS BIGINT) AS s_all,
             CAST(SUM(n) OVER () AS BIGINT) AS n_all
      FROM cell),
    r AS (
      SELECT lang, source, n,
             CAST(round((CAST(s AS DOUBLE) / n
               - CAST(s_lang AS DOUBLE) / n_lang
               - CAST(s_src AS DOUBLE) / n_src
               + CAST(s_all AS DOUBLE) / n_all) * 1000, 0) AS BIGINT)
               AS interaction_milli
      FROM m)
    SELECT * FROM r
    ORDER BY abs(interaction_milli) DESC, lang, source
    LIMIT {_INTERACT_TOPK}
    """,
)
def lang_source_interaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-factor INTERACTION scan on document length: for each
    (language, source) cell, the residual after removing both main
    effects (cell mean - language mean - source mean + grand mean) —
    the top-{_INTERACT_TOPK} cells where a source writes unusually
    long/short FOR THAT LANGUAGE specifically. Main-effect dashboards
    (entropy_by_source, doc_length_deciles) can't see these; the
    interaction is where scraper bugs and template mixes hide.

    Scale: documents reduce to the |lang|x|source| cell table in ONE
    aggregation; all three margins are windows over that bounded
    table; the residual is a mirrored double expression over exact
    int64 sums, quantized to milli; top-k is a heap.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
    )
    m = cell.select(
        "*",
        F.sum("s").over(Window.partitionBy("lang")).cast("bigint").alias("s_lang"),
        F.sum("n").over(Window.partitionBy("lang")).cast("bigint").alias("n_lang"),
        F.sum("s").over(Window.partitionBy("source")).cast("bigint").alias("s_src"),
        F.sum("n").over(Window.partitionBy("source")).cast("bigint").alias("n_src"),
        F.sum("s")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("s_all"),
        F.sum("n")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n_all"),
    )
    resid = F.round(
        (
            F.col("s").cast("double") / F.col("n")
            - F.col("s_lang").cast("double") / F.col("n_lang")
            - F.col("s_src").cast("double") / F.col("n_src")
            + F.col("s_all").cast("double") / F.col("n_all")
        )
        * 1000,
        0,
    ).cast("bigint")
    return (
        m.select("lang", "source", "n", resid.alias("interaction_milli"))
        .orderBy(F.abs(F.col("interaction_milli")).desc(), "lang", "source")
        .limit(_INTERACT_TOPK)
    )


# ---------------------------------------------------------------------------
# Jackknife standard error (delete-one-group replicates)
# ---------------------------------------------------------------------------

@register(
    "jackknife_se_by_nation",
    oracle="""
    WITH g AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS s
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g),
    r AS (
      SELECT g.nk,
             CAST(round((CAST(tot.ts - g.s AS DOUBLE) / (tot.tn - g.n)
               - CAST(tot.ts AS DOUBLE) / tot.tn)
               * (CAST(tot.ts - g.s AS DOUBLE) / (tot.tn - g.n)
               - CAST(tot.ts AS DOUBLE) / tot.tn) * 1000000, 0) AS BIGINT)
               AS dev_microsq,
             CAST(round(CAST(tot.ts - g.s AS DOUBLE) / (tot.tn - g.n)
               * 1000, 0) AS BIGINT) AS theta_i_milli,
             tot.k
      FROM g CROSS JOIN tot),
    m AS (
      SELECT CAST(MAX(k) AS BIGINT) AS k,
             CAST(SUM(theta_i_milli) AS BIGINT) AS sum_theta_milli,
             CAST(SUM(dev_microsq) AS BIGINT) AS ssq_microsq
      FROM r)
    SELECT k AS n_groups, sum_theta_milli,
           CAST(round(sqrt(CAST(ssq_microsq AS DOUBLE) / 1000000
             * (k - 1) / k) * 1000, 0) AS BIGINT) AS jackknife_se_milli
    FROM m
    """,
)
def jackknife_se_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the global mean
    order value, with nations as the deletion blocks: each replicate
    theta_i is the mean with nation i's mass removed — computable from
    the group totals alone, so the whole resampling scheme costs ONE
    aggregation (the honest uncertainty band when observations within
    a nation are correlated and the iid SE lies).

    Scale: the corpus reduces to per-nation (n, Σcents); replicates are
    arithmetic on that bounded table against the broadcast 1-row
    totals; the deviation terms quantize to ticks BEFORE the k-row sum
    (per-term tick discipline) and the final sqrt is one mirrored
    expression. No resampled data ever materializes.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents("o_totalprice")).cast("bigint").alias("s"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("bigint").alias("ts"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    theta_i = (F.col("ts") - F.col("s")).cast("double") / (
        F.col("tn") - F.col("n")
    )
    theta_all = F.col("ts").cast("double") / F.col("tn")
    r = g.crossJoin(F.broadcast(tot)).select(
        "nk",
        F.round((theta_i - theta_all) * (theta_i - theta_all) * 1_000_000, 0)
        .cast("bigint")
        .alias("dev_microsq"),
        F.round(theta_i * 1000, 0).cast("bigint").alias("theta_i_milli"),
        "k",
    )
    m = r.agg(
        F.max("k").cast("bigint").alias("k"),
        F.sum("theta_i_milli").cast("bigint").alias("sum_theta_milli"),
        F.sum("dev_microsq").cast("bigint").alias("ssq_microsq"),
    )
    return m.select(
        F.col("k").alias("n_groups"),
        "sum_theta_milli",
        F.round(
            F.sqrt(
                F.col("ssq_microsq").cast("double")
                / 1_000_000
                * (F.col("k") - 1)
                / F.col("k")
            )
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("jackknife_se_milli"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimate (Lincoln-Petersen)
# ---------------------------------------------------------------------------

@register(
    "capture_recapture_customers",
    oracle="""
    WITH s1 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
        AND DATE '1996-12-31'),
    s2 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01'
        AND DATE '1997-12-31'),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM s1 JOIN s2 USING (o_custkey)) AS m)
    SELECT n1, n2, m,
           CAST(n1 * n2 // m AS BIGINT) AS lincoln_petersen_estimate,
           (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer)
             AS true_universe
    FROM c
    """,
)
def capture_recapture_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture: estimate the TOTAL customer
    universe from two overlapping yearly 'captures' (active 1996,
    active 1997, and the overlap) — N-hat = n1*n2/m, the ecology
    estimator that answers "how many customers exist that we never see
    in any one window", graded against the actual customer table.

    Scale: two key-distinct reductions, one key-on-key semi-overlap
    count, three 1-row aggregates cross-joined — every input to the
    estimate is an exact integer and the estimator is exact integer
    floor-division of positives.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = F.col("o_orderdate").cast("date")
    s1 = o.filter(d.between("1996-01-01", "1996-12-31")).select(
        "o_custkey"
    ).distinct()
    s2 = o.filter(d.between("1997-01-01", "1997-12-31")).select(
        "o_custkey"
    ).distinct()
    n1 = s1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    m = (
        s1.join(s2, "o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    tu = c.agg(
        F.countDistinct("c_custkey").cast("bigint").alias("true_universe")
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tu))
        .select(
            "n1",
            "n2",
            "m",
            F.expr("CAST(n1 * n2 DIV m AS BIGINT)").alias(
                "lincoln_petersen_estimate"
            ),
            "true_universe",
        )
    )


# ---------------------------------------------------------------------------
# Chow test for a structural break in the revenue trend
# ---------------------------------------------------------------------------

_CHOW_BREAK_MI = 1997 * 12 + 1  # break candidate: 1997-01

#: Per-segment OLS residual sum of squares from sufficient statistics —
#: the same textual expression evaluates per half and on the pooled row.
_RSS_EXPR = (
    "syy - (CAST(sy AS DOUBLE) * sy) / n"
    " - pow(sxy - (CAST(sx AS DOUBLE) * sy) / n, 2)"
    " / (sxx - (CAST(sx AS DOUBLE) * sx) / n)"
)


@register(
    "chow_test_break",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
        + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    seg AS (
      SELECT mi, rev,
             CASE WHEN mi < {_CHOW_BREAK_MI} THEN 0 ELSE 1 END AS h
      FROM monthly),
    s AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mi) AS BIGINT) AS sx,
             CAST(SUM(rev) AS BIGINT) AS sy,
             CAST(SUM(CAST(mi AS HUGEINT) * rev) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(mi AS HUGEINT) * mi) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS syy
      FROM seg GROUP BY h),
    sp AS (SELECT CAST(SUM({_RSS_EXPR}) AS DOUBLE) AS rss_split FROM s),
    p AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
             CAST(SUM(sy) AS BIGINT) AS sy,
             CAST(SUM(sxy) AS DOUBLE) AS sxy,
             CAST(SUM(sxx) AS DOUBLE) AS sxx,
             CAST(SUM(syy) AS DOUBLE) AS syy
      FROM s),
    pool AS (SELECT {_RSS_EXPR} AS rss_pooled, n AS n_tot FROM p)
    SELECT CAST(n_tot AS BIGINT) AS n_months,
           CAST(round(rss_pooled / 1e12, 0) AS BIGINT) AS rss_pooled_tera,
           CAST(round(rss_split / 1e12, 0) AS BIGINT) AS rss_split_tera,
           CAST(round((rss_pooled - rss_split) / 2
             / (rss_split / (n_tot - 4)) * 1000000, 0) AS BIGINT)
             AS chow_f_micro
    FROM pool CROSS JOIN sp
    """,
)
def chow_test_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test on the monthly revenue trend at
    1997-01: fit one line to the whole series and one to each half —
    if splitting buys a big residual drop (F >> 1), the trend CHANGED
    at the break, and every forecast fitted across it is wrong. The
    regime-shift gate in front of trend_forecast_linreg.

    Scale: orders reduce to |month| rows, then to TWO sufficient-
    statistic rows (one per half) — Σxy/Σx²/Σy² through the
    wide-integer rule. The two-element double sums are IEEE-commutative
    (order-free by arithmetic, not by luck), the RSS expression is ONE
    shared text evaluated per half and pooled, and the F ratio is a
    mirrored final expression.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    monthly = o.groupBy(
        (F.year(d) * 12 + F.month(d)).cast("bigint").alias("mi")
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    seg = monthly.withColumn(
        "h", F.when(F.col("mi") < _CHOW_BREAK_MI, 0).otherwise(1)
    )
    mid = F.col("mi").cast("decimal(38,0)")
    rvd = F.col("rev").cast("decimal(38,0)")
    s = seg.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mi").cast("bigint").alias("sx"),
        F.sum("rev").cast("bigint").alias("sy"),
        F.sum(mid * rvd).cast("double").alias("sxy"),
        F.sum(mid * mid).cast("double").alias("sxx"),
        F.sum(rvd * rvd).cast("double").alias("syy"),
    )
    sp = s.agg(F.sum(F.expr(_RSS_EXPR)).cast("double").alias("rss_split"))
    p = s.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxy").cast("double").alias("sxy"),
        F.sum("sxx").cast("double").alias("sxx"),
        F.sum("syy").cast("double").alias("syy"),
    )
    pool = p.select(
        F.expr(_RSS_EXPR).alias("rss_pooled"), F.col("n").alias("n_tot")
    )
    return pool.crossJoin(F.broadcast(sp)).select(
        F.col("n_tot").cast("bigint").alias("n_months"),
        F.round(F.col("rss_pooled") / 1e12, 0)
        .cast("bigint")
        .alias("rss_pooled_tera"),
        F.round(F.col("rss_split") / 1e12, 0)
        .cast("bigint")
        .alias("rss_split_tera"),
        F.round(
            (F.col("rss_pooled") - F.col("rss_split"))
            / 2
            / (F.col("rss_split") / (F.col("n_tot") - 4))
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("chow_f_micro"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality strength (variance explained)
# ---------------------------------------------------------------------------

#: Between-group sum Σ s1_d²/n_d written out over the seven pivoted
#: day-of-week columns in FIXED textual order — evaluated identically
#: (left-associative doubles over exact int64 inputs) in Spark and
#: DuckDB, so no distributed double sum ever happens.
_DOW_SB = " + ".join(
    f"CASE WHEN n_{d} > 0 THEN CAST(s1_{d} AS DOUBLE) * s1_{d} / n_{d}"
    f" ELSE 0 END"
    for d in range(1, 8)
)
_DOW_PIVOT_DDB = ",\n         ".join(
    f"CAST(SUM(CASE WHEN dow = {d} THEN 1 ELSE 0 END) AS BIGINT) AS n_{d},"
    f" CAST(SUM(CASE WHEN dow = {d} THEN rev ELSE 0 END) AS BIGINT) AS s1_{d}"
    for d in range(1, 8)
)


@register(
    "dow_seasonality_strength",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    dd AS (
      SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow, rev FROM daily),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
             CAST(SUM(rev) AS BIGINT) AS s1_tot,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS s2_tot,
             {_DOW_PIVOT_DDB}
      FROM dd)
    SELECT n_tot AS n_days,
           CAST(round((({_DOW_SB})
             - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot)
             / (s2_tot - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot)
             * 1000000, 0) AS BIGINT) AS dow_r2_micro
    FROM t
    """,
)
def dow_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of daily-revenue variance DAY-OF-WEEK explains: the
    one-way-ANOVA R-squared of the daily series against its weekday
    grouping — one number that says whether a weekly seasonal model
    (seasonal_naive_mape, stl_decompose_weekly) is worth fitting at
    all, or the weekday effect is noise.

    Scale: orders reduce to the bounded daily table, then ONE
    conditional aggregation pivots all seven weekday sufficient
    statistics into a single row of exact int64 columns (Σrev² rides
    the wide-integer rule). The between-group sum is a FIXED-ORDER
    seven-term double expression on that one row — mirrored textually
    in the oracle — so no distributed double sum and no tick overflow
    at any revenue magnitude.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("rev")
    )
    dd = daily.select(
        F.dayofweek("d").cast("bigint").alias("dow"), "rev"
    )
    rvd = F.col("rev").cast("decimal(38,0)")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_tot"),
        F.sum("rev").cast("bigint").alias("s1_tot"),
        F.sum(rvd * rvd).cast("double").alias("s2_tot"),
    ]
    for d in range(1, 8):
        aggs.append(
            F.sum(F.when(F.col("dow") == d, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{d}")
        )
        aggs.append(
            F.sum(F.when(F.col("dow") == d, F.col("rev")).otherwise(0))
            .cast("bigint")
            .alias(f"s1_{d}")
        )
    t = dd.agg(*aggs)
    gm = F.col("s1_tot").cast("double") * F.col("s1_tot") / F.col("n_tot")
    return t.select(
        F.col("n_tot").alias("n_days"),
        F.round(
            (F.expr(_DOW_SB) - gm) / (F.col("s2_tot") - gm) * 1_000_000, 0
        )
        .cast("bigint")
        .alias("dow_r2_micro"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (heavy-tail diagnostic)
# ---------------------------------------------------------------------------

_HILL_K = 100


@register(
    "hill_tail_index",
    oracle=f"""
    WITH topv AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders ORDER BY v DESC, o_orderkey LIMIT {_HILL_K + 1}),
    r AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS kk
      FROM topv),
    xk AS (SELECT CAST(MIN(v) AS BIGINT) AS vmin FROM r),
    lt AS (
      SELECT CAST(round(ln(CAST(r.v AS DOUBLE) / xk.vmin) * 1000000000, 0)
        AS BIGINT) AS lnr
      FROM r CROSS JOIN xk WHERE r.rk < r.kk)
    SELECT CAST(COUNT(*) AS BIGINT) AS k_order_stats,
           CAST(SUM(lnr) AS BIGINT) AS sum_ln_ratio_nano,
           CAST(round(CAST(COUNT(*) AS DOUBLE)
             / (CAST(SUM(lnr) AS DOUBLE) / 1e9) * 1000000, 0) AS BIGINT)
             AS hill_alpha_micro
    FROM lt
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top
    {_HILL_K} order statistics: alpha-hat = k / Σ ln(x_i / x_k). Small
    alpha (< 2) means a genuinely heavy tail — whale orders dominate
    totals, means are unstable, and capacity must be sized to extremes;
    large alpha says the tail is thin and mean-based planning is safe.
    The heavy-tail gate in front of any mean-based KPI.

    Scale: the top-(k+1) selection is a TakeOrderedAndProject heap
    (bounded k, deterministic orderkey tiebreak — boundary ties all
    share the same value, so which one becomes x_k cannot change the
    estimate); the log-ratios quantize to nano ticks against the
    broadcast 1-row x_k before the exact k-element integer sum.
    """
    o = load_table(spark, sf_dir, "orders")
    topv = (
        o.select(cents("o_totalprice").alias("v"), "o_orderkey")
        .orderBy(F.desc("v"), "o_orderkey")
        .limit(_HILL_K + 1)
        .select("v")
    )
    r = topv.select(
        "v",
        F.row_number().over(Window.orderBy(F.desc("v"))).alias("rk"),
        F.count(F.lit(1))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("kk"),
    )
    xk = r.agg(F.min("v").cast("bigint").alias("vmin"))
    lt = (
        r.crossJoin(F.broadcast(xk))
        .filter(F.col("rk") < F.col("kk"))
        .select(
            F.round(
                F.log(F.col("v").cast("double") / F.col("vmin"))
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("lnr")
        )
    )
    return lt.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_order_stats"),
        F.sum("lnr").cast("bigint").alias("sum_ln_ratio_nano"),
    ).select(
        "k_order_stats",
        "sum_ln_ratio_nano",
        F.round(
            F.col("k_order_stats").cast("double")
            / (F.col("sum_ln_ratio_nano").cast("double") / 1e9)
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("hill_alpha_micro"),
    )


# ---------------------------------------------------------------------------
# Order-count overdispersion test (variance-to-mean ratio)
# ---------------------------------------------------------------------------

@register(
    "order_count_dispersion",
    oracle="""
    WITH pc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
      FROM orders GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT) AS s1,
             CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) AS s2
      FROM pc)
    SELECT n AS n_customers, s1 AS n_orders,
           CAST(round((s2 / n - (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n)) / (CAST(s1 AS DOUBLE) / n)
             * 1000000, 0) AS BIGINT) AS vmr_micro,
           CAST(round(((s2 / n - (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n)) / (CAST(s1 AS DOUBLE) / n) - 1)
             * sqrt((n - 1) / 2.0e0) * 1000000, 0) AS BIGINT)
             AS z_overdisp_micro
    FROM s
    """,
)
def order_count_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are per-customer order counts Poisson, or is demand CLUMPED? The
    variance-to-mean ratio (VMR = 1 under Poisson) with its z-test —
    VMR >> 1 means a negative-binomial world (a few heavy repeaters
    carry the volume; per-customer forecasts need a dispersion
    parameter), VMR < 1 means scheduled/regular ordering. The
    count-model gate in front of any per-customer rate forecast.

    Scale: one reduction to per-customer counts, one to the three
    sufficient statistics (Σk² through the wide-integer rule); VMR and
    its z are a mirrored final expression on a single row.
    """
    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    kd = F.col("k").cast("decimal(38,0)")
    s = pc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(kd * kd).cast("double").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    vmr = (F.col("s2") / F.col("n") - mu * mu) / mu
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("s1").alias("n_orders"),
        F.round(vmr * 1_000_000, 0).cast("bigint").alias("vmr_micro"),
        F.round(
            (vmr - 1) * F.sqrt((F.col("n") - 1) / F.lit(2.0)) * 1_000_000, 0
        )
        .cast("bigint")
        .alias("z_overdisp_micro"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley cumulative-deviation drift statistic
# ---------------------------------------------------------------------------

_PH_REF_YEAR = 1995


@register(
    "page_hinkley_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    ref AS (
      SELECT CAST(SUM(rev) // COUNT(*) AS BIGINT) AS mu
      FROM daily WHERE year(d) = {_PH_REF_YEAR}),
    m AS (
      SELECT daily.d,
             CAST(SUM(daily.rev - ref.mu) OVER (ORDER BY daily.d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mt
      FROM daily CROSS JOIN ref)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(mt) AS BIGINT) AS max_mt,
           CAST(MIN(mt) AS BIGINT) AS min_mt,
           CAST(MAX(mt) - MIN(mt) AS BIGINT) AS ph_range_cents
    FROM m
    """,
)
def page_hinkley_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley cumulative-deviation statistic for the daily
    revenue stream against the {_PH_REF_YEAR} reference mean: the
    running sum of (x_t − μ_ref) and its max−min RANGE — the classic
    sequential change detector (a level shift shows up as the range
    exploding long before any monthly average moves; cusum_level_shift
    localizes WHERE, this is the one-number alarm magnitude).

    Scale: orders reduce to the bounded daily series; the reference
    mean is a 1-row aggregate-derived broadcast (exact integer floor);
    the cumulative window runs over |days| rows and the extrema reduce
    to one row. Exact integer cents end to end.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("rev")
    )
    ref = daily.filter(F.year("d") == _PH_REF_YEAR).agg(
        F.expr("CAST(SUM(rev) DIV COUNT(*) AS BIGINT)").alias("mu")
    )
    m = daily.crossJoin(F.broadcast(ref)).select(
        F.sum(F.col("rev") - F.col("mu"))
        .over(
            Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("mt")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("mt").cast("bigint").alias("max_mt"),
        F.min("mt").cast("bigint").alias("min_mt"),
        (F.max("mt") - F.min("mt")).cast("bigint").alias("ph_range_cents"),
    )


# ---------------------------------------------------------------------------
# Tukey-fence outlier census on the daily revenue series
# ---------------------------------------------------------------------------

@register(
    "tukey_fence_outlier_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    r AS (
      SELECT d, rev, ROW_NUMBER() OVER (ORDER BY rev, d) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily),
    q AS (
      SELECT CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN rev END) AS BIGINT)
               AS q1,
             CAST(MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN rev END)
               AS BIGINT) AS q3
      FROM r),
    f AS (
      SELECT r.rev, q.q1, q.q3, q.q3 - q.q1 AS iqr
      FROM r CROSS JOIN q)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(q1) AS BIGINT) AS q1_cents,
           CAST(MAX(q3) AS BIGINT) AS q3_cents,
           CAST(SUM(CASE WHEN rev * 2 > q3 * 2 + iqr * 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_high_outliers,
           CAST(SUM(CASE WHEN rev * 2 < q1 * 2 - iqr * 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_low_outliers
    FROM f
    """,
)
def tukey_fence_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boxplot rule as a census: exact quartiles of the daily
    revenue series and the count of days beyond the 1.5xIQR Tukey
    fences on each side — the robust outlier count that, read next to
    mad_outliers' z-style ranking, distinguishes a FAT TAIL (many mild
    outliers) from a few point shocks.

    Scale: orders reduce to the bounded daily table; quartiles are
    exact SELECTION (ceil-index row_number, deterministic date
    tiebreak); the fence test is integer cross-multiplication (x2 and
    x3 clear the 1.5 factor) — no float anywhere.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("rev")
    )
    r = daily.select(
        "d",
        "rev",
        F.row_number().over(Window.orderBy("rev", "d")).alias("rn"),
        F.count(F.lit(1))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n"),
    )
    q = r.agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("rev")))
        .cast("bigint")
        .alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) DIV 4"), F.col("rev"))
        )
        .cast("bigint")
        .alias("q3"),
    )
    f = r.crossJoin(F.broadcast(q)).withColumn(
        "iqr", F.col("q3") - F.col("q1")
    )
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("q1").cast("bigint").alias("q1_cents"),
        F.max("q3").cast("bigint").alias("q3_cents"),
        F.sum(
            F.when(
                F.col("rev") * 2 > F.col("q3") * 2 + F.col("iqr") * 3, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_high_outliers"),
        F.sum(
            F.when(
                F.col("rev") * 2 < F.col("q1") * 2 - F.col("iqr") * 3, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_low_outliers"),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effect: where the urgent/low gap lives
# ---------------------------------------------------------------------------

@register(
    "quantile_shift_by_priority",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS is_a
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    pv AS (
      SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(SUM(1 - is_a) AS BIGINT) AS cb
      FROM v GROUP BY v),
    cum AS (
      SELECT v,
             CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER () AS BIGINT) AS na,
             CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM pv),
    dec AS (SELECT unnest(generate_series(1, 9)) AS q),
    qa AS (
      SELECT dec.q, CAST(MIN(cum.v) AS BIGINT) AS va
      FROM dec JOIN cum ON cum.cum_a * 10 >= dec.q * cum.na
      GROUP BY dec.q),
    qb AS (
      SELECT dec.q, CAST(MIN(cum.v) AS BIGINT) AS vb
      FROM dec JOIN cum ON cum.cum_b * 10 >= dec.q * cum.nb
      GROUP BY dec.q)
    SELECT qa.q AS decile, qa.va AS urgent_cents, qb.vb AS low_cents,
           CAST(qa.va - qb.vb AS BIGINT) AS shift_cents
    FROM qa JOIN qb ON qa.q = qb.q ORDER BY qa.q
    """,
)
def quantile_shift_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-treatment-effect ladder: the exact decile-by-decile
    value gap between URGENT and LOW orders — WHERE in the distribution
    the difference lives (a gap only above the median is a whale
    effect; a uniform ladder is a level shift), which the KS statistic
    (one number) and the mean difference (one number) both flatten.

    Scale: per-distinct-value reduction first; each side's deciles come
    from integer cross-multiplied ECDF thresholds (cum*10 >= q*n — no
    float quantile), resolved by MIN over the value axis. The
    cumulative window runs over distinct VALUES, not rows; the decile
    join is 9x9.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    v = o.select(
        cents("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("is_a"),
    )
    pv = v.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("cb"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = pv.select(
        "v",
        F.sum("ca").over(w_cum).cast("bigint").alias("cum_a"),
        F.sum("cb").over(w_cum).cast("bigint").alias("cum_b"),
        F.sum("ca").over(w_all).cast("bigint").alias("na"),
        F.sum("cb").over(w_all).cast("bigint").alias("nb"),
    ).localCheckpoint()
    dec = spark.range(1, 10).select(F.col("id").cast("bigint").alias("q"))
    qa = (
        F.broadcast(dec)
        .join(cum, F.col("cum_a") * 10 >= F.col("q") * F.col("na"))
        .groupBy("q")
        .agg(F.min("v").cast("bigint").alias("va"))
    )
    qb = (
        F.broadcast(dec)
        .join(cum, F.col("cum_b") * 10 >= F.col("q") * F.col("nb"))
        .groupBy("q")
        .agg(F.min("v").cast("bigint").alias("vb"))
    )
    return (
        qa.join(qb, "q")
        .select(
            F.col("q").alias("decile"),
            F.col("va").alias("urgent_cents"),
            F.col("vb").alias("low_cents"),
            (F.col("va") - F.col("vb")).cast("bigint").alias("shift_cents"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Design effect / effective sample size under nation clustering
# ---------------------------------------------------------------------------

@register(
    "design_effect_by_nation",
    oracle="""
    WITH g AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS s1,
             SUM(CAST(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT) * CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS s2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(SUM(s1) AS BIGINT) AS s1_tot,
             CAST(SUM(s2) AS DOUBLE) AS s2_tot,
             CAST(SUM(CAST(round(CAST(s1 AS DOUBLE) * s1 / n / 1000000, 0)
               AS BIGINT)) AS DOUBLE) * 1000000 AS sb
      FROM g),
    c2 AS (
      SELECT k, n_tot,
             (sb - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot) / (k - 1)
               AS msb,
             (s2_tot - sb) / (n_tot - k) AS msw,
             CAST(n_tot AS DOUBLE) / k AS m_avg
      FROM t)
    SELECT k AS n_clusters, n_tot AS n_orders,
           CAST(round((msb - msw) / (msb + (m_avg - 1) * msw) * 1000000, 0)
             AS BIGINT) AS icc_micro,
           CAST(round((1 + (m_avg - 1) * ((msb - msw) / (msb + (m_avg - 1)
             * msw))) * 1000, 0) AS BIGINT) AS deff_milli,
           CAST(round(n_tot / (1 + (m_avg - 1) * ((msb - msw) / (msb
             + (m_avg - 1) * msw))), 0) AS BIGINT) AS effective_n
    FROM c2
    """,
)
def design_effect_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish design effect under nation clustering: the intraclass
    correlation of order values within nations, the DEFF = 1+(m−1)·ICC
    it implies, and the EFFECTIVE sample size — the honest n for any
    inference that samples whole nations (DEFF 2.0 means your 15k
    orders carry the information of 7.5k independent ones; pairs with
    jackknife_se_by_nation, which prices the same clustering into an
    SE).

    Scale: one reduction to per-nation sufficient statistics; the
    between-group terms quantize to mega-cent² ticks before the k-row
    sum (s1²/n exceeds int64 raw — the tick divisor keeps 12+ exact
    digits at every tested SF; re-scale it alongside the corpus at
    extreme sizes); the ANOVA components and Kish formulas are one
    mirrored final expression.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    val = cents("o_totalprice")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_nationkey").alias("nk"), val.alias("x"))
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
            ).alias("s2"),
        )
    )
    sb_term = F.round(
        F.col("s1").cast("double") * F.col("s1") / F.col("n") / 1_000_000, 0
    ).cast("bigint")
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s1").cast("bigint").alias("s1_tot"),
        F.sum("s2").cast("double").alias("s2_tot"),
        (F.sum(sb_term).cast("double") * 1_000_000).alias("sb"),
    )
    msb = (
        F.col("sb")
        - F.col("s1_tot").cast("double") * F.col("s1_tot") / F.col("n_tot")
    ) / (F.col("k") - 1)
    msw = (F.col("s2_tot") - F.col("sb")) / (F.col("n_tot") - F.col("k"))
    m_avg = F.col("n_tot").cast("double") / F.col("k")
    icc = (msb - msw) / (msb + (m_avg - 1) * msw)
    return t.select(
        F.col("k").alias("n_clusters"),
        F.col("n_tot").alias("n_orders"),
        F.round(icc * 1_000_000, 0).cast("bigint").alias("icc_micro"),
        F.round((1 + (m_avg - 1) * icc) * 1000, 0)
        .cast("bigint")
        .alias("deff_milli"),
        F.round(F.col("n_tot") / (1 + (m_avg - 1) * icc), 0)
        .cast("bigint")
        .alias("effective_n"),
    )


# ---------------------------------------------------------------------------
# SPC range/sigma consistency check (d2 constant)
# ---------------------------------------------------------------------------

@register(
    "spc_range_sigma_ratio",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    wk AS (
      SELECT (d - DATE '1970-01-01') // 7 AS wkno,
             CAST(MAX(rev) - MIN(rev) AS BIGINT) AS rng
      FROM daily GROUP BY 1 HAVING COUNT(*) = 7),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks,
             CAST(SUM(rng) AS BIGINT) AS sum_rng
      FROM wk),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev) AS BIGINT) AS s1,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS s2
      FROM daily)
    SELECT t.n_weeks,
           CAST(t.sum_rng // t.n_weeks AS BIGINT) AS mean_range_cents,
           CAST(round(sqrt(s.s2 / s.n - (CAST(s.s1 AS DOUBLE) / s.n)
             * (CAST(s.s1 AS DOUBLE) / s.n)), 0) AS BIGINT) AS sigma_cents,
           CAST(round((CAST(t.sum_rng AS DOUBLE) / t.n_weeks)
             / sqrt(s.s2 / s.n - (CAST(s.s1 AS DOUBLE) / s.n)
             * (CAST(s.s1 AS DOUBLE) / s.n)) * 1000, 0) AS BIGINT)
             AS range_sigma_ratio_milli
    FROM t CROSS JOIN s
    """,
)
def spc_range_sigma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart's R-bar/sigma consistency check: the mean range of
    complete 7-day subgroups over the pooled standard deviation. For
    an in-control iid process this ratio IS the d2(7) constant 2.704 —
    a ratio well above says within-week outliers, well below says the
    week structure soaks up variance (weekly seasonality — confirm
    with dow_seasonality_strength). The SPC-foundations sanity check
    behind every X-bar/R control chart.

    Scale: two bounded reductions off the daily table (complete weeks
    by epoch-week key; pooled moments with Σrev² through the
    wide-integer rule); the ratio is one mirrored expression on a
    1x1 cross join.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("rev")
    )
    daily = daily.localCheckpoint()
    wk = (
        daily.groupBy(
            F.expr("CAST(datediff(d, DATE '1970-01-01') DIV 7 AS BIGINT)").alias(
                "wkno"
            )
        )
        .agg(
            (F.max("rev") - F.min("rev")).cast("bigint").alias("rng"),
            F.count(F.lit(1)).alias("nd"),
        )
        .filter(F.col("nd") == 7)
    )
    t = wk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum("rng").cast("bigint").alias("sum_rng"),
    )
    rvd = F.col("rev").cast("decimal(38,0)")
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").cast("bigint").alias("s1"),
        F.sum(rvd * rvd).cast("double").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
    return t.crossJoin(F.broadcast(s)).select(
        "n_weeks",
        F.expr("CAST(sum_rng DIV n_weeks AS BIGINT)").alias(
            "mean_range_cents"
        ),
        F.round(sigma, 0).cast("bigint").alias("sigma_cents"),
        F.round(
            (F.col("sum_rng").cast("double") / F.col("n_weeks")) / sigma
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("range_sigma_ratio_milli"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau Q over the registered ACF lags
# ---------------------------------------------------------------------------

def _ljung_box_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    return f"""
    WITH acf AS ({ORACLES["autocorrelation_lags"]}),
    t AS (
      SELECT n_pairs + lag_k AS n,
             CAST(round(CAST(acf_ticks AS DOUBLE) * acf_ticks / n_pairs, 0)
               AS BIGINT) AS term_scaled
      FROM acf)
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_lags,
           CAST(round(CAST(MAX(n) AS DOUBLE) * (MAX(n) + 2)
             * CAST(SUM(term_scaled) AS DOUBLE) / 1e15, 0) AS BIGINT)
             AS ljung_box_q_milli
    FROM t
    """


@register("ljung_box_q", oracle=_ljung_box_oracle())
def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Ljung-Box portmanteau test assembled FROM the registered
    autocorrelation_lags estimates: Q = n(n+2)·Σ r_k²/(n−k) over the
    engine's lag set — the one-number "is there ANY autocorrelation
    structure" gate (chi-square with |lags| dof under the white-noise
    null) that the per-lag ACF table makes the analyst eyeball.

    Scale: everything heavy IS autocorrelation_lags (daily reduction +
    four lag windows); this op adds arithmetic on its 4-row output —
    per-lag terms quantize to scaled integers before the fixed small
    sum, and the oracle text is COMPOSED from the registered ACF
    oracle, so the test can never drift from the estimates.
    """
    from ai_etl_studio_spark.operators import QUERIES as _Q

    acf = _Q["autocorrelation_lags"](spark, sf_dir)
    t = acf.select(
        (F.col("n_pairs") + F.col("lag_k")).alias("n"),
        F.round(
            F.col("acf_ticks").cast("double") * F.col("acf_ticks")
            / F.col("n_pairs"),
            0,
        )
        .cast("bigint")
        .alias("term_scaled"),
    )
    return t.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_lags"),
        F.round(
            F.max("n").cast("double")
            * (F.max("n") + 2)
            * F.sum("term_scaled").cast("double")
            / 1e15,
            0,
        )
        .cast("bigint")
        .alias("ljung_box_q_milli"),
    )


# ---------------------------------------------------------------------------
# KPSS stationarity proxy (level-stationarity statistic)
# ---------------------------------------------------------------------------

@register(
    "kpss_stationarity_proxy",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
             SUM(CAST(x AS HUGEINT) * x) AS q
      FROM daily),
    e AS (
      SELECT daily.d, CAST(daily.x AS HUGEINT) * g.n - g.s AS en,
             g.n, g.s, g.q
      FROM daily CROSS JOIN g),
    cum AS (
      SELECT SUM(en) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS sn,
             n, s, q
      FROM e),
    agg AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(s) AS BIGINT) AS s,
             CAST(MAX(CAST(q AS DOUBLE)) AS DOUBLE) AS qd,
             CAST(SUM(sn * sn) AS DOUBLE) AS ss2
      FROM cum)
    SELECT n AS n_days,
           CAST(round(ss2 / (CAST(n AS DOUBLE) * n)
             / (CAST(n AS DOUBLE) * n)
             / (qd / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             * 1000000, 0) AS BIGINT) AS kpss_eta_micro
    FROM agg
    """,
)
def kpss_stationarity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KPSS level-stationarity statistic (iid-variance flavor):
    η = Σ_t S_t² / (n²·σ̂²) over partial sums of the demeaned daily
    series — the null here is STATIONARY (the mirror of unit-root
    tests), so a large η rejects level-stationarity outright. Read
    with runs_test (independence) and page_hinkley (alarm magnitude):
    the three sequential views of the same health question.

    Scale: demeaning stays EXACT by scaling through n (e_t = n·x_t − Σx
    is integer); partial sums and their squares ride the wide-integer
    rule (Σ S'² fits decimal(38) through every tested SF — re-derive
    the bound before pointing at >10^12-cent days); one cumulative
    window over the bounded daily series, one final mirrored double.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    xd = F.col("x").cast("decimal(38,0)")
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(xd * xd).alias("q"),
    )
    e = daily.crossJoin(F.broadcast(g)).select(
        "d",
        (F.col("x").cast("decimal(38,0)") * F.col("n") - F.col("s")).alias(
            "en"
        ),
        "n",
        "s",
        "q",
    )
    cum = e.select(
        F.sum("en")
        .over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0))
        .alias("sn"),
        "n",
        "s",
        "q",
    )
    agg = cum.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("s").cast("bigint").alias("s"),
        F.max(F.col("q").cast("double")).alias("qd"),
        F.sum(F.col("sn") * F.col("sn")).cast("double").alias("ss2"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / F.col("n")
    return agg.select(
        F.col("n").alias("n_days"),
        F.round(
            F.col("ss2")
            / (nd * F.col("n"))
            / (nd * F.col("n"))
            / (F.col("qd") / F.col("n") - mu * mu)
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("kpss_eta_micro"),
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size between the urgent and low populations
# ---------------------------------------------------------------------------

@register(
    "effect_size_priority",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS s1,
             SUM(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT) * CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS s2
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN grp = 1 THEN n END) AS na,
             MAX(CASE WHEN grp = 1 THEN s1 END) AS sa,
             MAX(CASE WHEN grp = 1 THEN CAST(s2 AS DOUBLE) END) AS qa,
             MAX(CASE WHEN grp = 0 THEN n END) AS nb,
             MAX(CASE WHEN grp = 0 THEN s1 END) AS sb,
             MAX(CASE WHEN grp = 0 THEN CAST(s2 AS DOUBLE) END) AS qb
      FROM s)
    SELECT CAST(na AS BIGINT) AS n_urgent, CAST(nb AS BIGINT) AS n_low,
           CAST(round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
             / sqrt(((qa - CAST(sa AS DOUBLE) * sa / na)
               + (qb - CAST(sb AS DOUBLE) * sb / nb)) / (na + nb - 2))
             * 1000000, 0) AS BIGINT) AS cohens_d_micro
    FROM w
    """,
)
def effect_size_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between the URGENT and LOW order-value populations —
    the standardized effect size that answers "is the difference BIG",
    which the z-test's p-value (ab_test_ztest: is it REAL) and the QTE
    ladder (quantile_shift: WHERE is it) don't: d < 0.2 is a
    difference nobody should reorganize logistics over, however
    significant.

    Scale: both groups reduce to sufficient statistics in ONE
    aggregation, pivot to a single row (two-group conditional MAX), and
    the pooled-SD formula is one mirrored expression. Σx² rides the
    wide-integer rule.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    x = cents("o_totalprice")
    xd = x.cast("decimal(38,0)")
    s = o.groupBy(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("s1"),
        F.sum(xd * xd).alias("s2"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("sa"),
        F.max(F.when(F.col("grp") == 1, F.col("s2").cast("double"))).alias("qa"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("sb"),
        F.max(F.when(F.col("grp") == 0, F.col("s2").cast("double"))).alias("qb"),
    )
    mean_gap = F.col("sa").cast("double") / F.col("na") - F.col("sb").cast(
        "double"
    ) / F.col("nb")
    pooled = F.sqrt(
        (
            (F.col("qa") - F.col("sa").cast("double") * F.col("sa") / F.col("na"))
            + (F.col("qb") - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
        )
        / (F.col("na") + F.col("nb") - 2)
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_urgent"),
        F.col("nb").cast("bigint").alias("n_low"),
        F.round(mean_gap / pooled * 1_000_000, 0)
        .cast("bigint")
        .alias("cohens_d_micro"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall monotone-trend test on monthly revenue
# ---------------------------------------------------------------------------

@register(
    "mann_kendall_trend",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
        + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    p AS (
      SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
               AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM monthly a JOIN monthly b ON b.mi > a.mi),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM monthly)
    SELECT n.n AS n_months, p.s AS mk_s, p.n_pairs,
           CAST(round((p.s - CASE WHEN p.s > 0 THEN 1
                                  WHEN p.s < 0 THEN -1 ELSE 0 END)
             / sqrt(CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5) / 18)
             * 1000000, 0) AS BIGINT) AS mk_z_micro
    FROM p CROSS JOIN n
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mann-Kendall monotone-trend test on monthly revenue: S =
    Σ sign(x_j − x_i) over all month pairs with its continuity-
    corrected z — the SIGNIFICANCE half of the robust-trend pair
    (theil_sen_trend gives the slope magnitude; MK says whether a
    monotone drift exists at all, immune to outliers and any monotone
    transform of the data).

    Scale: the corpus reduces to |month| rows before the bounded pair
    join (the theil_sen device); S is exact integer sign algebra and
    the z is one mirrored closed form over three exact integers.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    monthly = o.groupBy(
        (F.year(d) * 12 + F.month(d)).cast("bigint").alias("mi")
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    a, b = monthly.alias("a"), monthly.alias("b")
    p = a.join(b, F.col("b.mi") > F.col("a.mi")).agg(
        F.sum(
            F.when(F.col("b.rev") > F.col("a.rev"), 1)
            .when(F.col("b.rev") < F.col("a.rev"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    n = monthly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cc = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    return p.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_months"),
        F.col("s").alias("mk_s"),
        "n_pairs",
        F.round(
            (F.col("s") - cc)
            / F.sqrt(
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                / 18
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("mk_z_micro"),
    )


# ---------------------------------------------------------------------------
# Sampling margin-of-error planning table
# ---------------------------------------------------------------------------

_MOE_RATES_PPM = (10_000, 50_000, 100_000, 500_000)


@register(
    "sampling_moe_table",
    oracle=f"""
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS s1,
             CAST(SUM(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
               AS HUGEINT) * CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS DOUBLE) AS s2
      FROM orders),
    rates(rate_ppm) AS (VALUES {", ".join(f"({r})" for r in _MOE_RATES_PPM)})
    SELECT rate_ppm,
           CAST(s.n * rate_ppm // 1000000 AS BIGINT) AS sample_n,
           CAST(round(1.959964e0
             * sqrt((s.s2 / s.n - (CAST(s.s1 AS DOUBLE) / s.n)
                 * (CAST(s.s1 AS DOUBLE) / s.n))
               / (s.n * rate_ppm / 1000000.0e0)
               * (1 - CAST(rate_ppm AS DOUBLE) / 1000000)), 0) AS BIGINT)
             AS moe_cents_95
    FROM rates CROSS JOIN s ORDER BY rate_ppm
    """,
)
def sampling_moe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample-or-scan decision table: the 95% margin of error on
    mean order value at 1/5/10/50% sampling rates, WITH the finite-
    population correction — read off how much accuracy each 10x of
    compute buys before running an expensive full-table job at 100 TB
    (neyman_allocation says WHERE to sample; this says HOW MUCH the
    answer would wobble).

    Scale: one pass over orders for the population moments (Σx² wide-
    integer); the rate spine is inlined constants cross-joined against
    the 1-row moment table, and the MOE is a mirrored expression per
    spine row.
    """
    o = load_table(spark, sf_dir, "orders")
    x = cents("o_totalprice")
    xd = x.cast("decimal(38,0)")
    s = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("s1"),
        F.sum(xd * xd).cast("double").alias("s2"),
    )
    rates = spark.createDataFrame(
        [(r,) for r in _MOE_RATES_PPM], "rate_ppm bigint"
    )
    j = F.broadcast(rates).crossJoin(F.broadcast(s))
    var = F.col("s2") / F.col("n") - (
        F.col("s1").cast("double") / F.col("n")
    ) * (F.col("s1").cast("double") / F.col("n"))
    return j.select(
        "rate_ppm",
        F.expr("CAST(n * rate_ppm DIV 1000000 AS BIGINT)").alias("sample_n"),
        F.round(
            F.lit(1.959964)
            * F.sqrt(
                var
                / (F.col("n") * F.col("rate_ppm") / F.lit(1_000_000.0))
                * (1 - F.col("rate_ppm").cast("double") / 1_000_000)
            ),
            0,
        )
        .cast("bigint")
        .alias("moe_cents_95"),
    ).orderBy("rate_ppm")


# ---------------------------------------------------------------------------
# Empirical-Bayes shrunk return rates (small-sample correction)
# ---------------------------------------------------------------------------

_EB_TOPK = 15


@register(
    "eb_shrunk_return_rates",
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS x
      FROM lineitem GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS tn,
             CAST(SUM(x) AS BIGINT) AS tx
      FROM s),
    dev AS (
      SELECT CAST(SUM(CAST(round((CAST(s.x AS DOUBLE) / s.n
               - CAST(tot.tx AS DOUBLE) / tot.tn)
               * (CAST(s.x AS DOUBLE) / s.n
               - CAST(tot.tx AS DOUBLE) / tot.tn)
               * 1000000000, 0) AS BIGINT)) AS BIGINT) AS ssr_nano
      FROM s CROSS JOIN tot),
    pri AS (
      SELECT tot.k,
             CAST(tot.tx AS DOUBLE) / tot.tn AS p0,
             GREATEST(CAST(dev.ssr_nano AS DOUBLE) / 1e9 / tot.k
               - (CAST(tot.tx AS DOUBLE) / tot.tn)
                 * (1 - CAST(tot.tx AS DOUBLE) / tot.tn)
                 / (CAST(tot.tn AS DOUBLE) / tot.k), 1e-9) AS tau2
      FROM tot CROSS JOIN dev),
    mm AS (SELECT p0, p0 * (1 - p0) / tau2 - 1 AS m FROM pri)
    SELECT s.l_suppkey, s.n, s.x,
           CAST(s.x * 1000000 // s.n AS BIGINT) AS raw_rate_ppm,
           CAST(round((s.x + mm.m * mm.p0) / (s.n + mm.m) * 1000000, 0)
             AS BIGINT) AS shrunk_rate_ppm
    FROM s CROSS JOIN mm
    ORDER BY raw_rate_ppm DESC, s.l_suppkey LIMIT {_EB_TOPK}
    """,
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage on supplier return rates: each raw
    rate pulled toward the global prior by a beta-binomial
    method-of-moments strength — the small-sample correction that stops
    a lucky 100-line supplier from topping (or a noisy one from
    tanking) the scoreboard. When the between-supplier variance is all
    binomial noise (this corpus), EVERY rate shrinks to the prior —
    the raw-vs-shrunk gap IS the verdict that the raw league table was
    noise (supplier_return_z flags outliers; this REPRICES everyone).

    Scale: one reduction to per-supplier (n, x); the prior strength
    comes from tick-quantized squared deviations against the broadcast
    totals row; the shrunk rate is one mirrored expression per
    supplier row against the broadcast 1-row prior.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    s = s.localCheckpoint()
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("x").cast("bigint").alias("tx"),
    )
    rate = F.col("x").cast("double") / F.col("n")
    p0_ = F.col("tx").cast("double") / F.col("tn")
    dev = (
        s.crossJoin(F.broadcast(tot))
        .select(
            F.round((rate - p0_) * (rate - p0_) * 1_000_000_000, 0)
            .cast("bigint")
            .alias("d")
        )
        .agg(F.sum("d").cast("bigint").alias("ssr_nano"))
    )
    pri = tot.crossJoin(F.broadcast(dev)).select(
        p0_.alias("p0"),
        F.greatest(
            F.col("ssr_nano").cast("double") / 1e9 / F.col("k")
            - p0_ * (1 - p0_) / (F.col("tn").cast("double") / F.col("k")),
            F.lit(1e-9),
        ).alias("tau2"),
    )
    mm = pri.select(
        "p0", (F.col("p0") * (1 - F.col("p0")) / F.col("tau2") - 1).alias("m")
    )
    return (
        s.crossJoin(F.broadcast(mm))
        .select(
            "l_suppkey",
            "n",
            "x",
            F.expr("CAST(x * 1000000 DIV n AS BIGINT)").alias("raw_rate_ppm"),
            F.round(
                (F.col("x") + F.col("m") * F.col("p0"))
                / (F.col("n") + F.col("m"))
                * 1_000_000,
                0,
            )
            .cast("bigint")
            .alias("shrunk_rate_ppm"),
        )
        .orderBy(F.desc("raw_rate_ppm"), "l_suppkey")
        .limit(_EB_TOPK)
    )


# ---------------------------------------------------------------------------
# Cross-correlation of daily order volume vs daily revenue (lead-lag scan)
# ---------------------------------------------------------------------------

#: Row-lags probed: same-day plus the ACF grid (does volume LEAD value?).
_XCF_LAGS = (0, 1, 7, 14, 28)


@register(
    "cross_correlation_lags",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS DOUBLE) / 100000, 0) AS BIGINT) AS y
      FROM orders GROUP BY 1),
    led AS (
      SELECT x,
             {", ".join(f"LEAD(y, {k}) OVER (ORDER BY day) AS y{k}" for k in _XCF_LAGS)}
      FROM daily),
    pairs AS (
      {" UNION ALL ".join(f"SELECT {k} AS lag_k, x, y{k} AS yl FROM led WHERE y{k} IS NOT NULL" for k in _XCF_LAGS)}),
    s AS (
      SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yl) AS BIGINT) AS sy,
             CAST(SUM(x * yl) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(yl * yl) AS BIGINT) AS syy
      FROM pairs GROUP BY lag_k)
    SELECT lag_k, n,
           CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1000000, 0) AS BIGINT) AS xcorr_micro
    FROM s ORDER BY lag_k
    """,
)
def cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily ORDER VOLUME and daily
    REVENUE at row-lags {_XCF_LAGS}: lag 0 says how tightly value
    tracks count same-day; positive lags ask whether volume LEADS
    revenue (it should not in a transactional system — a high lag-7
    XCF would mean booked volume converts to recognized value a week
    later, a pipeline/backlog signature). The lead-lag companion of
    autocorrelation_lags.

    Scale: orders reduce to ONE row per calendar day before any window
    (bounded by the calendar); the lead alignment is a single window
    over that tiny series (same documented single-partition shape as
    the ACF), melted so all lags aggregate in one pass. Revenue is
    quantized to $1k ticks, so every sufficient statistic (Σx, Σy,
    Σxy, Σx², Σy²) is exact int64 and the textbook Pearson per lag is
    ONE mirrored compound double, quantized to microticks. Row-lags
    over observed days (calendar gaps collapse — documented, as in the
    ACF).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.round(
                F.sum(cents("o_totalprice")).cast("double") / 100000, 0
            )
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint()
    )
    w = Window.orderBy("day")
    led = daily.select(
        "x", *[F.lead("y", k).over(w).alias(f"y{k}") for k in _XCF_LAGS]
    )
    pairs = (
        led.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("lag_k"),
                            F.col("x").alias("x"),
                            F.col(f"y{k}").alias("yl"),
                        )
                        for k in _XCF_LAGS
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("yl").isNotNull())
    )
    s = pairs.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("yl").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("yl")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("yl") * F.col("yl")).cast("bigint").alias("syy"),
    )
    return s.select(
        "lag_k",
        "n",
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
        .alias("xcorr_micro"),
    ).orderBy("lag_k")


# ---------------------------------------------------------------------------
# Rayleigh circular-uniformity audit of event time-of-day
# ---------------------------------------------------------------------------

@register(
    "rayleigh_uniformity_by_type",
    oracle="""
    WITH e AS (
      SELECT event_type,
             2 * pi() * (epoch_us(ts) % 86400000000) / 86400000000.0 AS th
      FROM events),
    t AS (
      SELECT event_type,
             CAST(round(cos(th) * 1000000, 0) AS BIGINT) AS c,
             CAST(round(sin(th) * 1000000, 0) AS BIGINT) AS s
      FROM e)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(round(sqrt(CAST(SUM(c) AS DOUBLE) * SUM(c)
                           + CAST(SUM(s) AS DOUBLE) * SUM(s))
                      / COUNT(*), 0) AS BIGINT) AS rbar_micro,
           CAST(round((CAST(SUM(c) AS DOUBLE) * SUM(c)
                       + CAST(SUM(s) AS DOUBLE) * SUM(s))
                      / COUNT(*) / 1000000000000.0 , 6) AS DOUBLE) AS rayleigh_z
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def rayleigh_uniformity_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular-uniformity audit: is each event type's TIME OF DAY
    uniform around the 24 h clock? Rayleigh statistic z = n·R̄² where
    R̄ is the resultant length of the unit phasors e^(iθ),
    θ = 2π·(second-of-day)/86400 — the right test for clock-face data,
    where a linear histogram (hourly_seasonality_profile) can hide a
    concentration that straddles midnight. z ≳ 3 rejects uniformity at
    ~5%; near-zero R̄ certifies the feed has no diurnal phase.

    Exactness: each event's cos/sin quantizes to microticks BEFORE the
    distributed sums (the per-term tick rule), so Σc and Σs are exact
    int64 and R̄/z are single-row mirrored double expressions.

    Scale: one narrow projection + one |types|-row aggregation.
    """
    e = load_table(spark, sf_dir, "events")
    th = (
        F.lit(2 * 3.141592653589793)
        * (F.unix_micros(F.col("ts").cast("timestamp")) % 86_400_000_000).cast(
            "double"
        )
        / 86400000000.0
    )
    t = e.select(
        "event_type",
        F.round(F.cos(th) * 1_000_000, 0).cast("bigint").alias("c"),
        F.round(F.sin(th) * 1_000_000, 0).cast("bigint").alias("s"),
    )
    agg = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("s").cast("bigint").alias("ss"),
    )
    mag2 = (
        F.col("sc").cast("double") * F.col("sc")
        + F.col("ss").cast("double") * F.col("ss")
    )
    return agg.select(
        "event_type",
        "n",
        F.round(F.sqrt(mag2) / F.col("n"), 0).cast("bigint").alias("rbar_micro"),
        F.round(mag2 / F.col("n") / 1_000_000_000_000.0, 6)
        .cast("double")
        .alias("rayleigh_z"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Goodness-of-fit of inter-event gaps against the fitted exponential
# ---------------------------------------------------------------------------

@register(
    "exp_gof_interarrival",
    oracle="""
    WITH g AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS gap
      FROM events),
    gg AS (SELECT CAST(gap AS BIGINT) AS gap FROM g
           WHERE gap IS NOT NULL AND gap > 0),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(gap) AS BIGINT) AS sum_gap FROM gg),
    vals AS (SELECT gap, CAST(COUNT(*) AS BIGINT) AS c FROM gg GROUP BY gap),
    ecdf AS (SELECT gap, c, SUM(c) OVER (ORDER BY gap) AS cum FROM vals),
    terms AS (
      SELECT GREATEST(
               CAST(round(abs(CAST(cum AS DOUBLE) / n.n
                 - (1 - exp(-(CAST(n.n AS DOUBLE) / n.sum_gap) * gap)))
                 * 1000000, 0) AS BIGINT),
               CAST(round(abs((1 - exp(-(CAST(n.n AS DOUBLE) / n.sum_gap)
                     * gap))
                 - CAST(cum - c AS DOUBLE) / n.n)
                 * 1000000, 0) AS BIGINT)) AS d_micro
      FROM ecdf, n)
    SELECT n.n, n.sum_gap,
           (SELECT MAX(d_micro) FROM terms) AS ks_d_micro
    FROM n
    """,
)
def exp_gof_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is per-user event arrival a Poisson process? KS goodness-of-fit
    of the positive inter-event gaps against the FITTED exponential
    (rate = n/Σgap, the MLE): D = sup |ECDF(t) − (1 − e^(−λt))|. A
    small D certifies the memoryless baseline that queueing/capacity
    models assume; a large D (heavy tail, bursts) says use
    burstiness_by_type / interarrival_cv2_by_type to pick a better
    model. Complements interarrival_cv2 (a moment test) with a full
    distribution-shape test.

    Exactness: gaps are integer microseconds; the ECDF lives at the
    distinct-GAP grain (value-grain ECDF device). BOTH KS branches are
    evaluated per jump — D⁺ = |ECDF(t) − F(t)| at the jump top and
    D⁻ = |F(t) − ECDF(t⁻)| just below it (ECDF(t⁻) = (cum − c)/n) —
    the sup over a continuous fitted CDF needs both, or D is biased
    low by up to the largest jump mass; λ = n/Σgap from exact int64;
    each branch quantizes to microticks and the sup is an integer MAX.

    Scale: one user-partition lag window; then everything is at the
    distinct-gap grain (bounded by the gap value range, not events),
    and the global cumulative NEVER materializes a global sort — gaps
    hash-bucket by hour, per-bucket windows cumulate in parallel, and
    each bucket's offset comes from a window over the tiny
    occupied-bucket table (the _two_sample_per_value pattern).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = e.select((us - F.lag(us).over(w)).alias("gap")).filter(
        F.col("gap").isNotNull() & (F.col("gap") > 0)
    )
    vals = g.groupBy("gap").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    vals = vals.localCheckpoint()  # tiny; read by the totals AND the ECDF legs
    tot = vals.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("gap") * F.col("c")).cast("bigint").alias("sum_gap"),
    )
    vals_b = vals.withColumn("bkt", F.expr("gap DIV 3600000000"))
    per_bkt = vals_b.groupBy("bkt").agg(F.sum("c").alias("t"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bkt.select(
        "bkt", F.coalesce(F.sum("t").over(w_off), F.lit(0)).alias("off")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = (
        vals_b.withColumn("cum_in", F.sum("c").over(w_in))
        .join(offsets, "bkt")
        .select("gap", "c", (F.col("cum_in") + F.col("off")).alias("cum"))
    )
    cdf = F.lit(1) - F.exp(
        -(F.col("n").cast("double") / F.col("sum_gap")) * F.col("gap")
    )
    d_plus = (
        F.round(
            F.abs(F.col("cum").cast("double") / F.col("n") - cdf) * 1_000_000, 0
        ).cast("bigint")
    )
    # D-minus branch: sup of F(t) − ECDF(t−) is attained just BELOW a
    # jump, where the ECDF is (cum − c)/n — skipping it underestimates
    # D by up to the largest jump mass (the ADVICE r5 finding).
    d_minus = (
        F.round(
            F.abs(cdf - (F.col("cum") - F.col("c")).cast("double") / F.col("n"))
            * 1_000_000,
            0,
        ).cast("bigint")
    )
    terms = ecdf.crossJoin(F.broadcast(tot)).select(
        F.greatest(d_plus, d_minus).alias("d_micro")
    )
    d = terms.agg(F.max("d_micro").alias("ks_d_micro"))
    return tot.crossJoin(F.broadcast(d)).select("n", "sum_gap", "ks_d_micro")


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank ANOVA of ship delay across order priorities
# ---------------------------------------------------------------------------

_KW_GROUPS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _kw_oracle() -> str:
    piv = ",\n             ".join(
        f"CAST(SUM(CASE WHEN grp = '{g}' THEN c ELSE 0 END) AS BIGINT)"
        f" AS ng_{i},\n             "
        f"CAST(SUM(CASE WHEN grp = '{g}' THEN c * midrank2 ELSE 0 END)"
        f" AS BIGINT) AS sr2_{i}"
        for i, g in enumerate(_KW_GROUPS)
    )
    r_terms = " + ".join(
        f"(CAST(sr2_{i} AS DOUBLE) / 2) * (CAST(sr2_{i} AS DOUBLE) / 2)"
        f" / ng_{i}"
        for i in range(len(_KW_GROUPS))
    )
    n_sum = " + ".join(f"ng_{i}" for i in range(len(_KW_GROUPS)))
    return f"""
    WITH d AS (
      SELECT o.o_orderpriority AS grp,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    c AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    vv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM c GROUP BY v),
    mid AS (
      SELECT v, cv,
             2 * (SUM(cv) OVER (ORDER BY v) - cv) + cv + 1 AS midrank2
      FROM vv),
    piv AS (
      SELECT {piv}
      FROM c JOIN mid USING (v)),
    ties AS (
      SELECT CAST(CAST(SUM(cv * cv * cv - cv) AS HUGEINT) AS DOUBLE) AS t3
      FROM vv),
    stat AS (
      SELECT ({n_sum}) AS n,
             12.0 / (({n_sum}) * (CAST(({n_sum}) AS DOUBLE) + 1))
               * ({r_terms})
               - 3 * (CAST(({n_sum}) AS DOUBLE) + 1) AS h,
             t3
      FROM piv, ties)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(h * 1000000, 0) AS BIGINT) AS h_micro,
           CAST(round(h / (1 - t3 / (CAST(n AS DOUBLE) * n * n - n))
                * 1000000, 0) AS BIGINT) AS h_tie_corrected_micro,
           CAST({len(_KW_GROUPS) - 1} AS BIGINT) AS df
    FROM stat
    """


@register("kruskal_wallis_delay_by_priority", oracle=_kw_oracle())
def kruskal_wallis_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA: does order→ship delay DIFFER across
    the five order priorities, without assuming normality — the
    k-group generalization of mannwhitney_utest (H ~ χ²(k−1); H > 9.5
    rejects equal delay distributions at 5% for k=5). The rank-based
    counterpart of the parametric delay comparisons, robust to the
    delay distribution's skew.

    Exactness: the shared value-grain midrank device — per-(group,
    delay) counts, 2·midrank kept INTEGER (2·(cum−cv)+cv+1), per-group
    rank sums exact int64; the five groups pivot into ONE row and H is
    a single fixed-order double expression (the dow-R² device — no
    distributed double sum, no DIV overflow); the tie term Σ(t³−t)
    rides decimal(38,0)/HUGEINT with one double cast.

    Scale: the fact join reduces to (group, delay-value) counts
    immediately; the midrank window runs over DISTINCT delay values
    (bounded by the calendar, not rows).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("grp"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("v"),
    )
    c = d.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c = c.localCheckpoint()  # (group, value)-grain; feeds vv AND the pivot
    vv = c.groupBy("v").agg(F.sum("c").cast("bigint").alias("cv"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    mid = vv.select(
        "v",
        "cv",
        (2 * (F.sum("cv").over(w) - F.col("cv")) + F.col("cv") + 1).alias(
            "midrank2"
        ),
    )
    piv_aggs = []
    for i, g in enumerate(_KW_GROUPS):
        piv_aggs.append(
            F.sum(F.when(F.col("grp") == g, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias(f"ng_{i}")
        )
        piv_aggs.append(
            F.sum(
                F.when(F.col("grp") == g, F.col("c") * F.col("midrank2")).otherwise(0)
            )
            .cast("bigint")
            .alias(f"sr2_{i}")
        )
    piv = c.join(mid, "v").agg(*piv_aggs)
    ties = vv.agg(
        F.sum(
            (F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("t3")
    )
    n_sum = " + ".join(f"ng_{i}" for i in range(len(_KW_GROUPS)))
    r_terms = " + ".join(
        f"(CAST(sr2_{i} AS DOUBLE) / 2) * (CAST(sr2_{i} AS DOUBLE) / 2)"
        f" / ng_{i}"
        for i in range(len(_KW_GROUPS))
    )
    stat = piv.crossJoin(F.broadcast(ties)).select(
        F.expr(f"({n_sum})").alias("n"),
        F.expr(
            f"12.0 / (({n_sum}) * (CAST(({n_sum}) AS DOUBLE) + 1))"
            f" * ({r_terms}) - 3 * (CAST(({n_sum}) AS DOUBLE) + 1)"
        ).alias("h"),
        "t3",
    )
    return stat.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("h") * 1_000_000, 0).cast("bigint").alias("h_micro"),
        F.round(
            F.col("h")
            / (
                F.lit(1)
                - F.col("t3")
                / (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n"))
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("h_tie_corrected_micro"),
        F.lit(len(_KW_GROUPS) - 1).cast("bigint").alias("df"),
    )


# ---------------------------------------------------------------------------
# Friedman test: priority revenue ranks across year blocks
# ---------------------------------------------------------------------------

def _friedman_oracle() -> str:
    k = len(_KW_GROUPS)
    piv = ",\n             ".join(
        f"CAST(SUM(CASE WHEN p = '{g}' THEN rk ELSE 0 END) AS BIGINT)"
        f" AS rs_{i}"
        for i, g in enumerate(_KW_GROUPS)
    )
    r2 = " + ".join(f"rs_{i} * rs_{i}" for i in range(k))
    return f"""
    WITH c AS (
      SELECT year(o_orderdate) AS yr, o_orderpriority AS p,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2),
    rk AS (
      SELECT yr, p,
             CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev, p)
               AS BIGINT) AS rk
      FROM c),
    piv AS (
      SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS b, {piv}
      FROM rk)
    SELECT b, {", ".join(f"rs_{i}" for i in range(k))},
           CAST(round((12.0 / (b * {k} * {k + 1})) * ({r2})
                - 3.0 * b * {k + 1}, 6) AS DOUBLE) AS friedman_chi2
    FROM piv
    """


@register("friedman_priority_by_year", oracle=_friedman_oracle())
def friedman_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the repeated-measures rank ANOVA: within each
    YEAR block, the five priorities are ranked by revenue; a large
    χ²_F (~χ²(k−1)) says the priority revenue ORDERING is consistent
    across years (a real structural ranking), a small one says the
    year-to-year orderings are noise. The blocked companion of
    kruskal_wallis_delay_by_priority (which pools all rows and ignores
    the year blocking).

    Exactness: revenue per (year, priority) cell is exact cents; ranks
    are integers from a deterministic (rev, priority) ordering (exact
    cents make value ties measure-zero; the priority tiebreak mirrors
    regardless); rank sums pivot into ONE row and χ²_F is a fixed-order
    double expression over exact integers.

    Scale: one scan to the |years|×|priorities| cell table; everything
    after is windows and arithmetic on ≤40 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.col("o_orderpriority").alias("p")
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    w = Window.partitionBy("yr").orderBy("rev", "p")
    rk = c.select("yr", "p", F.row_number().over(w).cast("bigint").alias("rk"))
    k = len(_KW_GROUPS)
    aggs = [F.countDistinct("yr").cast("bigint").alias("b")]
    for i, g in enumerate(_KW_GROUPS):
        aggs.append(
            F.sum(F.when(F.col("p") == g, F.col("rk")).otherwise(0))
            .cast("bigint")
            .alias(f"rs_{i}")
        )
    piv = rk.agg(*aggs)
    r2 = " + ".join(f"rs_{i} * rs_{i}" for i in range(k))
    return piv.select(
        "b",
        *[f"rs_{i}" for i in range(k)],
        F.round(
            F.expr(
                f"(12.0 / (b * {k} * {k + 1})) * ({r2}) - 3.0 * b * {k + 1}"
            ),
            6,
        )
        .cast("double")
        .alias("friedman_chi2"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q: is customer activity homogeneous across probe years?
# ---------------------------------------------------------------------------

_COCHRAN_YEARS = (1996, 1998, 2000)


def _cochran_oracle() -> str:
    k = len(_COCHRAN_YEARS)
    cols = ",\n             ".join(
        f"MAX(CASE WHEN year(o_orderdate) = {y} THEN 1 ELSE 0 END) AS y{i}"
        for i, y in enumerate(_COCHRAN_YEARS)
    )
    csum = " + ".join(f"y{i}" for i in range(k))
    cj = ", ".join(f"CAST(SUM(y{i}) AS BIGINT) AS c{i}" for i in range(k))
    cj2 = " + ".join(f"CAST(c{i} AS DOUBLE) * c{i}" for i in range(k))
    return f"""
    WITH a AS (
      SELECT o_custkey, {cols}
      FROM orders GROUP BY o_custkey),
    r AS (SELECT o_custkey, ({csum}) AS ri FROM a),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_customers, {cj},
             CAST(SUM(ri) AS BIGINT) AS t,
             CAST(SUM(ri * ri) AS BIGINT) AS t2
      FROM a JOIN r USING (o_custkey))
    SELECT n_customers, {", ".join(f"c{i}" for i in range(k))},
           CAST(round({k - 1} * ({k} * ({cj2}) - CAST(t AS DOUBLE) * t)
                / ({k} * CAST(t AS DOUBLE) - t2) * 1000000, 0) AS BIGINT)
             AS q_micro
    FROM s
    """


@register("cochran_q_activity_years", oracle=_cochran_oracle())
def cochran_q_activity_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the k-sample paired test for BINARY outcomes: per
    customer, the was-active flag in each probe year
    {_COCHRAN_YEARS}; Q (~χ²(k−1)) tests whether activity probability
    is the same across the years GIVEN the per-customer pairing —
    the binary-panel companion of spend_tier_migration (which shows
    the flows) and of mcnemar_quality_gates (its k=2, doc-grain
    sibling). Q = (k−1)(k·ΣC_j² − T²)/(k·T − ΣR_i²).

    Exactness: everything up to the final ratio is exact int64 (column
    totals, row totals, their squares); Q is one single-row mirrored
    double, quantized to microticks.

    Scale: one orders scan reduces to per-customer year bits
    (map-side-combinable MAX), then one fused aggregate.
    """
    k = len(_COCHRAN_YEARS)
    o = load_table(spark, sf_dir, "orders")
    a = o.groupBy("o_custkey").agg(
        *[
            F.max(
                F.when(F.year("o_orderdate") == y, 1).otherwise(0)
            ).alias(f"y{i}")
            for i, y in enumerate(_COCHRAN_YEARS)
        ]
    )
    ri = sum((F.col(f"y{i}") for i in range(k)), F.lit(0))
    s = a.withColumn("ri", ri).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        *[F.sum(f"y{i}").cast("bigint").alias(f"c{i}") for i in range(k)],
        F.sum("ri").cast("bigint").alias("t"),
        F.sum(F.col("ri") * F.col("ri")).cast("bigint").alias("t2"),
    )
    cj2 = " + ".join(f"CAST(c{i} AS DOUBLE) * c{i}" for i in range(k))
    return s.select(
        "n_customers",
        *[f"c{i}" for i in range(k)],
        F.round(
            F.expr(
                f"{k - 1} * ({k} * ({cj2}) - CAST(t AS DOUBLE) * t)"
                f" / ({k} * CAST(t AS DOUBLE) - t2)"
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("q_micro"),
    )


# ---------------------------------------------------------------------------
# Monthly PSI drift series of the order-value distribution vs baseline
# ---------------------------------------------------------------------------

@register(
    "psi_monthly_series",
    oracle="""
    WITH b AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             length(bin(CAST(round(o_totalprice * 100, 0) AS BIGINT))) - 1
               AS bkt
      FROM orders),
    base_m AS (SELECT MIN(month) AS m0 FROM b),
    cells AS (SELECT month, bkt, CAST(COUNT(*) AS BIGINT) AS c
              FROM b GROUP BY 1, 2),
    bins AS (SELECT DISTINCT bkt FROM cells),
    months AS (SELECT DISTINCT month FROM cells),
    grid AS (
      SELECT m.month, bins.bkt, COALESCE(c.c, 0) AS c
      FROM months m CROSS JOIN bins
      LEFT JOIN cells c ON c.month = m.month AND c.bkt = bins.bkt),
    n AS (SELECT month, CAST(SUM(c) AS BIGINT) AS n FROM grid GROUP BY month),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbins FROM bins),
    p AS (
      SELECT g.month, g.bkt,
             (CAST(g.c AS DOUBLE) + 1) / (n.n + nb.nbins) AS p
      FROM grid g JOIN n USING (month), nb),
    base AS (
      SELECT p.bkt, p.p AS p0 FROM p, base_m WHERE p.month = base_m.m0),
    terms AS (
      SELECT p.month,
             CAST(round((p.p - base.p0) * ln(p.p / base.p0)
               * 1000000000, 0) AS BIGINT) AS t
      FROM p JOIN base USING (bkt), base_m
      WHERE p.month <> base_m.m0)
    SELECT month, CAST(SUM(t) // 1000 AS BIGINT) AS psi_micro
    FROM terms GROUP BY month ORDER BY month
    """,
)
def psi_monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift DASHBOARD series: PSI of each month's order-value
    distribution against the first month, over log2 value bins — the
    rolling readout an MLOps monitor alerts on (psi_drift is one
    two-population comparison; this is the whole timeline, so a slow
    value-mix migration shows as a trending PSI, not a single number).

    Exactness: bins are binary-length log2 buckets (exact in both
    engines); Laplace +1 smoothing on the COMPLETED month×bin grid
    keeps every cell positive with deterministic integer counts (the
    t_closeness grid-completion lesson — a missing cell must
    contribute its prior mass, and unsmoothed PSI is infinite on any
    empty cell); each (month, bin) term quantizes to nanoticks before
    the per-month sum.

    Scale: one scan to |months|×|bins| cells; the grid, totals and
    series are arithmetic over that bounded table.
    """
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        (F.length(F.bin(cents("o_totalprice"))) - 1).alias("bkt"),
    )
    cells = b.groupBy("month", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint()  # |months|x|bins|; feeds grid, bins, months, base
    bins = cells.select("bkt").distinct()
    months = cells.select("month").distinct()
    base_m = cells.agg(F.min("month").alias("m0"))
    grid = (
        months.crossJoin(bins)
        .join(cells, ["month", "bkt"], "left")
        .select("month", "bkt", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    n = grid.groupBy("month").agg(F.sum("c").cast("bigint").alias("n"))
    nb = bins.agg(F.count(F.lit(1)).cast("bigint").alias("nbins"))
    p = (
        grid.join(n, "month")
        .crossJoin(F.broadcast(nb))
        .select(
            "month",
            "bkt",
            ((F.col("c").cast("double") + 1) / (F.col("n") + F.col("nbins"))).alias(
                "p"
            ),
        )
    )
    base = (
        p.crossJoin(F.broadcast(base_m))
        .filter(F.col("month") == F.col("m0"))
        .select("bkt", F.col("p").alias("p0"))
    )
    terms = (
        p.crossJoin(F.broadcast(base_m))
        .filter(F.col("month") != F.col("m0"))
        .join(base, "bkt")
        .select(
            "month",
            F.round(
                (F.col("p") - F.col("p0")) * F.log(F.col("p") / F.col("p0"))
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("t"),
        )
    )
    return (
        terms.groupBy("month")
        .agg(F.expr("SUM(t) DIV 1000").alias("psi_micro"))
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# ACF of the doubly-differenced revenue series (SARIMA pre-check)
# ---------------------------------------------------------------------------

@register(
    "acf_differenced_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS DOUBLE) / 100000, 0) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    l AS (
      SELECT day, x,
             lag(x, 1) OVER (ORDER BY day) AS x1,
             lag(x, 7) OVER (ORDER BY day) AS x7,
             lag(x, 8) OVER (ORDER BY day) AS x8
      FROM daily),
    z AS (
      SELECT day, (x - x1) - (x7 - x8) AS z
      FROM l WHERE x8 IS NOT NULL),
    zl AS (
      SELECT z,
             lag(z, 1) OVER (ORDER BY day) AS z1,
             lag(z, 7) OVER (ORDER BY day) AS z7,
             lag(z, 14) OVER (ORDER BY day) AS z14
      FROM z),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS s,
             CAST(SUM(z * z) AS BIGINT) AS q
      FROM z),
    p AS (
      SELECT 1 AS lag_k, z, z1 AS zl FROM zl
      UNION ALL SELECT 7, z, z7 FROM zl
      UNION ALL SELECT 14, z, z14 FROM zl),
    a AS (
      SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(z * zl) AS BIGINT) AS sxy,
             CAST(SUM(z) AS BIGINT) AS sa, CAST(SUM(zl) AS BIGINT) AS sb
      FROM p WHERE zl IS NOT NULL GROUP BY lag_k)
    SELECT lag_k, n_pairs,
           CAST(round(
             (CAST(sxy AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sa + sb AS DOUBLE)
              + CAST(n_pairs AS DOUBLE)
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(q AS DOUBLE)
                - CAST(n AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             * 1000000000, 0) AS BIGINT) AS acf_ticks
    FROM a, g ORDER BY lag_k
    """,
)
def acf_differenced_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the DOUBLY-DIFFERENCED daily revenue z_t = (1−B)(1−B⁷)x_t
    — the SARIMA identification pre-check: autocorrelation_lags shows
    the raw series' structure; THIS says whether one regular plus one
    weekly seasonal difference leaves white residual correlation
    (near-zero ACF ⇒ a SARIMA(0,1,·)(0,1,·)₇ family fits; a big
    negative lag-1/lag-7 spike ⇒ over-differenced). z stays in exact
    $1k-tick integers because differencing integers is exact.

    Scale: the same bounded-daily-series shape as the ACF — orders
    reduce to one row per day, differencing and lag alignment are
    windows over that tiny checkpointed series, the per-lag Pearson is
    the identical mirrored compound expression.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(cents("o_totalprice")).cast("double") / 100000, 0)
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint()
    )
    w = Window.orderBy("day")
    z = (
        daily.select(
            "day",
            "x",
            F.lag("x", 1).over(w).alias("x1"),
            F.lag("x", 7).over(w).alias("x7"),
            F.lag("x", 8).over(w).alias("x8"),
        )
        .filter(F.col("x8").isNotNull())
        .select(
            "day",
            ((F.col("x") - F.col("x1")) - (F.col("x7") - F.col("x8"))).alias(
                "z"
            ),
        )
        .localCheckpoint()
    )
    g = z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("q"),
    )
    lags = [1, 7, 14]
    zl = z.select(
        "z", *[F.lag("z", k).over(w.orderBy("day")).alias(f"z{k}") for k in lags]
    )
    p = (
        zl.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("lag_k"),
                            F.col("z").alias("zv"),
                            F.col(f"z{k}").alias("zl"),
                        )
                        for k in lags
                    ]
                )
            ).alias("pp")
        )
        .select("pp.*")
        .filter(F.col("zl").isNotNull())
    )
    a = p.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("zv") * F.col("zl")).cast("bigint").alias("sxy"),
        F.sum("zv").cast("bigint").alias("sa"),
        F.sum("zl").cast("bigint").alias("sb"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    return (
        a.crossJoin(F.broadcast(g))
        .select(
            "lag_k",
            "n_pairs",
            F.round(
                (
                    F.col("sxy").cast("double")
                    - mean * (F.col("sa") + F.col("sb")).cast("double")
                    + F.col("n_pairs").cast("double") * mean * mean
                )
                / (
                    F.col("q").cast("double")
                    - F.col("n").cast("double") * mean * mean
                )
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("acf_ticks"),
        )
        .orderBy("lag_k")
    )


# ---------------------------------------------------------------------------
# Grubbs max-outlier test on the daily-revenue series (round 6)
# ---------------------------------------------------------------------------

@register(
    "grubbs_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS ed,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             ROUND(AVG(rev), 6) AS m, ROUND(stddev_samp(rev), 6) AS sd
      FROM daily),
    d AS (
      SELECT ed,
             CAST(round(abs(rev - s.m) / s.sd * 1000000, 0) AS BIGINT)
               AS d_micro
      FROM daily, s),
    pk AS (
      SELECT CAST(MAX(d_micro * 65536 + (65535 - ed)) AS BIGINT) AS pack
      FROM d)
    SELECT s.n_days,
           CAST(pk.pack // 65536 AS BIGINT) AS g_micro,
           DATE '1970-01-01'
             + CAST(65535 - pk.pack % 65536 AS INTEGER) AS peak_day
    FROM s, pk
    """,
)
def grubbs_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' max-studentized-deviation statistic on daily revenue:
    G = max|x − x̄|/s over the day-grain series, plus WHICH day attains
    it — the single-outlier screen run before trusting any
    daily-revenue anomaly alert (compare G against the Grubbs critical
    value at the series length; the z-anomaly ops flag >3σ points, this
    reports the most extreme one with its day).

    Exactness: mean/σ are rounded to 6dp FIRST (the anomaly_zscore
    device), each day's deviation quantizes to micro, and the argmax
    day rides the integer-pack idiom (d·65536 + (65535 − epoch_day),
    epoch days here ≤ ~12k) — ties break to the EARLIEST day in both
    engines, no window sort anywhere.

    Scale: orders reduce to one row per calendar day before anything
    else; the stats row broadcasts back over the tiny series.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("ed")
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg("rev"), 6).alias("m"),
        F.round(F.stddev_samp("rev"), 6).alias("sd"),
    )
    d = daily.crossJoin(F.broadcast(s)).select(
        "ed",
        F.round(F.abs(F.col("rev") - F.col("m")) / F.col("sd") * 1_000_000, 0)
        .cast("bigint")
        .alias("d_micro"),
    )
    pk = d.agg(
        F.max(F.col("d_micro") * 65536 + (65535 - F.col("ed")))
        .cast("bigint")
        .alias("pack")
    )
    return s.crossJoin(F.broadcast(pk)).select(
        "n_days",
        F.expr("pack DIV 65536").cast("bigint").alias("g_micro"),
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (65535 - F.col("pack") % 65536).cast("int"),
        ).alias("peak_day"),
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation of daily revenue (Durbin-Levinson, lags 1-3)
# ---------------------------------------------------------------------------

def _pacf_phi_exprs() -> tuple[str, str]:
    """(phi22_text, phi33_text): the Durbin-Levinson recursion for lags
    2 and 3 over micro-rounded r1m/r2m/r3m columns, as ONE fixed-order
    textual expression shared verbatim by Spark and DuckDB (the dow-R²
    device) — no distributed double sums, no engine-order divergence.
    """
    r1 = "(CAST(r1m AS DOUBLE)/1000000E0)"
    r2 = "(CAST(r2m AS DOUBLE)/1000000E0)"
    r3 = "(CAST(r3m AS DOUBLE)/1000000E0)"
    phi22 = f"((({r2}) - ({r1})*({r1})) / (1E0 - ({r1})*({r1})))"
    phi21 = f"(({r1}) * (1E0 - {phi22}))"
    phi33 = (
        f"((({r3}) - {phi21}*({r2}) - {phi22}*({r1}))"
        f" / (1E0 - {phi21}*({r1}) - {phi22}*({r2})))"
    )
    return phi22, phi33


_PACF_PHI22, _PACF_PHI33 = _pacf_phi_exprs()


def _pacf_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES  # composed, can't drift

    acf = ORACLES["autocorrelation_lags"]
    # reuse the REGISTERED acf text's series + stats construction but at
    # lags 1/2/3: cheapest honest reuse is textual — keep this twin
    # self-contained instead (same daily $1k-tick series, same
    # mean-centered acf expression, micro grain).
    del acf
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS DOUBLE) / 100000, 0) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    l AS (
      SELECT x,
             lag(x, 1) OVER (ORDER BY day) AS x1,
             lag(x, 2) OVER (ORDER BY day) AS x2,
             lag(x, 3) OVER (ORDER BY day) AS x3
      FROM daily),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM daily),
    p AS (
      SELECT 1 AS lag_k, x, x1 AS xl FROM l
      UNION ALL SELECT 2, x, x2 FROM l
      UNION ALL SELECT 3, x, x3 FROM l),
    a AS (
      SELECT lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x * xl) AS BIGINT) AS sxy,
             CAST(SUM(x) AS BIGINT) AS sa, CAST(SUM(xl) AS BIGINT) AS sb
      FROM p WHERE xl IS NOT NULL GROUP BY lag_k),
    r AS (
      SELECT lag_k,
             CAST(round(
               (CAST(sxy AS DOUBLE)
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * CAST(sa + sb AS DOUBLE)
                + CAST(n_pairs AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
               / (CAST(q AS DOUBLE)
                  - CAST(n AS DOUBLE)
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
               * 1000000, 0) AS BIGINT) AS rm
      FROM a, g),
    piv AS (
      SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM g) AS n_days,
             CAST(SUM(CASE WHEN lag_k = 1 THEN rm END) AS BIGINT) AS r1m,
             CAST(SUM(CASE WHEN lag_k = 2 THEN rm END) AS BIGINT) AS r2m,
             CAST(SUM(CASE WHEN lag_k = 3 THEN rm END) AS BIGINT) AS r3m
      FROM r)
    SELECT n_days, r1m AS r1_micro, r2m AS r2_micro, r3m AS r3_micro,
           r1m AS pacf1_micro,
           CAST(round(({_PACF_PHI22}) * 1000000E0, 0) AS BIGINT)
             AS pacf2_micro,
           CAST(round(({_PACF_PHI33}) * 1000000E0, 0) AS BIGINT)
             AS pacf3_micro
    FROM piv
    """


@register("pacf_daily_revenue", oracle=_pacf_oracle())
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion — the AR-order selector that ACF alone
    cannot give (an AR(1) series has geometric ACF at every lag but
    PACF cuts off after lag 1): pacf2 strips lag-1 transmission out of
    r2, pacf3 strips the order-2 model out of r3.

    Exactness: the same $1k-tick daily series and exact int64
    sufficient statistics as autocorrelation_lags; each r_k rounds to
    micro FIRST, then both φ recursions are ONE shared fixed-order
    textual expression over the rounded values (`_pacf_phi_exprs`) —
    identical token stream in both engines, so no compound-double
    divergence is possible.

    Scale: one calendar-day reduction, one tiny unpartitioned lag
    window (documented single-partition over ≤ a few thousand rows),
    one-row pivot; nothing downstream touches fact grain.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(cents("o_totalprice")).cast("double") / 100000, 0)
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint()  # tiny; read by the window chain AND stats
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x", *[F.lag("x", k).over(w).alias(f"x{k}") for k in (1, 2, 3)]
    )
    pairs = (
        lagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag_k"),
                            F.col("x").alias("x"),
                            F.col(f"x{k}").alias("xl"),
                        )
                        for k in (1, 2, 3)
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("xl").isNotNull())
    )
    a = pairs.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x") * F.col("xl")).cast("bigint").alias("sxy"),
        F.sum("x").cast("bigint").alias("sa"),
        F.sum("xl").cast("bigint").alias("sb"),
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    acf = (
        F.col("sxy").cast("double")
        - mu * (F.col("sa") + F.col("sb")).cast("double")
        + F.col("n_pairs").cast("double") * mu * mu
    ) / (F.col("q").cast("double") - F.col("n").cast("double") * mu * mu)
    r = a.crossJoin(F.broadcast(g)).select(
        "lag_k",
        "n",
        F.round(acf * 1_000_000, 0).cast("bigint").alias("rm"),
    )
    piv = r.groupBy().agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("lag_k") == 1, F.col("rm")))
        .cast("bigint")
        .alias("r1m"),
        F.sum(F.when(F.col("lag_k") == 2, F.col("rm")))
        .cast("bigint")
        .alias("r2m"),
        F.sum(F.when(F.col("lag_k") == 3, F.col("rm")))
        .cast("bigint")
        .alias("r3m"),
    )
    return piv.select(
        "n_days",
        F.col("r1m").alias("r1_micro"),
        F.col("r2m").alias("r2_micro"),
        F.col("r3m").alias("r3_micro"),
        F.col("r1m").alias("pacf1_micro"),
        F.expr(
            f"CAST(round(({_PACF_PHI22}) * 1000000E0, 0) AS BIGINT)"
        ).alias("pacf2_micro"),
        F.expr(
            f"CAST(round(({_PACF_PHI33}) * 1000000E0, 0) AS BIGINT)"
        ).alias("pacf3_micro"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent (rescaled-range) of daily revenue (round 6)
# ---------------------------------------------------------------------------

#: R/S segment lengths — powers of 4, so the ln-ln regression's x grid
#: is equally spaced and the OLS slope collapses to a two-point form.
_HURST_WINDOWS = (16, 64, 256)


@register(
    "hurst_rs_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily),
    seg AS (
      SELECT w, t // w AS s, t % w AS i, x
      FROM t, (SELECT unnest([{", ".join(str(w) for w in _HURST_WINDOWS)}])
               AS w)),
    sm AS (
      SELECT w, s, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx
      FROM seg GROUP BY 1, 2),
    full_seg AS (SELECT * FROM sm WHERE cnt = w),
    dev AS (
      SELECT seg.w, seg.s,
             CAST(seg.w AS HUGEINT)
               * SUM(seg.x) OVER (PARTITION BY seg.w, seg.s ORDER BY seg.i)
               - CAST(seg.i + 1 AS HUGEINT) * f.sx AS devw
      FROM seg JOIN full_seg f ON seg.w = f.w AND seg.s = f.s),
    rng AS (
      SELECT w, s, CAST(MAX(devw) - MIN(devw) AS HUGEINT) AS rw
      FROM dev GROUP BY 1, 2),
    rs AS (
      SELECT r.w,
             CAST(round(r.rw / sqrt(CAST(f.w * f.qx
               - CAST(f.sx AS HUGEINT) * f.sx AS DOUBLE)) * 1000000, 0)
               AS BIGINT) AS rs_micro
      FROM rng r JOIN full_seg f ON r.w = f.w AND r.s = f.s
      WHERE f.w * f.qx - CAST(f.sx AS HUGEINT) * f.sx > 0),
    byw AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_seg,
             CAST(round(CAST(SUM(rs_micro) AS DOUBLE) / COUNT(*), 0)
               AS BIGINT) AS rsm
      FROM rs GROUP BY w),
    piv AS (
      SELECT CAST(SUM(CASE WHEN w = 16 THEN n_seg END) AS BIGINT) AS n_seg16,
             CAST(SUM(CASE WHEN w = 16 THEN rsm END) AS BIGINT) AS rs16_micro,
             CAST(SUM(CASE WHEN w = 64 THEN n_seg END) AS BIGINT) AS n_seg64,
             CAST(SUM(CASE WHEN w = 64 THEN rsm END) AS BIGINT) AS rs64_micro,
             CAST(SUM(CASE WHEN w = 256 THEN n_seg END) AS BIGINT)
               AS n_seg256,
             CAST(SUM(CASE WHEN w = 256 THEN rsm END) AS BIGINT)
               AS rs256_micro
      FROM byw)
    SELECT n_seg16, rs16_micro, n_seg64, rs64_micro, n_seg256, rs256_micro,
           CAST(round(ln(CAST(rs256_micro AS DOUBLE) / rs16_micro)
             / ln(16E0) * 1000000E0, 0) AS BIGINT) AS hurst_micro
    FROM piv
    """,
)
def hurst_rs_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by classical rescaled-range
    analysis: mean R/S over disjoint segments of length 16/64/256, and
    H as the ln-ln slope — H≈0.5 certifies a memoryless series (what
    iid order flow should give), H>0.6 long-range persistence (trends
    compound — forecast with momentum), H<0.4 mean reversion. The
    window grid is powers of 4, so the equally-spaced ln-ln OLS slope
    reduces EXACTLY to ln(RS₂₅₆/RS₁₆)/ln 16 — a two-point expression,
    no regression machinery.

    Exactness: within a segment the mean-adjusted cumulative deviation
    is scaled by w — devw_i = w·Σ_{{≤i}}x − (i+1)·S — and BOTH terms
    ride the decimal128/HUGEINT wide device (w·prefix reaches
    ~w²·daily_cents, past int64 near SF 1.5e4 — r6 ADVICE); w·Σx² − S²
    takes the same treatment with ONE final double cast inside the
    per-segment sqrt; each segment's R/S quantizes to micro before the
    per-w mean.

    Scale: the fact table reduces to the calendar-day grain first; the
    only windows are per-(w, segment) prefix sums over ≤256-row
    partitions (the sequence index is ONE tiny unpartitioned
    row_number over the checkpointed day series, the documented
    exception shared with the ACF family); segments with zero variance
    are excluded in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("x"))
        .localCheckpoint()  # tiny day-grain series, read by 3 window legs
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x"
    )
    seg = t.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(w,) for w in _HURST_WINDOWS], "w int"
            )
        )
    ).select(
        "w",
        F.expr("t DIV w").alias("s"),
        (F.col("t") % F.col("w")).alias("i"),
        "x",
    )
    sm = seg.groupBy("w", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("qx"),
    )
    full_seg = sm.filter(F.col("cnt") == F.col("w"))
    w_pref = (
        Window.partitionBy("w", "s")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = seg.join(full_seg.select("w", "s", "sx", "qx"), ["w", "s"]).select(
        "w",
        "s",
        (
            F.col("w").cast("decimal(19,0)")
            * F.sum("x").over(w_pref).cast("decimal(19,0)")
            - (F.col("i") + 1).cast("decimal(19,0)")
            * F.col("sx").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("devw"),
    )
    rng = dev.groupBy("w", "s").agg(
        (F.max("devw") - F.min("devw")).cast("decimal(38,0)").alias("rw")
    )
    m_expr = (
        F.col("w").cast("decimal(38,0)") * F.col("qx")
        - F.col("sx").cast("decimal(19,0)") * F.col("sx")
    )
    rs = (
        rng.join(full_seg.select("w", "s", "sx", "qx"), ["w", "s"])
        .withColumn("m", m_expr)
        .filter(F.col("m") > 0)
        .select(
            "w",
            F.round(
                F.col("rw").cast("double")
                / F.sqrt(F.col("m").cast("double"))
                * 1_000_000,
                0,
            )
            .cast("bigint")
            .alias("rs_micro"),
        )
    )
    byw = rs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.round(F.sum("rs_micro").cast("double") / F.count(F.lit(1)), 0)
        .cast("bigint")
        .alias("rsm"),
    )
    piv = byw.groupBy().agg(
        *[
            c
            for w in _HURST_WINDOWS
            for c in (
                F.sum(F.when(F.col("w") == w, F.col("n_seg")))
                .cast("bigint")
                .alias(f"n_seg{w}"),
                F.sum(F.when(F.col("w") == w, F.col("rsm")))
                .cast("bigint")
                .alias(f"rs{w}_micro"),
            )
        ]
    )
    return piv.select(
        "n_seg16",
        "rs16_micro",
        "n_seg64",
        "rs64_micro",
        "n_seg256",
        "rs256_micro",
        F.expr(
            "CAST(round(ln(CAST(rs256_micro AS DOUBLE) / rs16_micro)"
            " / ln(16E0) * 1000000E0, 0) AS BIGINT)"
        ).alias("hurst_micro"),
    )


# ---------------------------------------------------------------------------
# Round 7: classical statistical-test suite over the house scaffolds
# ---------------------------------------------------------------------------

#: Shared oracle CTE: the day-grain $1k-tick revenue series with a
#: 0-based time index (the ACF/PACF/Hurst series, factored once).
_DAILY_1K_CTE = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS DOUBLE) / 100000, 0) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily)
"""


def _daily_1k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DAILY_1K_CTE``: checkpointed day-grain series
    with a 0-based index (the documented tiny unpartitioned row_number
    exception shared with the ACF family)."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(cents("o_totalprice")).cast("double") / 100000, 0)
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint()
    )
    return daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x"
    )


#: JB final expression over the one-row exact power sums — ONE fixed
#: token stream shared verbatim by Spark and DuckDB (the dow-R² device).
_JB_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_JB_M2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_JB_MU} * {_JB_MU})"
_JB_M3 = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3E0 * {_JB_MU} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 2E0 * {_JB_MU} * {_JB_MU} * {_JB_MU})"
)
_JB_M4 = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4E0 * {_JB_MU} * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 6E0 * {_JB_MU} * {_JB_MU}"
    f" * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - 3E0 * {_JB_MU} * {_JB_MU} * {_JB_MU} * {_JB_MU})"
)
_JB_SKEW = f"({_JB_M3} / sqrt({_JB_M2} * {_JB_M2} * {_JB_M2}))"
_JB_EXK = f"({_JB_M4} / ({_JB_M2} * {_JB_M2}) - 3E0)"
_JB_STAT = (
    f"(CAST(n AS DOUBLE) / 6E0 * ({_JB_SKEW} * {_JB_SKEW}"
    f" + {_JB_EXK} * {_JB_EXK} / 4E0))"
)


@register(
    "jarque_bera_daily_revenue",
    oracle=f"""
    {_DAILY_1K_CTE},
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS s1,
             CAST(SUM(x * x) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x * x AS HUGEINT) * x) AS HUGEINT) AS s3,
             CAST(SUM(CAST(x * x AS HUGEINT) * (x * x)) AS HUGEINT) AS s4
      FROM t)
    SELECT n AS n_days,
           CAST(round({_JB_SKEW} * 1000000E0, 0) AS BIGINT) AS skew_micro,
           CAST(round({_JB_EXK} * 1000000E0, 0) AS BIGINT) AS exkurt_micro,
           CAST(round({_JB_STAT} * 1000000E0, 0) AS BIGINT) AS jb_micro
    FROM g
    """,
)
def jarque_bera_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of daily revenue: JB = n/6·(S² +
    K²/4) from the exact sample skewness S and excess kurtosis K — the
    gate in front of every z-score/σ-fence daily alert (Grubbs, CUSUM
    limits, SPC bands all assume near-normal marginals; JB ≫ 9 says
    use the robust MAD/quantile ops instead).

    Exactness: the $1k-tick day series keeps x⁴ power sums inside
    decimal128/HUGEINT through ~sf1000 (x ≈ 9.4e7 ticks ⇒ Σx⁴ ≈ 2e35 <
    1e38); all four power sums are exact wide integers and every
    moment/statistic is ONE shared fixed-order textual expression over
    them (`_JB_STAT`) — no distributed double ever sums.

    Scale: one day-grain reduction (orders shrink ~5 orders of
    magnitude before anything else), one single-row aggregate; no
    window at all.
    """
    t = _daily_1k(spark, sf_dir)
    x = F.col("x")
    x2 = (x * x).cast("bigint")
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("s1"),
        F.sum(x2.cast("decimal(38,0)")).cast("decimal(38,0)").alias("s2"),
        F.sum(x2.cast("decimal(19,0)") * x.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.sum(x2.cast("decimal(19,0)") * x2.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    return g.select(
        F.col("n").alias("n_days"),
        F.expr(
            f"CAST(round({_JB_SKEW} * 1000000E0, 0) AS BIGINT)"
        ).alias("skew_micro"),
        F.expr(
            f"CAST(round({_JB_EXK} * 1000000E0, 0) AS BIGINT)"
        ).alias("exkurt_micro"),
        F.expr(
            f"CAST(round({_JB_STAT} * 1000000E0, 0) AS BIGINT)"
        ).alias("jb_micro"),
    )


@register(
    "cramer_von_mises_two_sample",
    oracle=_TWO_SAMPLE_CTE
    + """
    , s AS (
      SELECT CAST(SUM(CAST((ca + cb) AS HUGEINT)
               * (CAST(cum_a * n2 - cum_b * n1 AS HUGEINT)
                  * (cum_a * n2 - cum_b * n1)) ) AS HUGEINT) AS t_num
      FROM c, t)
    SELECT n1, n2,
           CAST(round(CAST(t_num AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS cvm_t_micro
    FROM s, t
    """,
)
def cramer_von_mises_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises T on the same urgent-vs-low order
    populations as ks_two_sample — the INTEGRAL of the squared ECDF gap
    over the pooled sample, where KS takes only the sup: a fat
    everywhere-slightly-off drift moves T long before it moves D
    (T = nm/(n+m)² · Σ_pooled (F₁−F₂)²).

    Exactness: rides the shared bucketed two-sample ECDF scaffold; the
    per-value gap stays the exact integer cross-product cum_a·n2 −
    cum_b·n1 (the KS device), its square and the count-weighted sum run
    on decimal128/HUGEINT — exact while |gap| < 1e19, i.e. through
    ~sf30; beyond that quantize the per-value term to micro before the
    sum (documented switch, same as the KS int64 note). ONE double
    division chain at the end, mirrored token-for-token.

    Scale: same no-global-sort ECDF as KS — per-bucket windows + tiny
    offset table; the extra moment is one more column in the same
    aggregate.
    """
    pv = _two_sample_per_value(spark, sf_dir)
    gap = (F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1")).cast(
        "decimal(19,0)"
    )
    s = pv.groupBy("n1", "n2").agg(
        F.sum((F.col("ca") + F.col("cb")).cast("decimal(19,0)") * gap * gap)
        .cast("decimal(38,0)")
        .alias("t_num")
    )
    return s.select(
        "n1",
        "n2",
        F.expr(
            "CAST(round(CAST(t_num AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("cvm_t_micro"),
    )


#: Shared oracle CTE: (priority, delay-days) value-grain counts with
#: per-group cumulative + totals — the winsorized-mean scaffold hoisted
#: for the variance-homogeneity tests (delays are small integers, so
#: the grain is ≤ |priorities|·~125 rows at every SF).
_DELAY_GRAIN_CTE = """
    WITH d AS (
      SELECT o.o_orderpriority AS pr,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate),
    c AS (SELECT pr, v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2)
"""


def _delay_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DELAY_GRAIN_CTE``: the (priority, delay, count)
    table, checkpointed — every downstream window/median/variance runs
    on ≤ |priorities|·~125 rows, never on fact grain."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("pr"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("v"),
        )
        .groupBy("pr", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return g.localCheckpoint()


@register(
    "levene_bf_delay_by_priority",
    oracle=_DELAY_GRAIN_CTE
    + """
    , cum AS (
      SELECT pr, v, c, SUM(c) OVER (PARTITION BY pr ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY pr) AS n
      FROM c),
    med AS (
      SELECT pr, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
      FROM cum GROUP BY pr),
    g AS (
      SELECT c.pr, med.n AS ni,
             CAST(SUM(c.c * ABS(c.v - med.med)) AS BIGINT) AS sz,
             CAST(SUM(c.c * ABS(c.v - med.med) * ABS(c.v - med.med))
               AS BIGINT) AS qz
      FROM c JOIN med ON c.pr = med.pr
      GROUP BY c.pr, med.n),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ni) AS BIGINT) AS n,
             CAST(SUM(sz) AS BIGINT) AS s, CAST(SUM(qz) AS BIGINT) AS q,
             CAST(SUM(CAST(round(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
               / CAST(ni AS DOUBLE) * 1000E0, 0) AS BIGINT)) AS BIGINT)
               AS tb_milli
      FROM g)
    SELECT k, n,
           CAST(round(
             ((CAST(tb_milli AS DOUBLE) / 1000E0
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / CAST(k - 1 AS DOUBLE))
             / ((CAST(q AS DOUBLE) - CAST(tb_milli AS DOUBLE) / 1000E0)
                / CAST(n - k AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS w_micro
    FROM s
    """,
)
def levene_bf_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test of ship-delay
    variance homogeneity across the five order priorities — the gate in
    front of every pooled-variance comparison (the ANOVA/t machinery
    assumes equal group variances; W ≫ F_crit says compare medians and
    quantiles instead, or Welch-correct). Median centering (vs Levene's
    mean) keeps the test robust when the delay tail is heavy — exactly
    when the question matters.

    Exactness: group medians are the integer lower-median off the
    value-grain ECDF (cum·2 ≥ n); the deviations |v − med| are integers,
    so every per-group sufficient statistic (n, Σz, Σz²) is exact int64
    (z ≤ ~125 days ⇒ Σz² ≈ 9e16 at sf1000); the one non-integer
    per-group term sz²/nᵢ quantizes to MILLI before the k-term sum (the
    per-term tick device — k = 5, so the sum is 5 exact int64s), and W
    is ONE mirrored fixed-order double expression.

    Scale: the fact-fact join reduces to the (priority, delay) grain
    (≤ |priorities|·~125 rows) before any window; both test passes
    re-aggregate the SAME checkpointed grain table.
    """
    c = _delay_grain(spark, sf_dir)
    w_cum = (
        Window.partitionBy("pr")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = c.select(
        "pr", "v", "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy("pr")).alias("n"),
    )
    med = cum.groupBy("pr").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med"),
    )
    z = F.abs(F.col("v") - F.col("med"))
    g = (
        c.join(med, "pr")
        .groupBy("pr", F.col("n").alias("ni"))
        .agg(
            F.sum(F.col("c") * z).cast("bigint").alias("sz"),
            F.sum(F.col("c") * z * z).cast("bigint").alias("qz"),
        )
    )
    s = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ni").cast("bigint").alias("n"),
        F.sum("sz").cast("bigint").alias("s"),
        F.sum("qz").cast("bigint").alias("q"),
        F.sum(
            F.expr(
                "CAST(round(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)"
                " / CAST(ni AS DOUBLE) * 1000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("tb_milli"),
    )
    return s.select(
        "k",
        "n",
        F.expr(
            "CAST(round("
            " ((CAST(tb_milli AS DOUBLE) / 1000E0"
            "   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            "  / CAST(k - 1 AS DOUBLE))"
            " / ((CAST(q AS DOUBLE) - CAST(tb_milli AS DOUBLE) / 1000E0)"
            "    / CAST(n - k AS DOUBLE))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("w_micro"),
    )


@register(
    "bartlett_variance_by_priority",
    oracle=_DELAY_GRAIN_CTE
    + """
    , g AS (
      SELECT pr, CAST(SUM(c) AS BIGINT) AS ni,
             CAST(SUM(c * v) AS BIGINT) AS sv,
             CAST(SUM(c * v * v) AS BIGINT) AS qv
      FROM c GROUP BY pr),
    gi AS (
      SELECT pr, ni, sv, qv,
             (CAST(qv AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(ni AS DOUBLE))
             / CAST(ni - 1 AS DOUBLE) AS s2i
      FROM g),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ni) AS BIGINT) AS n,
             CAST(SUM(qv) AS BIGINT) AS q,
             CAST(SUM(CAST(round(CAST(ni - 1 AS DOUBLE) * ln(s2i) * 1000000E0,
               0) AS BIGINT)) AS BIGINT) AS lnterm_micro,
             CAST(SUM(CAST(round(1000000000E0 / CAST(ni - 1 AS DOUBLE), 0)
               AS BIGINT)) AS BIGINT) AS invsum_nano,
             CAST(SUM(CAST(round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
               / CAST(ni AS DOUBLE) * 1000E0, 0) AS BIGINT)) AS BIGINT)
               AS wg_milli
      FROM gi)
    SELECT k, n,
           CAST(round(
             (CAST(n - k AS DOUBLE)
              * ln((CAST(q AS DOUBLE) - CAST(wg_milli AS DOUBLE) / 1000E0)
                   / CAST(n - k AS DOUBLE))
              - CAST(lnterm_micro AS DOUBLE) / 1000000E0)
             / (1E0 + (CAST(invsum_nano AS DOUBLE) / 1000000000E0
                       - 1E0 / CAST(n - k AS DOUBLE))
                      / (3E0 * CAST(k - 1 AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS chi2_micro
    FROM s
    """,
)
def bartlett_variance_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's χ² for ship-delay variance homogeneity across the
    five priorities — the parametric companion of levene_bf: sharper
    when delays are near-normal, famously fragile when they aren't
    (run both; Bartlett-rejects + Levene-accepts reads as "the tails,
    not the variances, differ").

    Exactness: per-group n, Σv, Σv² are exact int64 off the same
    checkpointed (priority, delay) grain; the three non-integer
    per-group reductions — (nᵢ−1)·ln sᵢ² (micro), 1/(nᵢ−1) (nano) and
    the pooled-variance correction sᵥ²/nᵢ (milli) — each quantize
    per-term before their 5-term sums; χ² with its Bartlett correction
    C is ONE mirrored fixed-order expression.

    Scale: identical to levene_bf — all statistics at the
    (priority, delay) grain, one 5-row aggregate, one-row output.
    """
    c = _delay_grain(spark, sf_dir)
    g = c.groupBy("pr").agg(
        F.sum("c").cast("bigint").alias("ni"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("sv"),
        F.sum(F.col("c") * F.col("v") * F.col("v")).cast("bigint").alias("qv"),
    )
    gi = g.withColumn(
        "s2i",
        F.expr(
            "(CAST(qv AS DOUBLE)"
            " - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(ni AS DOUBLE))"
            " / CAST(ni - 1 AS DOUBLE)"
        ),
    )
    s = gi.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ni").cast("bigint").alias("n"),
        F.sum("qv").cast("bigint").alias("q"),
        F.sum(
            F.expr(
                "CAST(round(CAST(ni - 1 AS DOUBLE) * ln(s2i) * 1000000E0, 0)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("lnterm_micro"),
        F.sum(
            F.expr(
                "CAST(round(1000000000E0 / CAST(ni - 1 AS DOUBLE), 0)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("invsum_nano"),
        F.sum(
            F.expr(
                "CAST(round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)"
                " / CAST(ni AS DOUBLE) * 1000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("wg_milli"),
    )
    return s.select(
        "k",
        "n",
        F.expr(
            "CAST(round("
            " (CAST(n - k AS DOUBLE)"
            "  * ln((CAST(q AS DOUBLE) - CAST(wg_milli AS DOUBLE) / 1000E0)"
            "       / CAST(n - k AS DOUBLE))"
            "  - CAST(lnterm_micro AS DOUBLE) / 1000000E0)"
            " / (1E0 + (CAST(invsum_nano AS DOUBLE) / 1000000000E0"
            "           - 1E0 / CAST(n - k AS DOUBLE))"
            "          / (3E0 * CAST(k - 1 AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("chi2_micro"),
    )


@register(
    "variance_ratio_daily_revenue",
    oracle=_DAILY_1K_CTE
    + """
    , l AS (
      SELECT x, lag(x, 1) OVER (ORDER BY t) AS x1,
             lag(x, 5) OVER (ORDER BY t) AS x5
      FROM t),
    g AS (
      SELECT CAST(COUNT(x1) AS BIGINT) AS tn,
             CAST(SUM(x - x1) AS BIGINT) AS s,
             CAST(SUM(CAST((x - x1) AS HUGEINT) * (x - x1)) AS HUGEINT)
               AS q1,
             CAST(COUNT(x5) AS BIGINT) AS nq,
             CAST(SUM(x - x5) AS BIGINT) AS sq,
             CAST(SUM(CAST((x - x5) AS HUGEINT) * (x - x5)) AS HUGEINT)
               AS qq
      FROM l)
    SELECT tn AS n_diffs,
           CAST(round(
             ((CAST(qq AS DOUBLE)
               - 2E0 * 5E0 * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))
                 * CAST(sq AS DOUBLE)
               + CAST(nq AS DOUBLE) * 25E0
                 * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))
                 * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE)))
              / (CAST(nq AS DOUBLE) * 5E0))
             / ((CAST(q1 AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))
                / CAST(tn AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS vr_micro,
           CAST(round(
             sqrt(CAST(tn AS DOUBLE))
             * (((CAST(qq AS DOUBLE)
                  - 2E0 * 5E0 * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))
                    * CAST(sq AS DOUBLE)
                  + CAST(nq AS DOUBLE) * 25E0
                    * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE)))
                 / (CAST(nq AS DOUBLE) * 5E0))
                / ((CAST(q1 AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(tn AS DOUBLE))
                   / CAST(tn AS DOUBLE))
                - 1E0)
             / sqrt(2E0 * 9E0 * 4E0 / 15E0)
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM g
    """,
)
def variance_ratio_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test VR(5) on daily revenue: the
    variance of 5-day overlapping changes over 5× the 1-day variance —
    VR ≈ 1 certifies a random walk (changes uncorrelated), VR > 1
    momentum (trends compound, the Hurst > 0.5 story told through
    variances), VR < 1 mean reversion; z is the iid-asymptotic score
    √T·(VR−1)/√(2(2q−1)(q−1)/(3q)), here q = 5 ⇒ √(24/5).

    Exactness: both difference legs are integer ($1k ticks), their
    sufficient statistics exact int64/decimal128 (Σd² ≈ 2.4e19 at
    sf1000 crosses int64 — hence the wide sums); the drift μ̂ = Σd₁/T
    telescopes to (x_T − x₀)/T so it needs no extra pass; VR and z are
    ONE mirrored fixed-order expression over six exact numbers.

    Scale: day-grain reduction first; two lag columns in ONE tiny
    unpartitioned window (the documented ACF-family exception), a
    single-row aggregate after.
    """
    t = _daily_1k(spark, sf_dir)
    w = Window.orderBy("t")
    l = t.select(
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 5).over(w).alias("x5"),
    )
    d1 = F.col("x") - F.col("x1")
    d5 = F.col("x") - F.col("x5")
    g = l.agg(
        F.count("x1").cast("bigint").alias("tn"),
        F.sum(d1).cast("bigint").alias("s"),
        F.sum(d1.cast("decimal(19,0)") * d1.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("q1"),
        F.count("x5").cast("bigint").alias("nq"),
        F.sum(d5).cast("bigint").alias("sq"),
        F.sum(d5.cast("decimal(19,0)") * d5.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("qq"),
    )
    vr = (
        "((CAST(qq AS DOUBLE)"
        "  - 2E0 * 5E0 * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))"
        "    * CAST(sq AS DOUBLE)"
        "  + CAST(nq AS DOUBLE) * 25E0"
        "    * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))"
        "    * (CAST(s AS DOUBLE) / CAST(tn AS DOUBLE)))"
        " / (CAST(nq AS DOUBLE) * 5E0))"
        " / ((CAST(q1 AS DOUBLE)"
        "     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(tn AS DOUBLE))"
        "    / CAST(tn AS DOUBLE))"
    )
    return g.select(
        F.col("tn").alias("n_diffs"),
        F.expr(f"CAST(round({vr} * 1000000E0, 0) AS BIGINT)").alias(
            "vr_micro"
        ),
        F.expr(
            f"CAST(round(sqrt(CAST(tn AS DOUBLE)) * ({vr} - 1E0)"
            " / sqrt(2E0 * 9E0 * 4E0 / 15E0) * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


@register(
    "cox_stuart_trend_daily",
    oracle=_DAILY_1K_CTE
    + """
    , g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    p AS (
      SELECT a.x AS xa, b.x AS xb
      FROM t a JOIN g ON TRUE
      JOIN t b ON b.t = a.t + (g.n + 1) // 2
      WHERE a.t < g.n - (g.n + 1) // 2),
    s AS (
      SELECT CAST(SUM(CASE WHEN xb > xa THEN 1 ELSE 0 END) AS BIGINT)
               AS pos,
             CAST(SUM(CASE WHEN xb < xa THEN 1 ELSE 0 END) AS BIGINT)
               AS neg
      FROM p)
    SELECT n AS n_days, pos, neg,
           CAST(round(
             (2E0 * CAST(pos AS DOUBLE) - CAST(pos + neg AS DOUBLE))
             / sqrt(CAST(pos + neg AS DOUBLE)) * 1000000E0, 0) AS BIGINT)
             AS z_micro
    FROM s, g
    """,
)
def cox_stuart_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart sign test for monotone trend in daily revenue: pair
    each first-half day with its second-half partner c = ⌈n/2⌉ days
    later, count rises vs falls, and score the binomial z — the
    assumption-free trend certificate next to mann_kendall (this one is
    O(n) pairs, Mann-Kendall is all-pairs; at the day grain both are
    tiny but the device scales to any per-key series).

    Exactness: pure integer comparisons and counts; ties (equal pair)
    drop per the classical test; z is one mirrored expression.

    Scale: the pairing is a self-join of the tiny day table at offset
    c (never fact grain); the offset comes from the one-row count via
    a broadcast cross join in both engines.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = t.alias("a").crossJoin(F.broadcast(g))
    pairs = a.join(
        t.alias("b"),
        F.col("b.t") == F.col("a.t") + F.expr("(n + 1) DIV 2"),
    ).filter(F.col("a.t") < F.col("n") - F.expr("(n + 1) DIV 2"))
    s = pairs.agg(
        F.sum(F.when(F.col("b.x") > F.col("a.x"), 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("b.x") < F.col("a.x"), 1).otherwise(0))
        .cast("bigint")
        .alias("neg"),
    )
    return s.crossJoin(F.broadcast(g)).select(
        F.col("n").alias("n_days"),
        "pos",
        "neg",
        F.expr(
            "CAST(round((2E0 * CAST(pos AS DOUBLE)"
            " - CAST(pos + neg AS DOUBLE))"
            " / sqrt(CAST(pos + neg AS DOUBLE)) * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


@register(
    "turning_point_test_daily",
    oracle=_DAILY_1K_CTE
    + """
    , l AS (
      SELECT x, lag(x) OVER (ORDER BY t) AS prev,
             lead(x) OVER (ORDER BY t) AS nxt
      FROM t),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_interior,
             CAST(SUM(CASE WHEN (x - prev) * (nxt - x) < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp
      FROM l WHERE prev IS NOT NULL AND nxt IS NOT NULL),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t)
    SELECT n AS n_days, tp,
           CAST(round(
             (CAST(tp AS DOUBLE) - 2E0 * CAST(n - 2 AS DOUBLE) / 3E0)
             / sqrt((16E0 * CAST(n AS DOUBLE) - 29E0) / 90E0)
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM s, g
    """,
)
def turning_point_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on daily revenue: count strict
    local extrema (sign change of consecutive differences) against the
    iid expectation 2(n−2)/3 with variance (16n−29)/90 — too FEW
    turning points reads as trend/momentum, too MANY as negative
    autocorrelation (over-correction); the third independent
    randomness lens beside the runs test (levels vs median) and the
    VR test (variances).

    Exactness: integer differences and counts; flats (zero diff) count
    as non-turning per the strict-inequality convention, stated in both
    engines as (x−prev)·(next−x) < 0; z is one mirrored expression.

    Scale: one lag+lead window over the tiny checkpointed day series,
    one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    w = Window.orderBy("t")
    l = t.select(
        "x",
        F.lag("x").over(w).alias("prev"),
        F.lead("x").over(w).alias("nxt"),
    ).filter(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
    s = l.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_interior"),
        F.sum(
            F.when(
                (F.col("x") - F.col("prev")) * (F.col("nxt") - F.col("x"))
                < 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
    )
    g = t.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return s.crossJoin(F.broadcast(g)).select(
        F.col("n").alias("n_days"),
        "tp",
        F.expr(
            "CAST(round("
            "(CAST(tp AS DOUBLE) - 2E0 * CAST(n - 2 AS DOUBLE) / 3E0)"
            " / sqrt((16E0 * CAST(n AS DOUBLE) - 29E0) / 90E0)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


def _page_oracle() -> str:
    k = len(_KW_GROUPS)
    piv = ",\n             ".join(
        f"CAST(SUM(CASE WHEN p = '{g}' THEN rk ELSE 0 END) AS BIGINT)"
        f" AS rs_{i}"
        for i, g in enumerate(_KW_GROUPS)
    )
    l_expr = " + ".join(f"{i + 1} * rs_{i}" for i in range(k))
    return f"""
    WITH c AS (
      SELECT year(o_orderdate) AS yr, o_orderpriority AS p,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2),
    rk AS (
      SELECT yr, p,
             CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev, p)
               AS BIGINT) AS rk
      FROM c),
    piv AS (
      SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS b, {piv}
      FROM rk)
    SELECT b, CAST(({l_expr}) AS BIGINT) AS page_l,
           CAST(round(
             (CAST(({l_expr}) AS DOUBLE)
              - CAST(b AS DOUBLE) * {k} * {(k + 1) ** 2} / 4E0)
             / sqrt(CAST(b AS DOUBLE) * {k * k} * {k + 1} * {k * k - 1}
                    / 144E0)
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM piv
    """


@register("page_trend_test_priority", oracle=_page_oracle())
def page_trend_test_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative on the Friedman rank
    table: within each year block the five priorities are ranked by
    revenue, and L = Σ j·R_j weights the rank sums by the hypothesized
    priority order (1-URGENT … 5-LOW) — significant z says priority
    revenue is MONOTONE in the priority label across years, the
    directional claim Friedman's omnibus χ² (any difference) cannot
    make. Run after friedman_priority_by_year rejects: ordered tests
    buy ~30% power when the alternative really is monotone.

    Exactness: the SAME deterministic integer rank table as Friedman
    (exact-cents revenue, (rev, priority) tiebreak); L is an exact
    integer dot product and z one mirrored fixed-order expression.

    Scale: identical to Friedman — one |years|×|priorities| reduction,
    windows over ≤40 rows, one-row output.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.col("o_orderpriority").alias("p")
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    w = Window.partitionBy("yr").orderBy("rev", "p")
    rk = c.select("yr", "p", F.row_number().over(w).cast("bigint").alias("rk"))
    k = len(_KW_GROUPS)
    aggs = [F.countDistinct("yr").cast("bigint").alias("b")]
    for i, g in enumerate(_KW_GROUPS):
        aggs.append(
            F.sum(F.when(F.col("p") == g, F.col("rk")).otherwise(0))
            .cast("bigint")
            .alias(f"rs_{i}")
        )
    piv = rk.agg(*aggs)
    l_expr = " + ".join(f"{i + 1} * rs_{i}" for i in range(k))
    return piv.select(
        "b",
        F.expr(f"CAST(({l_expr}) AS BIGINT)").alias("page_l"),
        F.expr(
            f"CAST(round((CAST(({l_expr}) AS DOUBLE)"
            f" - CAST(b AS DOUBLE) * {k} * {(k + 1) ** 2} / 4E0)"
            f" / sqrt(CAST(b AS DOUBLE) * {k * k} * {k + 1} * {k * k - 1}"
            f" / 144E0) * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# Round 7: monitoring / forecasting-baseline / extreme-value tier
# ---------------------------------------------------------------------------

_EWMA_YEAR = "1996"


@register(
    "ewma_control_chart_daily",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, yc FROM (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS yc
        FROM orders
        WHERE o_orderdate >= DATE '{_EWMA_YEAR}-01-01'
          AND o_orderdate < DATE '{int(_EWMA_YEAR) + 1}-01-01'
        GROUP BY CAST(o_orderdate AS DATE)) t),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yc) AS BIGINT) AS s1,
             CAST(SUM(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS s2
      FROM daily),
    lim AS (
      SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             3E0 * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               * sqrt(0.2E0 / 1.8E0) AS hw
      FROM st),
    ew(i, e, br) AS (
      SELECT 1, (SELECT CAST(yc AS DOUBLE) FROM daily WHERE i = 1),
             CAST(0 AS BIGINT)
      UNION ALL
      SELECT ew.i + 1,
             0.2E0 * CAST(d.yc AS DOUBLE) + 0.8E0 * ew.e,
             ew.br + (CASE WHEN abs((0.2E0 * CAST(d.yc AS DOUBLE)
                                     + 0.8E0 * ew.e) - lim.mu) > lim.hw
                           THEN 1 ELSE 0 END)
      FROM ew JOIN daily d ON d.i = ew.i + 1, lim)
    SELECT lim.n AS n_days,
           CAST(round(ew.e, 0) AS BIGINT) AS ewma_final_cents,
           ew.br AS n_breaches,
           CAST(round(lim.mu + lim.hw, 0) AS BIGINT) AS ucl_cents,
           CAST(round(lim.mu - lim.hw, 0) AS BIGINT) AS lcl_cents
    FROM ew, lim WHERE ew.i = lim.n
    """,
)
def ewma_control_chart_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ = 0.2, ±3σ_EWMA) over one year of daily
    revenue: the exponentially-weighted mean tracks small sustained
    level shifts a Shewhart ±3σ chart misses (an 0.5σ drift breaches
    the EWMA band ~5× sooner), and n_breaches is the alert count the
    monitoring pipeline would have fired. The steady-state limit
    halfwidth is 3σ·√(λ/(2−λ)); the chart centers on the year's own
    mean (a retrospective phase-I chart, stated).

    Exactness: mean and σ come from EXACT integer cents sums (Σy int64,
    Σy² HUGEINT/decimal128 — order-free), so the limits are one
    fixed-order expression; the inherently-sequential EWMA recursion is
    the holt_level_trend reduce-then-fold shape — one JVM `aggregate`
    over the sorted ~365-element array, mirrored operation-for-
    operation by the oracle's recursive CTE so the IEEE doubles agree
    bit-for-bit. Init e₀ = y₀ (untested, standard).

    Scale: one year of days after a partial→final reduction; the fold
    is a single-row array expression, never a shuffle.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= f"{_EWMA_YEAR}-01-01")
        & (F.col("o_orderdate") < f"{int(_EWMA_YEAR) + 1}-01-01")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("yc")
    )
    daily = daily.localCheckpoint()  # read by the stats agg AND the fold
    st = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yc").cast("bigint").alias("s1"),
        F.sum(F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    lim = st.select(
        "n",
        F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").alias("mu"),
        F.expr(
            "3E0 * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
            "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
            " * sqrt(0.2E0 / 1.8E0)"
        ).alias("hw"),
    )
    row = (
        daily.agg(
            F.array_sort(F.collect_list(F.struct("d", "yc"))).alias("s")
        )
        .select(
            F.transform("s", lambda x: x["yc"].cast("double")).alias("ys")
        )
        .crossJoin(F.broadcast(lim))
    )
    ys, mu, hw = F.col("ys"), F.col("mu"), F.col("hw")
    init = F.struct(
        F.element_at(ys, 1).alias("e"), F.lit(0).cast("bigint").alias("br")
    )

    def step(acc, y):
        e_new = F.lit(0.2) * y + F.lit(0.8) * acc["e"]
        br_new = acc["br"] + F.when(
            F.abs((F.lit(0.2) * y + F.lit(0.8) * acc["e"]) - mu) > hw, 1
        ).otherwise(0)
        return F.struct(e_new.alias("e"), br_new.cast("bigint").alias("br"))

    folded = F.aggregate(F.slice(ys, 2, F.size(ys) - 1), init, step)
    return row.select(
        F.col("n").alias("n_days"),
        F.round(folded["e"], 0).cast("bigint").alias("ewma_final_cents"),
        folded["br"].alias("n_breaches"),
        F.round(mu + hw, 0).cast("bigint").alias("ucl_cents"),
        F.round(mu - hw, 0).cast("bigint").alias("lcl_cents"),
    )


@register(
    "theil_u2_daily_forecast",
    oracle=_DAILY_1K_CTE
    + """
    , l AS (
      SELECT x, lag(x, 1) OVER (ORDER BY t) AS x1,
             lag(x, 7) OVER (ORDER BY t) AS x7
      FROM t),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST((x - x7) AS HUGEINT) * (x - x7)) AS HUGEINT)
               AS e_seasonal,
             CAST(SUM(CAST((x - x1) AS HUGEINT) * (x - x1)) AS HUGEINT)
               AS e_naive
      FROM l WHERE x7 IS NOT NULL)
    SELECT n AS n_terms,
           CAST(round(sqrt(CAST(e_seasonal AS DOUBLE)
             / CAST(e_naive AS DOUBLE)) * 1000000E0, 0) AS BIGINT)
             AS u2_micro
    FROM g
    """,
)
def theil_u2_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U₂ of the week-ago seasonal-naive forecast against the
    yesterday naive baseline on daily revenue: U₂ < 1 says x_{{t−7}}
    beats x_{{t−1}} — weekly seasonality is REAL and worth a seasonal
    model; U₂ ≥ 1 says don't bother (the honest skill score every
    fancier forecaster must beat before shipping). Both error sums run
    over the same t ≥ 7 support so the comparison is fair.

    Exactness: integer $1k-tick differences, squared error sums on
    HUGEINT/decimal128 (Σd² crosses int64 near sf1000), ONE mirrored
    sqrt-ratio at the end.

    Scale: day-grain reduction, one tiny two-lag window (the ACF-family
    exception), one-row output.
    """
    t = _daily_1k(spark, sf_dir)
    w = Window.orderBy("t")
    l = t.select(
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 7).over(w).alias("x7"),
    ).filter(F.col("x7").isNotNull())
    d7 = (F.col("x") - F.col("x7")).cast("decimal(19,0)")
    d1 = (F.col("x") - F.col("x1")).cast("decimal(19,0)")
    g = l.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d7 * d7).cast("decimal(38,0)").alias("e_seasonal"),
        F.sum(d1 * d1).cast("decimal(38,0)").alias("e_naive"),
    )
    return g.select(
        F.col("n").alias("n_terms"),
        F.expr(
            "CAST(round(sqrt(CAST(e_seasonal AS DOUBLE)"
            " / CAST(e_naive AS DOUBLE)) * 1000000E0, 0) AS BIGINT)"
        ).alias("u2_micro"),
    )


@register(
    "gumbel_block_maxima_fit",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS yc
      FROM orders GROUP BY 1),
    blocks AS (
      SELECT CAST(date_trunc('month', d) AS DATE) AS m,
             CAST(MAX(yc) AS BIGINT) AS mx
      FROM daily GROUP BY 1),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(mx) AS BIGINT) AS s1,
             CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS s2
      FROM blocks)
    SELECT nb AS n_blocks,
           CAST(round(sqrt(6E0 * (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
             - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
               * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))) / pi(), 0)
             AS BIGINT) AS beta_cents,
           CAST(round(CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)
             - 0.5772156649015329
               * (sqrt(6E0 * (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))) / pi()),
             0) AS BIGINT) AS mu_cents,
           CAST(round((CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)
             - 0.5772156649015329
               * (sqrt(6E0 * (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))) / pi()))
             - (sqrt(6E0 * (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))) / pi())
               * ln(0E0 - ln(1E0 - 1E0 / 12E0)), 0) AS BIGINT)
             AS return_level_12mo_cents
    FROM st
    """,
)
def gumbel_block_maxima_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EVT type-I) fit of MONTHLY MAXIMA of daily revenue by
    the method of moments — β = σ√6/π, μ = m̄ − γβ — plus the 12-month
    return level μ − β·ln(−ln(1−1/12)): "the single-day revenue spike
    to expect about once a year", the capacity-planning number next to
    hill_tail_index's tail-shape diagnostic (Hill says HOW heavy the
    tail is; this prices a concrete horizon).

    Exactness: block maxima are exact integer cents; Σm and Σm² are
    int64/HUGEINT wide sums, so mean/σ of the maxima are exact inputs
    to ONE mirrored fixed-order expression (Euler-Mascheroni and the
    return-level ln-ln written as identical literals in both engines).

    Scale: two nested reductions (day grain, then month grain — ≤ |months|
    rows), one-row output; no window at all.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("yc")
    )
    blocks = daily.groupBy(F.trunc("d", "month").alias("m")).agg(
        F.max("yc").cast("bigint").alias("mx")
    )
    st = blocks.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("mx").cast("bigint").alias("s1"),
        F.sum(F.col("mx").cast("decimal(19,0)") * F.col("mx").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    beta = (
        "(sqrt(6E0 * (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)"
        " - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))"
        "   * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)))) / pi())"
    )
    mu = (
        "(CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)"
        f" - 0.5772156649015329 * {beta})"
    )
    return st.select(
        F.col("nb").alias("n_blocks"),
        F.expr(f"CAST(round({beta}, 0) AS BIGINT)").alias("beta_cents"),
        F.expr(f"CAST(round({mu}, 0) AS BIGINT)").alias("mu_cents"),
        F.expr(
            f"CAST(round({mu} - {beta} * ln(0E0 - ln(1E0 - 1E0 / 12E0)), 0)"
            " AS BIGINT)"
        ).alias("return_level_12mo_cents"),
    )


_WSR_Y0, _WSR_Y1 = 1995, 1996


@register(
    "wilcoxon_signed_rank_types",
    oracle=f"""
    WITH cell AS (
      SELECT p.p_type AS ptype,
             CAST(SUM(CASE WHEN year(CAST(l.l_shipdate AS DATE)) = {_WSR_Y0}
               THEN CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS r0,
             CAST(SUM(CASE WHEN year(CAST(l.l_shipdate AS DATE)) = {_WSR_Y1}
               THEN CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS r1
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE year(CAST(l.l_shipdate AS DATE)) IN ({_WSR_Y0}, {_WSR_Y1})
      GROUP BY 1),
    d AS (
      SELECT ABS(r1 - r0) AS ad,
             CASE WHEN r1 > r0 THEN 1 ELSE 0 END AS pos
      FROM cell WHERE r1 <> r0),
    c AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(pos) AS BIGINT) AS cp
          FROM d GROUP BY ad),
    mr AS (
      SELECT ad, c, cp,
             2 * (SUM(c) OVER (ORDER BY ad) - c) + c + 1 AS mr2
      FROM c),
    s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(cp * mr2) AS BIGINT) AS wp2,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
      FROM mr)
    SELECT n AS n_pairs, CAST(wp2 AS BIGINT) AS w_plus_x2,
           CAST(round(
             (CAST(wp2 AS DOUBLE) / 2E0
              - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1E0) / 4E0)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1E0)
                    * (2E0 * CAST(n AS DOUBLE) + 1E0) / 24E0
                    - CAST(tie3 AS DOUBLE) / 48E0)
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM s
    """,
)
def wilcoxon_signed_rank_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of 1995→1996 (_WSR_Y0→_WSR_Y1) revenue change
    PAIRED BY PART TYPE — the nonparametric paired test the engine's
    two-sample family lacked: Mann-Whitney compares two independent
    populations, this asks whether the within-type year-over-year
    change is systematically positive, immune to the between-type scale
    differences an unpaired test drowns in. Zero differences drop per
    the classical test; ties in |d| get midranks with the Σ(t³−t)/48
    variance correction.

    Exactness: per-type revenue is exact cents from ONE conditional-sum
    pass (no year self-join); |d| is integer so the midrank device runs
    on exact values (2·midranks integer, rank sums exact int64); z is
    one mirrored expression.

    Scale: the fact-dim join reduces straight to the |types|-row cell
    table; all ranking happens on ≤|types| distinct |d| values.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    yr = F.year(F.col("l_shipdate").cast("date"))
    cell = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(yr.isin(_WSR_Y0, _WSR_Y1))
        .groupBy(F.col("p_type").alias("ptype"))
        .agg(
            F.sum(
                F.when(yr == _WSR_Y0, cents("l_extendedprice")).otherwise(0)
            )
            .cast("bigint")
            .alias("r0"),
            F.sum(
                F.when(yr == _WSR_Y1, cents("l_extendedprice")).otherwise(0)
            )
            .cast("bigint")
            .alias("r1"),
        )
    )
    d = cell.filter(F.col("r1") != F.col("r0")).select(
        F.abs(F.col("r1") - F.col("r0")).alias("ad"),
        F.when(F.col("r1") > F.col("r0"), 1).otherwise(0).alias("pos"),
    )
    c = d.groupBy("ad").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("pos").cast("bigint").alias("cp"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    mr = c.select(
        "c",
        "cp",
        (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1).alias("mr2"),
    )
    s = mr.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cp") * F.col("mr2")).cast("bigint").alias("wp2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tie3"),
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.col("wp2").alias("w_plus_x2"),
        F.expr(
            "CAST(round("
            "(CAST(wp2 AS DOUBLE) / 2E0"
            " - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1E0) / 4E0)"
            " / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1E0)"
            "        * (2E0 * CAST(n AS DOUBLE) + 1E0) / 24E0"
            "        - CAST(tie3 AS DOUBLE) / 48E0)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


@register(
    "mood_median_test_delay",
    oracle=_DELAY_GRAIN_CTE
    + """
    , cum AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
      FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM c GROUP BY v) t),
    gm AS (SELECT MIN(CASE WHEN cum * 2 >= n THEN v END) AS med FROM cum),
    cells AS (
      SELECT pr, CAST(SUM(CASE WHEN v > gm.med THEN c ELSE 0 END) AS BIGINT)
               AS above,
             CAST(SUM(CASE WHEN v > gm.med THEN 0 ELSE c END) AS BIGINT)
               AS at_below
      FROM c, gm GROUP BY pr),
    tot AS (
      SELECT CAST(SUM(above) AS BIGINT) AS ta,
             CAST(SUM(at_below) AS BIGINT) AS tb,
             CAST(SUM(above + at_below) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cells),
    chi AS (
      SELECT CAST(SUM(
        CAST(round((CAST(above AS DOUBLE)
          - CAST(above + at_below AS DOUBLE) * ta / n)
          * (CAST(above AS DOUBLE)
             - CAST(above + at_below AS DOUBLE) * ta / n)
          / (CAST(above + at_below AS DOUBLE) * ta / n) * 1000000E0, 0)
          AS BIGINT)
        + CAST(round((CAST(at_below AS DOUBLE)
          - CAST(above + at_below AS DOUBLE) * tb / n)
          * (CAST(at_below AS DOUBLE)
             - CAST(above + at_below AS DOUBLE) * tb / n)
          / (CAST(above + at_below AS DOUBLE) * tb / n) * 1000000E0, 0)
          AS BIGINT)) AS BIGINT) AS chi2_micro
      FROM cells, tot)
    SELECT tot.k, tot.n, gm.med AS grand_median, chi.chi2_micro
    FROM chi, tot, gm
    """,
)
def mood_median_test_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of ship delay across the five priorities:
    classify every line above vs at-or-below the GRAND median and
    chi-square the k×2 contingency — the bluntest but most
    assumption-free of the k-sample location tests (Kruskal-Wallis
    needs comparable shapes to read as a location test; the median
    test only needs counts). Significant χ²(k−1) with an insignificant
    KW reads as "the tails differ around a common center".

    Exactness: the grand median is the integer lower-median off the
    pooled value grain; the contingency cells are exact integer counts;
    each cell's (O−E)²/E term quantizes to micro BEFORE the 2k-term
    sum (per-term device), χ² mirrored.

    Scale: rides the checkpointed (priority, delay) grain; the pooled
    ECDF is one window over ≤~125 distinct values.
    """
    c = _delay_grain(spark, sf_dir)
    pooled = c.groupBy("v").agg(F.sum("c").cast("bigint").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pooled.select(
        "v",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    gm = cum.agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med")
    )
    cells = (
        c.crossJoin(F.broadcast(gm))
        .groupBy("pr")
        .agg(
            F.sum(F.when(F.col("v") > F.col("med"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("above"),
            F.sum(F.when(F.col("v") > F.col("med"), 0).otherwise(F.col("c")))
            .cast("bigint")
            .alias("at_below"),
        )
        .localCheckpoint()  # 5-row cells; read by tot AND the chi sum
    )
    tot = cells.agg(
        F.sum("above").cast("bigint").alias("ta"),
        F.sum("at_below").cast("bigint").alias("tb"),
        F.sum(F.col("above") + F.col("at_below")).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    chi = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round((CAST(above AS DOUBLE)"
                " - CAST(above + at_below AS DOUBLE) * ta / n)"
                " * (CAST(above AS DOUBLE)"
                "    - CAST(above + at_below AS DOUBLE) * ta / n)"
                " / (CAST(above + at_below AS DOUBLE) * ta / n)"
                " * 1000000E0, 0) AS BIGINT)"
                " + CAST(round((CAST(at_below AS DOUBLE)"
                " - CAST(above + at_below AS DOUBLE) * tb / n)"
                " * (CAST(at_below AS DOUBLE)"
                "    - CAST(above + at_below AS DOUBLE) * tb / n)"
                " / (CAST(above + at_below AS DOUBLE) * tb / n)"
                " * 1000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("chi2_micro")
    )
    return (
        chi.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(gm))
        .select(
            "k", "n", F.col("med").alias("grand_median"), "chi2_micro"
        )
    )


@register(
    "poisson_dispersion_daily_orders",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM daily)
    SELECT n AS n_days, s1 AS n_orders,
           CAST(round(
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             / (CAST(n AS DOUBLE) - 1E0)
             / (CAST(s1 AS DOUBLE) / n) * 1000000E0, 0) AS BIGINT)
             AS dispersion_micro,
           CAST(round(
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             / (CAST(s1 AS DOUBLE) / n), 0) AS BIGINT) AS chi2_stat
    FROM s
    """,
)
def poisson_dispersion_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion (variance-to-mean) test on DAILY ORDER COUNTS
    — the arrival-process check the revenue ops can't do: a Poisson
    order stream has dispersion 1; > 1 reads over-dispersed (bursty
    arrivals, batching, campaign spikes — size queues with a negative-
    binomial model), < 1 under-dispersed (rate-limited/scheduled flow).
    χ² = Σ(c−c̄)²/c̄ ~ χ²(n−1) under H₀. The count-process companion of
    burstiness_by_type (inter-event gaps) and exp_gof_interarrival.

    Exactness: counts are integers, both sufficient statistics exact
    int64 (Σc² ≈ 2400·(6e8)² only at absurd SF — past ~sf100 switch to
    the wide-integer rule, noted); the two statistics are one mirrored
    expression.

    Scale: one day-grain count reduction, one-row output, no window.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.col("s1").alias("n_orders"),
        F.expr(
            "CAST(round("
            "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)"
            " / (CAST(n AS DOUBLE) - 1E0)"
            " / (CAST(s1 AS DOUBLE) / n) * 1000000E0, 0) AS BIGINT)"
        ).alias("dispersion_micro"),
        F.expr(
            "CAST(round("
            "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)"
            " / (CAST(s1 AS DOUBLE) / n), 0) AS BIGINT)"
        ).alias("chi2_stat"),
    )


# ---------------------------------------------------------------------------
# Round 7 (cont.): frequency-domain seasonality + proportion effect size
# ---------------------------------------------------------------------------

#: Candidate periods for the periodogram. Phases are t mod P, so each
#: period needs exactly P trig values — emitted as PARSED LITERALS in
#: both engines (cross-engine cos()/sin() can differ in the last ulp,
#: which a hash gate cannot tolerate; identical decimal literals parse
#: to identical IEEE doubles everywhere).
_PGRAM_PERIODS = (7, 14, 28)


def _pgram_lut_rows() -> list[tuple[int, int, str, str]]:
    import math as _m

    return [
        (p, i, repr(_m.cos(2 * _m.pi * i / p)), repr(_m.sin(2 * _m.pi * i / p)))
        for p in _PGRAM_PERIODS
        for i in range(p)
    ]


def _pgram_lut_sql() -> str:
    # string→double CASTs, not bare literals: repr() sometimes emits
    # scientific notation, and bare decimal literals take the DECIMAL
    # type in both engines (the E0 lesson); parsing the repr string as
    # DOUBLE is exact IEEE round-trip everywhere.
    vals = ", ".join(
        f"({p}, {i}, CAST('{c}' AS DOUBLE), CAST('{s}' AS DOUBLE))"
        for p, i, c, s in _pgram_lut_rows()
    )
    return f"(VALUES {vals}) lut(p, ph, cosv, sinv)"


@register(
    "spectral_periodogram_weekly",
    oracle=f"""
    {_DAILY_1K_CTE},
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM t),
    terms AS (
      SELECT lut.p,
             CAST(SUM(CAST(round((CAST(t.x AS DOUBLE)
               - (SELECT CAST(s1 AS DOUBLE) / n FROM g)) * lut.cosv
               * 1000E0, 0) AS BIGINT)) AS BIGINT) AS sc_milli,
             CAST(SUM(CAST(round((CAST(t.x AS DOUBLE)
               - (SELECT CAST(s1 AS DOUBLE) / n FROM g)) * lut.sinv
               * 1000E0, 0) AS BIGINT)) AS BIGINT) AS ss_milli
      FROM t JOIN {_pgram_lut_sql()}
        ON t.t % lut.p = lut.ph
      GROUP BY lut.p)
    SELECT CAST(p AS BIGINT) AS period,
           CAST(round(
             2E0 * ((CAST(sc_milli AS DOUBLE) / 1000E0)
                * (CAST(sc_milli AS DOUBLE) / 1000E0)
              + (CAST(ss_milli AS DOUBLE) / 1000E0)
                * (CAST(ss_milli AS DOUBLE) / 1000E0))
             / (SELECT CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                FROM g)
             * 1000000E0, 0) AS BIGINT) AS power_share_micro
    FROM terms ORDER BY period
    """,
)
def spectral_periodogram_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power of daily revenue at the 7/14/28-day candidate
    periods, normalized so a PURE cycle reads 1.0 (share =
    2(S_c²+S_s²)/(n²σ²)) — the frequency-domain seasonality
    detector that says WHICH cycle carries the energy (the ACF says
    correlation at a lag, the power share says how much of the
    variance the cycle explains; power_share near 2/n is noise,
    ≫ 2/n is a real cycle worth a seasonal model — the Fisher g-test
    reading).

    Exactness: integer periods make the phase t mod P take exactly P
    values, so the trig factors come from a PARSED-LITERAL lookup
    table (identical decimal literals parse to identical IEEE doubles
    in both engines — engine cos()/sin() differ in the last ulp and
    would flip hash bits); each mean-centered product quantizes to
    MILLI per term before the sums.

    Scale: day-grain reduction, a broadcast join against the 49-row
    LUT, one |periods|-row output; no window beyond the shared series
    index.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    lut = spark.createDataFrame(
        [(p, i, float(c), float(s)) for p, i, c, s in _pgram_lut_rows()],
        "p int, ph int, cosv double, sinv double",
    )
    tm = (
        t.crossJoin(F.broadcast(g))
        .join(F.broadcast(lut), F.col("t") % F.col("p") == F.col("ph"))
    )
    centered = "(CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / n)"
    terms = tm.groupBy("p").agg(
        F.sum(
            F.expr(
                f"CAST(round({centered} * cosv * 1000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("sc_milli"),
        F.sum(
            F.expr(
                f"CAST(round({centered} * sinv * 1000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("ss_milli"),
    )
    return (
        terms.crossJoin(F.broadcast(g))
        .select(
            F.col("p").cast("bigint").alias("period"),
            F.expr(
                "CAST(round("
                "2E0 * ((CAST(sc_milli AS DOUBLE) / 1000E0)"
                "   * (CAST(sc_milli AS DOUBLE) / 1000E0)"
                " + (CAST(ss_milli AS DOUBLE) / 1000E0)"
                "   * (CAST(ss_milli AS DOUBLE) / 1000E0))"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                "    * (CAST(s2 AS DOUBLE) / n"
                "       - (CAST(s1 AS DOUBLE) / n)"
                "         * (CAST(s1 AS DOUBLE) / n)))"
                " * 1000000E0, 0) AS BIGINT)"
            ).alias("power_share_micro"),
        )
        .orderBy("period")
    )


@register(
    "cohens_h_return_priorities",
    oracle=f"""
    WITH j AS (
      SELECT o.o_orderpriority AS pr, l.l_returnflag
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority IN ('{_GRP_A}', '{_GRP_B}')),
    s AS (
      SELECT CAST(SUM(CASE WHEN pr = '{_GRP_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN pr = '{_GRP_A}' AND l_returnflag = 'R'
               THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN pr = '{_GRP_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN pr = '{_GRP_B}' AND l_returnflag = 'R'
               THEN 1 ELSE 0 END) AS BIGINT) AS r2
      FROM j)
    SELECT n1, r1, n2, r2,
           CAST(round((2E0 * asin(sqrt(CAST(r1 AS DOUBLE) / n1))
             - 2E0 * asin(sqrt(CAST(r2 AS DOUBLE) / n2)))
             * 1000000E0, 0) AS BIGINT) AS cohens_h_micro
    FROM s
    """,
)
def cohens_h_return_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size between the urgent and low-priority RETURN
    rates — h = 2·asin√p₁ − 2·asin√p₂, the arcsine-stabilized
    difference whose detectability does NOT depend on where the
    baseline sits (a 1pp gap at p=0.5 and at p=0.02 are wildly
    different detection problems; h prices both on one scale: 0.2
    small / 0.5 medium / 0.8 large). The effect-size companion of the
    two-proportion z machinery (ab_test_ztest says significant; h says
    whether anyone should care).

    Exactness: the four cells are exact integer counts from one pass;
    h is ONE single-row mirrored expression (asin's potential
    last-ulp engine difference is a one-term output quantized to
    micro, not a summed term — safe by construction, unlike trig
    inside a reduction, which is why the periodogram uses the literal
    LUT instead).

    Scale: the fact-fact join reduces inside one conditional-sum
    aggregate; priority filter pushed to the orders scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderpriority").isin(_GRP_A, _GRP_B))
        .select(F.col("o_orderpriority").alias("pr"), "l_returnflag")
    )
    s = j.agg(
        F.sum(F.when(F.col("pr") == _GRP_A, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(
            F.when(
                (F.col("pr") == _GRP_A) & (F.col("l_returnflag") == "R"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("r1"),
        F.sum(F.when(F.col("pr") == _GRP_B, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(
            F.when(
                (F.col("pr") == _GRP_B) & (F.col("l_returnflag") == "R"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("r2"),
    )
    return s.select(
        "n1",
        "r1",
        "n2",
        "r2",
        F.expr(
            "CAST(round((2E0 * asin(sqrt(CAST(r1 AS DOUBLE) / n1))"
            " - 2E0 * asin(sqrt(CAST(r2 AS DOUBLE) / n2)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("cohens_h_micro"),
    )


@register(
    "durbin_watson_daily",
    oracle=_DAILY_1K_CTE
    + """
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (
      SELECT t.t,
             CAST(round((CAST(t.x AS DOUBLE)
               - ((CAST(sx AS DOUBLE) - ((CAST(n AS DOUBLE) * stx
                    - CAST(st AS DOUBLE) * sx)
                   / (CAST(n AS DOUBLE) * stt
                      - CAST(st AS DOUBLE) * st)) * st) / CAST(n AS DOUBLE)
                  + ((CAST(n AS DOUBLE) * stx - CAST(st AS DOUBLE) * sx)
                     / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st))
                    * CAST(t.t AS DOUBLE)))
               * 1000E0, 0) AS BIGINT) AS em
      FROM t, g),
    l AS (
      SELECT em, lag(em) OVER (ORDER BY t) AS em1 FROM e),
    s AS (
      SELECT CAST(SUM(CAST((em - em1) AS HUGEINT) * (em - em1)) AS HUGEINT)
               AS num,
             CAST(SUM(CAST(em AS HUGEINT) * em) AS HUGEINT) AS den
      FROM l)
    SELECT (SELECT n FROM g) AS n_days,
           CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS dw_micro,
           CAST(round((1E0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
             / 2E0) * 1000000E0, 0) AS BIGINT) AS rho_proxy_micro
    FROM s
    """,
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the RESIDUALS of the daily-revenue
    linear trend: DW = Σ(e_t−e_{t−1})²/Σe² ≈ 2(1−ρ̂) — the serial-
    correlation test every trend-line forecast must pass before its
    confidence intervals mean anything (the raw-series ACF family can't
    answer this: a trending series is autocorrelated by construction;
    DW asks whether the DETRENDED errors still are — DW ≪ 2 says the
    OLS standard errors are optimistic and the changepoint/EWMA ops
    should be consulted).

    Exactness: the OLS line comes from exact int64 sufficient
    statistics (one fixed-order closed form); each residual quantizes
    to MILLI per row before the two quadratic sums (per-term device —
    the sums are then exact HUGEINT/decimal128); DW is one mirrored
    ratio.

    Scale: day-grain reduction, a broadcast one-row stats join, one
    tiny lag window (the ACF-family exception), one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    slope = (
        "((CAST(n AS DOUBLE) * stx - CAST(st AS DOUBLE) * sx)"
        " / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st))"
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t",
        F.expr(
            f"CAST(round((CAST(x AS DOUBLE)"
            f" - ((CAST(sx AS DOUBLE) - {slope} * st) / CAST(n AS DOUBLE)"
            f"    + {slope} * CAST(t AS DOUBLE)))"
            f" * 1000E0, 0) AS BIGINT)"
        ).alias("em"),
    )
    w = Window.orderBy("t")
    l = e.select("em", F.lag("em").over(w).alias("em1"))
    em_d = (F.col("em") - F.col("em1")).cast("decimal(19,0)")
    s = l.agg(
        F.sum(em_d * em_d).cast("decimal(38,0)").alias("num"),
        F.sum(
            F.col("em").cast("decimal(19,0)") * F.col("em").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("den"),
    )
    return s.crossJoin(F.broadcast(g.select("n"))).select(
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("dw_micro"),
        F.expr(
            "CAST(round((1E0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
            " / 2E0) * 1000000E0, 0) AS BIGINT)"
        ).alias("rho_proxy_micro"),
    )


#: Log-rank comparison segments (customer market segments).
_LR_SEG_A, _LR_SEG_B = "BUILDING", "MACHINERY"


def _reorder_surv_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared survival cells for the reorder-time tests: one row per
    event time with at-risk counts (n1, n2) and event counts (d1, d2)
    per segment group — the marker-row exclusive-cumulative risk-set
    device documented in log_rank_reorder_segments."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(_LR_SEG_A, _LR_SEG_B)
    ).select(
        "c_custkey",
        (F.col("c_mktsegment") == _LR_SEG_A).cast("int").alias("g1"),
    )
    o = load_table(spark, sf_dir, "orders")
    od = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_custkey", "g1", F.col("o_orderdate").cast("date").alias("d")
        )
        .distinct()
    )
    anchor = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("mx")
    )
    per = od.groupBy("o_custkey", "g1").agg(
        F.sort_array(F.collect_set("d")).alias("ds")
    )
    su = per.crossJoin(F.broadcast(anchor)).select(
        "g1",
        F.when(
            F.size("ds") >= 2,
            F.datediff(F.element_at("ds", 2), F.element_at("ds", 1)),
        )
        .otherwise(F.datediff(F.col("mx"), F.element_at("ds", 1)))
        .alias("tt"),
        (F.size("ds") >= 2).cast("int").alias("ev"),
    )
    vg = su.groupBy("g1", "tt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
    ).localCheckpoint()  # value grain; read by nt, et, u AND cells
    nt = vg.groupBy("g1").agg(F.sum("c_all").cast("bigint").alias("ng"))
    et = vg.filter(F.col("c_ev") > 0).select("tt").distinct()
    u = vg.select("g1", "tt", "c_all", F.lit(1).alias("kind")).unionAll(
        et.crossJoin(F.broadcast(nt.select("g1"))).select(
            "g1", "tt", F.lit(0).cast("bigint").alias("c_all"),
            F.lit(0).alias("kind"),
        )
    )
    w = (
        Window.partitionBy("g1")
        .orderBy("tt", "kind")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cu = u.select(
        "g1", "tt", "kind",
        F.coalesce(F.sum("c_all").over(w), F.lit(0))
        .cast("bigint")
        .alias("before_t"),
    )
    risk = (
        cu.filter(F.col("kind") == 0)
        .join(F.broadcast(nt), "g1")
        .select("g1", "tt", (F.col("ng") - F.col("before_t")).alias("n_at"))
    )
    cells = (
        risk.join(vg, ["g1", "tt"], "left")
        .groupBy("tt")
        .agg(
            F.sum(F.when(F.col("g1") == 1, F.col("n_at")).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("g1") == 0, F.col("n_at")).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(
                F.when(F.col("g1") == 1, F.coalesce(F.col("c_ev"), F.lit(0)))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("d1"),
            F.sum(
                F.when(F.col("g1") == 0, F.coalesce(F.col("c_ev"), F.lit(0)))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("d2"),
        )
    )
    return cells


@register(
    "log_rank_reorder_segments",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             CASE WHEN c_mktsegment = '{_LR_SEG_A}' THEN 1 ELSE 0 END AS g1
      FROM customer WHERE c_mktsegment IN ('{_LR_SEG_A}', '{_LR_SEG_B}')),
    od AS (
      SELECT o.o_custkey, cust.g1, CAST(o.o_orderdate AS DATE) AS d
      FROM orders o JOIN cust ON o.o_custkey = cust.c_custkey
      GROUP BY 1, 2, 3),
    anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
    per AS (
      SELECT o_custkey, g1, MIN(d) AS d1,
             MIN(CASE WHEN d > (SELECT MIN(d2.d) FROM od d2
                                WHERE d2.o_custkey = od.o_custkey)
                      THEN d END) AS d2
      FROM od GROUP BY 1, 2),
    su AS (
      SELECT g1,
             CASE WHEN d2 IS NOT NULL
                  THEN date_diff('day', d1, d2)
                  ELSE date_diff('day', d1, (SELECT mx FROM anchor)) END
               AS tt,
             CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per),
    vg AS (
      SELECT g1, tt, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev
      FROM su GROUP BY 1, 2),
    nt AS (SELECT g1, CAST(SUM(c_all) AS BIGINT) AS ng FROM vg GROUP BY g1),
    et AS (SELECT DISTINCT tt FROM vg WHERE c_ev > 0),
    u AS (
      SELECT g1, tt, c_all, 1 AS kind FROM vg
      UNION ALL
      SELECT nt.g1, et.tt, 0, 0 FROM et CROSS JOIN nt),
    cu AS (
      SELECT g1, tt, kind,
             CAST(COALESCE(SUM(c_all) OVER (PARTITION BY g1
               ORDER BY tt, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before_t
      FROM u),
    risk AS (
      SELECT cu.g1, cu.tt, nt.ng - cu.before_t AS n_at
      FROM cu JOIN nt ON cu.g1 = nt.g1 WHERE cu.kind = 0),
    cells AS (
      SELECT risk.tt,
             CAST(SUM(CASE WHEN risk.g1 = 1 THEN risk.n_at ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN risk.g1 = 0 THEN risk.n_at ELSE 0 END)
               AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN risk.g1 = 1
               THEN COALESCE(vg.c_ev, 0) ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN risk.g1 = 0
               THEN COALESCE(vg.c_ev, 0) ELSE 0 END) AS BIGINT) AS d2
      FROM risk LEFT JOIN vg ON risk.g1 = vg.g1 AND risk.tt = vg.tt
      GROUP BY risk.tt),
    terms AS (
      SELECT CAST(SUM(CAST(round((CAST(d1 AS DOUBLE)
               - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)) * 1000000E0, 0)
               AS BIGINT)) AS BIGINT) AS oe_micro,
             CAST(SUM(CAST(round(CAST(d1 + d2 AS DOUBLE)
               * (CAST(n1 AS DOUBLE) / (n1 + n2))
               * (CAST(n2 AS DOUBLE) / (n1 + n2))
               * (CAST(n1 + n2 - d1 - d2 AS DOUBLE))
               / (CAST(n1 + n2 AS DOUBLE) - 1E0) * 1000000E0, 0)
               AS BIGINT)) AS BIGINT) AS var_micro,
             CAST(SUM(d1 + d2) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_times
      FROM cells WHERE n1 + n2 > 1)
    SELECT n_times, n_events,
           CAST(round(CAST(oe_micro AS DOUBLE) / 1000000E0
             / sqrt(CAST(var_micro AS DOUBLE) / 1000000E0)
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM terms
    """,
)
def log_rank_reorder_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing TIME-TO-SECOND-ORDER between the
    {_LR_SEG_A} and {_LR_SEG_B} customer segments, censoring
    single-order customers at the data horizon — the survival TEST
    beside the survival_km CURVE: KM shows the two reorder curves,
    log-rank says whether their separation survives the censoring
    structure (naive "mean gap" comparisons silently drop the
    customers who never reordered — exactly the ones that matter).
    Event time is the gap to the next DISTINCT order day.

    Exactness: times are integer days; risk sets at each event time
    come from the marker-row exclusive-cumulative device (markers sort
    BEFORE same-day data rows, so censorings at t stay at risk at t —
    the standard convention); per-time O−E and variance terms quantize
    to MICRO before the sums; z is one mirrored expression.

    Scale: orders reduce to (customer, distinct day) then to one
    (group, time, event) row per customer; everything after lives on
    the |times|-grain value table — windows partition by group, output
    one row.
    """
    cells = _reorder_surv_cells(spark, sf_dir)
    terms = cells.filter(F.col("n1") + F.col("n2") > 1).agg(
        F.sum(
            F.expr(
                "CAST(round((CAST(d1 AS DOUBLE)"
                " - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2))"
                " * 1000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("oe_micro"),
        F.sum(
            F.expr(
                "CAST(round(CAST(d1 + d2 AS DOUBLE)"
                " * (CAST(n1 AS DOUBLE) / (n1 + n2))"
                " * (CAST(n2 AS DOUBLE) / (n1 + n2))"
                " * (CAST(n1 + n2 - d1 - d2 AS DOUBLE))"
                " / (CAST(n1 + n2 AS DOUBLE) - 1E0) * 1000000E0, 0)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("var_micro"),
        F.sum(F.col("d1") + F.col("d2")).cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
    )
    return terms.select(
        "n_times",
        "n_events",
        F.expr(
            "CAST(round(CAST(oe_micro AS DOUBLE) / 1000000E0"
            " / sqrt(CAST(var_micro AS DOUBLE) / 1000000E0)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


#: Welch final expressions — ONE fixed token stream shared verbatim by
#: Spark and DuckDB over the one-row pivoted sufficient statistics
#: (n1,a1,q1,n2,a2,q2).  se_g = s²_g/n_g off exact integer power sums.
_WELCH_SE1 = (
    "((CAST(q1 AS DOUBLE) - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE)"
    " / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1E0)"
    " / CAST(n1 AS DOUBLE))"
)
_WELCH_SE2 = (
    "((CAST(q2 AS DOUBLE) - CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)"
    " / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1E0)"
    " / CAST(n2 AS DOUBLE))"
)
_WELCH_T = (
    "((CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    f" / sqrt({_WELCH_SE1} + {_WELCH_SE2}))"
)
_WELCH_DF = (
    f"(({_WELCH_SE1} + {_WELCH_SE2}) * ({_WELCH_SE1} + {_WELCH_SE2})"
    f" / ({_WELCH_SE1} * {_WELCH_SE1} / (CAST(n1 AS DOUBLE) - 1E0)"
    f"    + {_WELCH_SE2} * {_WELCH_SE2} / (CAST(n2 AS DOUBLE) - 1E0)))"
)

#: Welch comparison segments (customer market segments).
_WT_SEG_A, _WT_SEG_B = "BUILDING", "MACHINERY"


@register(
    "welch_ttest_segments",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN c.c_mktsegment = '{_WT_SEG_A}' THEN 1 ELSE 0 END
               AS g1,
             CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{_WT_SEG_A}', '{_WT_SEG_B}')),
    g AS (
      SELECT g1, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS s1,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      FROM s GROUP BY 1),
    p AS (
      SELECT MAX(CASE WHEN g1 = 1 THEN n END) AS n1,
             MAX(CASE WHEN g1 = 1 THEN s1 END) AS a1,
             MAX(CASE WHEN g1 = 1 THEN s2 END) AS q1,
             MAX(CASE WHEN g1 = 0 THEN n END) AS n2,
             MAX(CASE WHEN g1 = 0 THEN s1 END) AS a2,
             MAX(CASE WHEN g1 = 0 THEN s2 END) AS q2
      FROM g)
    SELECT n1, n2,
           CAST(round((CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 100E0, 0)
             AS BIGINT) AS mean_diff_cents,
           CAST(round({_WELCH_T} * 1000000E0, 0) AS BIGINT) AS t_micro,
           CAST(round({_WELCH_DF} * 1000E0, 0) AS BIGINT) AS df_milli
    FROM p
    """,
)
def welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of order value between the
    BUILDING and MACHINERY market segments, with the Satterthwaite
    degrees of freedom — the test ab_test_ztest should have been when
    the two arms' variances differ (the pooled z silently assumes
    they don't; Welch pays ~0 power for dropping that assumption).
    df ≪ n1+n2−2 is itself a diagnostic: it says one segment's
    variance dominates.

    Exactness: per-group sufficient statistics (n, Σv, Σv²) are exact
    integer sums (Σv² on HUGEINT/decimal128 — v is cents, v² ~ 2.5e15,
    SF-linear count pushes the sum past int64 at sf≳0.1); the pivot
    into ONE row is conditional aggregation (the dow-R² device), and
    t / df are ONE fixed-order token stream shared verbatim by both
    engines.

    Scale: one fact scan → 2 sufficient-statistic rows → 1-row pivot;
    the customer dim join is AQE's choice, no hint.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin(_WT_SEG_A, _WT_SEG_B))
        .select(
            F.when(F.col("c_mktsegment") == _WT_SEG_A, 1)
            .otherwise(0)
            .alias("g1"),
            cents("o_totalprice").alias("v"),
        )
    )
    vdec = F.col("v").cast("decimal(19,0)")
    g = s.groupBy("g1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s1"),
        F.sum(vdec * vdec).cast("decimal(38,0)").alias("s2"),
    )
    p = g.agg(
        F.max(F.when(F.col("g1") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g1") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("g1") == 1, F.col("s2"))).alias("q1"),
        F.max(F.when(F.col("g1") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g1") == 0, F.col("s1"))).alias("a2"),
        F.max(F.when(F.col("g1") == 0, F.col("s2"))).alias("q2"),
    )
    return p.select(
        "n1",
        "n2",
        F.expr(
            "CAST(round((CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 100E0, 0)"
            " AS BIGINT)"
        ).alias("mean_diff_cents"),
        F.expr(
            f"CAST(round({_WELCH_T} * 1000000E0, 0) AS BIGINT)"
        ).alias("t_micro"),
        F.expr(
            f"CAST(round({_WELCH_DF} * 1000E0, 0) AS BIGINT)"
        ).alias("df_milli"),
    )


#: Hodges-Lehmann comparison priorities.
_HL_PR_A, _HL_PR_B = "1-URGENT", "5-LOW"


@register(
    "hodges_lehmann_delay_shift",
    oracle=_DELAY_GRAIN_CTE
    + f"""
    , a AS (SELECT v, c FROM c WHERE pr = '{_HL_PR_A}'),
    b AS (SELECT v, c FROM c WHERE pr = '{_HL_PR_B}'),
    pr AS (
      SELECT a.v - b.v AS d,
             CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS w
      FROM a, b GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(w) AS HUGEINT) AS np,
             (SELECT CAST(SUM(c) AS BIGINT) FROM a) AS n1,
             (SELECT CAST(SUM(c) AS BIGINT) FROM b) AS n2
      FROM pr),
    cum AS (SELECT d, SUM(w) OVER (ORDER BY d) AS cw FROM pr)
    SELECT tot.n1, tot.n2,
           (SELECT MIN(d) FROM cum WHERE cw * 2 >= tot.np)
             AS hl_shift_days
    FROM tot
    """,
)
def hodges_lehmann_delay_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between the URGENT and LOW
    priorities' ship delays: the median of ALL n1·n2 pairwise
    differences (x_i − y_j) — the effect-size companion to the
    Mann-Whitney test already in the registry (U says "the shift is
    nonzero", HL says "it is −6 days"), robust where the difference
    of means is hostage to the delay tail.

    Exactness: the pairwise-difference distribution is computed on the
    (priority, delay) VALUE GRAIN — a bounded grain×grain product
    (≤ ~2500² pairs regardless of SF, since delays live on the
    calendar span) whose weights c1·c2 are exact integers on
    HUGEINT/decimal128 (counts are SF-linear, the product crosses
    int64 by sf≳1e3); the lower median is the integer ECDF threshold
    cum·2 ≥ N — no doubles anywhere.

    Scale: fact scans reduce to the checkpointed delay grain first;
    the grain-pair product broadcasts the smaller side (bounded,
    never SF-linear) and collapses by difference d to the ≤ ~5000-row
    span table; the weighted lower median is then ONE running-sum
    fold over that bounded sorted array instead of the former window +
    two extra one-row broadcast legs — r12: the old shape spent 22
    jobs / 35 tasks of scheduling overhead on kilobyte frames
    (4.69 s median measured); this one runs in ~1/3 the jobs.
    """
    c = _delay_grain(spark, sf_dir)
    # spread the bounded (~2500-row) probe side before the pair
    # product: the AQE-coalesced grain leaves it in ONE partition, so
    # the ~2500×~2500 nested-loop stage ran serial (8c/32c ratio 1.01
    # in the r11 scaling block) — a kilobyte shuffle buys a cores-wide
    # product stage (§2.6, the blocking_quality_eval device)
    a = (
        c.filter(F.col("pr") == _HL_PR_A)
        .select("v", "c")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    b = c.filter(F.col("pr") == _HL_PR_B).select(
        F.col("v").alias("bv"), F.col("c").alias("bc")
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .groupBy((F.col("v") - F.col("bv")).alias("d"))
        .agg(
            F.sum(
                F.col("c").cast("decimal(19,0)")
                * F.col("bc").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("w")
        )
    )
    # one row holding the whole (d, w) span table (bounded by the
    # calendar span, ≤ ~5000 entries regardless of SF) plus its total
    # mass; the lower median is a running-sum fold until cum·2 ≥ n1·n2
    # — value-identical to the former grouped-ECDF window scan.
    arr = pairs.agg(
        F.sort_array(F.collect_list(F.struct("d", "w"))).alias("dw"),
        F.sum("w").cast("decimal(38,0)").alias("np"),
    )
    nn = c.filter(F.col("pr").isin(_HL_PR_A, _HL_PR_B)).agg(
        F.sum(F.when(F.col("pr") == _HL_PR_A, F.col("c")))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("pr") == _HL_PR_B, F.col("c")))
        .cast("bigint")
        .alias("n2"),
    )
    hl = F.expr(
        "aggregate(dw,"
        "  struct(CAST(0 AS DECIMAL(38,0)) AS cum, CAST(NULL AS INT) AS ans),"
        "  (acc, x) -> struct(CAST(acc.cum + x.w AS DECIMAL(38,0)),"
        "    CASE WHEN acc.ans IS NULL AND (acc.cum + x.w) * 2 >= np"
        "         THEN x.d ELSE acc.ans END),"
        "  acc -> acc.ans)"
    )
    return nn.crossJoin(F.broadcast(arr)).select(
        "n1", "n2", hl.alias("hl_shift_days")
    )


#: Breusch-Pagan R² — ONE fixed token stream over the one-row exact
#: sums of the auxiliary regression of the squared residual on t.
_BP_R2 = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)

#: Shared OLS slope/intercept token streams over (n, st, sx, stx, stt)
#: — the durbin_watson closed form, reused by the BP residual stage.
_OLS_SLOPE = (
    "((CAST(n AS DOUBLE) * stx - CAST(st AS DOUBLE) * sx)"
    " / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st))"
)
_BP_RESID = (
    "CAST(round(CAST(x AS DOUBLE)"
    f" - ((CAST(sx AS DOUBLE) - {_OLS_SLOPE} * st) / CAST(n AS DOUBLE)"
    f"    + {_OLS_SLOPE} * CAST(t AS DOUBLE)), 0) AS BIGINT)"
)


@register(
    "breusch_pagan_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (SELECT t.t, {_BP_RESID} AS eu FROM t, g),
    y AS (SELECT t, CAST(eu AS HUGEINT) * eu AS y2 FROM e),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS HUGEINT) AS sx,
             CAST(SUM(y2) AS HUGEINT) AS sy,
             CAST(SUM(t * y2) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS sxx,
             CAST(SUM(y2 * y2) AS HUGEINT) AS syy
      FROM y)
    SELECT n AS n_days,
           CAST(round(CAST(n AS DOUBLE) * {_BP_R2} * 1000000E0, 0)
             AS BIGINT) AS lm_micro,
           CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS r_micro
    FROM s
    """,
)
def breusch_pagan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test on the daily-revenue OLS
    trend: regress the SQUARED residual on time, LM = n·R² ~ χ²(1) —
    the test that decides whether durbin_watson's standard errors (and
    every σ-band control chart over the same series) can use ONE
    variance or must model a changing one. r_micro gives the sign:
    positive means the noise is widening with time.

    Exactness: the OLS line comes from exact int64 sufficient
    statistics; each residual quantizes to UNIT grain per row (BP's R²
    is scale-invariant, and unit grain keeps Σ(e²)² inside
    decimal128/HUGEINT to SF≈1e5 where milli grain dies at SF≈1e3);
    the auxiliary regression's five sums are exact, and LM / r are
    ONE shared fixed-order expression.

    Scale: day-grain reduction, a broadcast one-row stats join,
    one-row output; nothing SF-linear past the first reduction.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t", F.expr(_BP_RESID).alias("eu")
    )
    eud = F.col("eu").cast("decimal(19,0)")
    y = e.select("t", (eud * eud).cast("decimal(38,0)").alias("y2"))
    s = y.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("sx"),
        F.sum("y2").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("t").cast("decimal(19,0)") * F.col("y2"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("t").cast("decimal(19,0)") * F.col("t"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).cast("decimal(38,0)").alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        F.expr(
            f"CAST(round(CAST(n AS DOUBLE) * {_BP_R2} * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("lm_micro"),
        F.expr(
            "CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            "      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("r_micro"),
    )


@register(
    "newey_west_se_daily",
    oracle=_DAILY_1K_CTE
    + """
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS s1
      FROM t),
    e AS (SELECT t.t, CAST(g.n AS HUGEINT) * t.x - g.s1 AS e FROM t, g),
    l AS (
      SELECT e,
             lead(e, 1) OVER (ORDER BY t) AS e1,
             lead(e, 2) OVER (ORDER BY t) AS e2,
             lead(e, 3) OVER (ORDER BY t) AS e3,
             lead(e, 4) OVER (ORDER BY t) AS e4,
             lead(e, 5) OVER (ORDER BY t) AS e5,
             lead(e, 6) OVER (ORDER BY t) AS e6,
             lead(e, 7) OVER (ORDER BY t) AS e7
      FROM e),
    s AS (
      SELECT CAST(SUM(e * e) AS HUGEINT) AS g0,
             CAST(SUM(e * e1) AS HUGEINT) AS g1,
             CAST(SUM(e * e2) AS HUGEINT) AS g2,
             CAST(SUM(e * e3) AS HUGEINT) AS g3,
             CAST(SUM(e * e4) AS HUGEINT) AS g4,
             CAST(SUM(e * e5) AS HUGEINT) AS g5,
             CAST(SUM(e * e6) AS HUGEINT) AS g6,
             CAST(SUM(e * e7) AS HUGEINT) AS g7
      FROM l),
    nw AS (
      SELECT 8 * g0 + 2 * (7 * g1 + 6 * g2 + 5 * g3 + 4 * g4 + 3 * g5
               + 2 * g6 + 1 * g7) AS nw8, g0
      FROM s)
    SELECT g.n AS n_days,
           CAST(round(sqrt(CAST(nw8 AS DOUBLE) / 8E0)
             / CAST(g.n AS DOUBLE) / CAST(g.n AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS nw_se_micro,
           CAST(round(sqrt(CAST(nw8 AS DOUBLE) / 8E0
               / CAST(g0 AS DOUBLE)) * 1000000E0, 0) AS BIGINT)
             AS hac_inflation_micro
    FROM nw, g
    """,
)
def newey_west_se_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC, Bartlett kernel, L = 7) standard error of the
    mean daily revenue — the SE every weekly business review should
    quote instead of s/√n when the dow/weekly cycle autocorrelates the
    series (positive ρ makes the iid SE optimistic by exactly the
    hac_inflation factor emitted beside it; 7 lags cover the weekly
    cycle the periodogram op localizes).

    Exactness: the n-scaled demeaning device (KPSS lesson) makes every
    deviation e_t = n·x_t − Σx an exact integer (n is the DAY count,
    bounded by the calendar, never SF-linear); all eight autocovariance
    dot products are exact HUGEINT/decimal128 sums; the Bartlett
    weights (8−k)/8 are cleared to the integer 8·γ₀ + 2Σ(8−k)·γ_k
    before the single sqrt.

    Scale: day-grain reduction, one tiny ordered window for the eight
    leads (the documented ACF-family exception), one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t",
        (
            F.col("n").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
            - F.col("s1")
        )
        .cast("decimal(19,0)")
        .alias("e"),
    )
    w = Window.orderBy("t")
    l = e.select(
        "e",
        *[F.lead("e", k).over(w).alias(f"e{k}") for k in range(1, 8)],
    )
    s = l.agg(
        F.sum(F.col("e") * F.col("e")).cast("decimal(38,0)").alias("g0"),
        *[
            F.sum(F.col("e") * F.col(f"e{k}"))
            .cast("decimal(38,0)")
            .alias(f"g{k}")
            for k in range(1, 8)
        ],
    )
    nw = s.select(
        (
            F.lit(8).cast("decimal(19,0)") * F.col("g0")
            + F.lit(2).cast("decimal(19,0)")
            * (
                F.lit(7).cast("decimal(19,0)") * F.col("g1")
                + F.lit(6).cast("decimal(19,0)") * F.col("g2")
                + F.lit(5).cast("decimal(19,0)") * F.col("g3")
                + F.lit(4).cast("decimal(19,0)") * F.col("g4")
                + F.lit(3).cast("decimal(19,0)") * F.col("g5")
                + F.lit(2).cast("decimal(19,0)") * F.col("g6")
                + F.lit(1).cast("decimal(19,0)") * F.col("g7")
            )
        )
        .cast("decimal(38,0)")
        .alias("nw8"),
        "g0",
    )
    return nw.crossJoin(F.broadcast(g.select("n"))).select(
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(round(sqrt(CAST(nw8 AS DOUBLE) / 8E0)"
            " / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("nw_se_micro"),
        F.expr(
            "CAST(round(sqrt(CAST(nw8 AS DOUBLE) / 8E0"
            " / CAST(g0 AS DOUBLE)) * 1000000E0, 0) AS BIGINT)"
        ).alias("hac_inflation_micro"),
    )


@register(
    "cochran_armitage_discount_trend",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS w,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
      FROM lineitem),
    cg AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS r
      FROM b GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(r) AS HUGEINT) AS rr,
             CAST(SUM(w * r) AS HUGEINT) AS swr,
             CAST(SUM(w * n) AS HUGEINT) AS swn,
             CAST(SUM(w * w * n) AS HUGEINT) AS swwn
      FROM cg)
    SELECT k AS n_levels, CAST(nn AS BIGINT) AS n_lines,
           CAST(round((CAST(nn AS DOUBLE) * CAST(swr AS DOUBLE)
               - CAST(rr AS DOUBLE) * CAST(swn AS DOUBLE))
             / sqrt(CAST(rr AS DOUBLE)
                 * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE))
                 * (CAST(nn AS DOUBLE) * CAST(swwn AS DOUBLE)
                    - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM s
    """,
)
def cochran_armitage_discount_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the RETURN rate monotone in the
    discount level (scores w = 0..10 cents)? The ordered-alternative
    companion of chi_square_independence on the same margin — the
    omnibus χ² burns k−1 df looking for ANY pattern; CA spends ONE df
    on the dose-response direction a pricing-integrity reviewer
    actually expects, so it flags a drifting returns-by-discount
    gradient long before the omnibus wakes up. (z ≈ 0 on this corpus
    is the honest verdict: the synthetic flags are independent of
    discount — the op is the monitor you install, not the alarm.)

    Exactness: everything up to the final ratio is exact integer —
    per-level (n, r) counts, the five sufficient sums on
    HUGEINT/decimal128 (Σw²n ~ 100·N crosses int64 by sf≈1e3), and
    the numerator/variance are integer cross-multiplications; z is
    ONE mirrored fixed-order expression.

    Scale: one fact scan → the 11-row discount grain → a 1-row
    sufficient-statistic pivot. Nothing downstream is SF-linear.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cg = (
        li.select(
            cents("l_discount").alias("w"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("r").cast("bigint").alias("r"),
        )
    )
    s = cg.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("r").cast("decimal(38,0)").alias("rr"),
        F.sum(F.col("w") * F.col("r")).cast("decimal(38,0)").alias("swr"),
        F.sum(F.col("w") * F.col("n")).cast("decimal(38,0)").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n"))
        .cast("decimal(38,0)")
        .alias("swwn"),
    )
    return s.select(
        F.col("k").alias("n_levels"),
        F.col("nn").cast("bigint").alias("n_lines"),
        F.expr(
            "CAST(round((CAST(nn AS DOUBLE) * CAST(swr AS DOUBLE)"
            " - CAST(rr AS DOUBLE) * CAST(swn AS DOUBLE))"
            " / sqrt(CAST(rr AS DOUBLE)"
            "     * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE))"
            "     * (CAST(nn AS DOUBLE) * CAST(swwn AS DOUBLE)"
            "        - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


@register(
    "mantel_haenszel_return_discount",
    oracle="""
    WITH b AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CASE WHEN l.l_discount >= 0.06 THEN 1 ELSE 0 END AS ex,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS rr
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cells AS (
      SELECT yr,
             CAST(SUM(ex * rr) AS BIGINT) AS a,
             CAST(SUM(ex * (1 - rr)) AS BIGINT) AS bb,
             CAST(SUM((1 - ex) * rr) AS BIGINT) AS c,
             CAST(SUM((1 - ex) * (1 - rr)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY 1),
    terms AS (
      SELECT yr, a,
             CAST(round(CAST(a + bb AS DOUBLE) * CAST(a + c AS DOUBLE)
               / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT) AS e_micro,
             CAST(round(CAST(a + bb AS DOUBLE) * CAST(c + d AS DOUBLE)
                 * CAST(a + c AS DOUBLE) * CAST(bb + d AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) - 1E0)) * 1000000E0, 0)
               AS BIGINT) AS v_micro,
             CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
               / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT) AS adn_micro,
             CAST(round(CAST(bb AS DOUBLE) * CAST(c AS DOUBLE)
               / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT) AS bcn_micro
      FROM cells)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(round(CAST(SUM(adn_micro) AS DOUBLE)
             / CAST(SUM(bcn_micro) AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS mh_or_micro,
           CAST(round(CAST(SUM(a) * 1000000 - SUM(e_micro) AS DOUBLE)
               * CAST(SUM(a) * 1000000 - SUM(e_micro) AS DOUBLE)
             / (CAST(SUM(v_micro) AS DOUBLE) * 1000000E0)
             * 1000000E0, 0) AS BIGINT) AS cmh_chi2_micro
    FROM terms
    """,
)
def mantel_haenszel_return_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio + Cochran-MH χ²(1) for
    high-discount (≥ 6%) vs returned, stratified BY ORDER YEAR — the
    confounding-proof version of the crude 2×2: if discount policy
    and return behavior both drifted over the years, the crude OR
    mixes cohorts (Simpson's trap) while MH pools the per-year
    association at fixed year. Reading MH ≈ 1 against a crude OR ≠ 1
    is the "it was the mix, not the mechanism" verdict.

    Exactness: per-stratum cells are exact integer sums; each
    fractional stratum term (a·d/n, b·c/n, E, V) is ONE single-term
    expression off one row, micro-quantized BEFORE the ≤|years|-row
    integer sums (the bounded-strata per-term device); OR and χ² are
    mirrored fixed-order expressions. Σa·10⁶ stays inside int64 to
    sf≈1e5.

    Scale: one fact join → |years| stratum rows; everything after is
    arithmetic on ≤ 7 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    b = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.when(F.col("l_discount") >= 0.06, 1).otherwise(0).alias("ex"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("rr"),
    )
    cells = b.groupBy("yr").agg(
        F.sum(F.col("ex") * F.col("rr")).cast("bigint").alias("a"),
        F.sum(F.col("ex") * (1 - F.col("rr"))).cast("bigint").alias("bb"),
        F.sum((1 - F.col("ex")) * F.col("rr")).cast("bigint").alias("c"),
        F.sum((1 - F.col("ex")) * (1 - F.col("rr")))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    terms = cells.select(
        "a",
        F.expr(
            "CAST(round(CAST(a + bb AS DOUBLE) * CAST(a + c AS DOUBLE)"
            " / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("e_micro"),
        F.expr(
            "CAST(round(CAST(a + bb AS DOUBLE) * CAST(c + d AS DOUBLE)"
            " * CAST(a + c AS DOUBLE) * CAST(bb + d AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            "    * (CAST(n AS DOUBLE) - 1E0)) * 1000000E0, 0) AS BIGINT)"
        ).alias("v_micro"),
        F.expr(
            "CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
            " / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("adn_micro"),
        F.expr(
            "CAST(round(CAST(bb AS DOUBLE) * CAST(c AS DOUBLE)"
            " / CAST(n AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("bcn_micro"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("e_micro").cast("bigint").alias("se"),
        F.sum("v_micro").cast("bigint").alias("sv"),
        F.sum("adn_micro").cast("bigint").alias("sad"),
        F.sum("bcn_micro").cast("bigint").alias("sbc"),
    ).select(
        "n_strata",
        F.expr(
            "CAST(round(CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("mh_or_micro"),
        F.expr(
            "CAST(round(CAST(sa * 1000000 - se AS DOUBLE)"
            " * CAST(sa * 1000000 - se AS DOUBLE)"
            " / (CAST(sv AS DOUBLE) * 1000000E0) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("cmh_chi2_micro"),
    )


@register(
    "nelson_aalen_reorder",
    oracle="""
    WITH od AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d
      FROM orders GROUP BY 1, 2),
    anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
    per AS (
      SELECT o_custkey, MIN(d) AS d1,
             MIN(CASE WHEN d > (SELECT MIN(d2.d) FROM od d2
                                WHERE d2.o_custkey = od.o_custkey)
                      THEN d END) AS d2
      FROM od GROUP BY 1),
    su AS (
      SELECT CASE WHEN d2 IS NOT NULL THEN date_diff('day', d1, d2)
                  ELSE date_diff('day', d1, (SELECT mx FROM anchor)) END
               AS tt,
             CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per),
    vg AS (
      SELECT tt, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev
      FROM su GROUP BY 1),
    cum AS (
      SELECT tt, c_all, c_ev,
             CAST(COALESCE(SUM(c_all) OVER (ORDER BY tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before_t,
             CAST(SUM(c_all) OVER () AS BIGINT) AS nn
      FROM vg),
    terms AS (
      SELECT tt, c_ev, nn - before_t AS n_at,
             CAST(round(CAST(c_ev AS DOUBLE)
               / CAST(nn - before_t AS DOUBLE) * 1000000E0, 0)
               AS BIGINT) AS h_micro,
             CAST(round(CAST(c_ev AS DOUBLE)
               / (CAST(nn - before_t AS DOUBLE)
                  * CAST(nn - before_t AS DOUBLE)) * 1000000000E0, 0)
               AS BIGINT) AS v_nano
      FROM cum WHERE c_ev > 0)
    SELECT tt AS t_days, n_at, c_ev AS d_events,
           CAST(SUM(h_micro) OVER (ORDER BY tt) AS BIGINT)
             AS na_cumhaz_micro,
           CAST(SUM(v_nano) OVER (ORDER BY tt) AS BIGINT)
             AS na_var_nano
    FROM terms ORDER BY tt
    """,
)
def nelson_aalen_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve of time-to-second-order
    (pooled, single-order customers censored at the horizon) — the
    HAZARD-scale companion of survival_km's probability curve and
    log_rank's test: H(t) = Σ d_i/n_i is the additive estimator, so
    differences/slopes of this curve ARE reorder intensities ("the
    weekly reorder hazard doubles after day 60" is a statement KM
    can't make additively), and its Poisson-style variance Σd/n² is
    emitted beside it.

    Exactness: event times are integer days on the bounded gap grain;
    risk sets are exact integers from an exclusive-cumulative window
    (no marker device needed — pooled means censorings and events at
    the same t share one grain row); each per-time hazard and variance
    term is ONE single-term micro/nano quantization before the
    cumulative integer sums.

    Scale: orders reduce to (customer, distinct day), then to one
    (time, count, events) row per distinct gap — everything after
    runs on the ≤~2500-row calendar-bounded grain.
    """
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).distinct()
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("mx"))
    per = od.groupBy("o_custkey").agg(
        F.sort_array(F.collect_set("d")).alias("ds")
    )
    su = per.crossJoin(F.broadcast(anchor)).select(
        F.when(
            F.size("ds") >= 2,
            F.datediff(F.element_at("ds", 2), F.element_at("ds", 1)),
        )
        .otherwise(F.datediff(F.col("mx"), F.element_at("ds", 1)))
        .alias("tt"),
        (F.size("ds") >= 2).cast("int").alias("ev"),
    )
    vg = su.groupBy("tt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
    )
    wprev = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "tt",
        "c_all",
        "c_ev",
        F.coalesce(F.sum("c_all").over(wprev), F.lit(0))
        .cast("bigint")
        .alias("before_t"),
        F.sum("c_all").over(wall).cast("bigint").alias("nn"),
    )
    terms = cum.filter(F.col("c_ev") > 0).select(
        "tt",
        "c_ev",
        (F.col("nn") - F.col("before_t")).alias("n_at"),
        F.expr(
            "CAST(round(CAST(c_ev AS DOUBLE)"
            " / CAST(nn - before_t AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("h_micro"),
        F.expr(
            "CAST(round(CAST(c_ev AS DOUBLE)"
            " / (CAST(nn - before_t AS DOUBLE)"
            "    * CAST(nn - before_t AS DOUBLE)) * 1000000000E0, 0)"
            " AS BIGINT)"
        ).alias("v_nano"),
    )
    wc = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("tt").alias("t_days"),
        "n_at",
        F.col("c_ev").alias("d_events"),
        F.sum("h_micro").over(wc).cast("bigint").alias("na_cumhaz_micro"),
        F.sum("v_nano").over(wc).cast("bigint").alias("na_var_nano"),
    ).orderBy("t_days")


#: Granger building blocks — centered cross-products as ONE shared
#: token stream over the one-row integer sufficient statistics.
_GC = {
    "A11": "(CAST(n AS DOUBLE) * CAST(syl2 AS DOUBLE)"
    " - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE))",
    "A12": "(CAST(n AS DOUBLE) * CAST(sylcl AS DOUBLE)"
    " - CAST(syl AS DOUBLE) * CAST(scl AS DOUBLE))",
    "A22": "(CAST(n AS DOUBLE) * CAST(scl2 AS DOUBLE)"
    " - CAST(scl AS DOUBLE) * CAST(scl AS DOUBLE))",
    "B1": "(CAST(n AS DOUBLE) * CAST(syyl AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(syl AS DOUBLE))",
    "B2": "(CAST(n AS DOUBLE) * CAST(sycl AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(scl AS DOUBLE))",
    "SYYC": "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))",
}
_GC_DET = f"({_GC['A11']} * {_GC['A22']} - {_GC['A12']} * {_GC['A12']})"
_GC_REGSS = (
    f"(({_GC['B1']} * ({_GC['A22']} * {_GC['B1']}"
    f" - {_GC['A12']} * {_GC['B2']})"
    f" + {_GC['B2']} * ({_GC['A11']} * {_GC['B2']}"
    f" - {_GC['A12']} * {_GC['B1']})) / {_GC_DET})"
)
_GC_RSSU = f"({_GC['SYYC']} - {_GC_REGSS})"
_GC_RSSR = f"({_GC['SYYC']} - {_GC['B1']} * {_GC['B1']} / {_GC['A11']})"
_GC_F = (
    f"(({_GC_RSSR} - {_GC_RSSU}) * (CAST(n AS DOUBLE) - 3E0) / {_GC_RSSU})"
)
_GC_BETA2 = (
    f"(({_GC['A11']} * {_GC['B2']} - {_GC['A12']} * {_GC['B1']}) / {_GC_DET})"
)


@register(
    "granger_orders_to_revenue",
    oracle=_DAILY_1K_CTE.replace(
        "CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))",
        "CAST(COUNT(*) AS BIGINT) AS c,"
        " CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))",
    ).replace(
        "SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily",
        "SELECT row_number() OVER (ORDER BY day) - 1 AS t, x, c FROM daily",
    )
    + f"""
    , l AS (
      SELECT x AS y,
             lag(x) OVER (ORDER BY t) AS yl,
             lag(c) OVER (ORDER BY t) AS cl
      FROM t),
    lf AS (SELECT y, yl, cl FROM l WHERE yl IS NOT NULL),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(yl) AS HUGEINT) AS syl,
             CAST(SUM(cl) AS HUGEINT) AS scl,
             CAST(SUM(CAST(y AS HUGEINT) * yl) AS HUGEINT) AS syyl,
             CAST(SUM(CAST(y AS HUGEINT) * cl) AS HUGEINT) AS sycl,
             CAST(SUM(CAST(yl AS HUGEINT) * yl) AS HUGEINT) AS syl2,
             CAST(SUM(CAST(cl AS HUGEINT) * cl) AS HUGEINT) AS scl2,
             CAST(SUM(CAST(yl AS HUGEINT) * cl) AS HUGEINT) AS sylcl,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM lf)
    SELECT n AS n_days_used,
           CAST(round({_GC_F} * 1000000E0, 0) AS BIGINT) AS f_micro,
           CAST(round({_GC_BETA2} * 1000000E0, 0) AS BIGINT)
             AS beta_orders_micro
    FROM s
    """,
)
def granger_orders_to_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger non-causality test (one lag): does YESTERDAY'S ORDER
    COUNT predict today's revenue beyond yesterday's revenue? F(1, n−3)
    compares the restricted AR(1) against the model with the lagged
    count added; beta_orders is the incremental $1k-per-order
    coefficient. This is the volume-leads-value question behind
    volume_value_divergence, asked with actual temporal inference —
    F ≈ 0 here (iid synthetic days) is the honest verdict; the op is
    the monitor a demand-forecast pipeline installs on every candidate
    leading indicator.

    Exactness: the day series carries BOTH the $1k revenue tick and
    the order count; the ten sufficient sums over the lag-aligned rows
    are exact HUGEINT/decimal128 integers; the 2-regressor normal
    equations are solved in closed form — centered cross-products,
    determinant, regression SS, both RSS, F, β — as ONE shared
    fixed-order token stream (the Cramer's-rule device; no distributed
    double arithmetic anywhere).

    Scale: day-grain reduction, one ordered lag window (the ACF-family
    exception), a 1-row sufficient-statistic output.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.round(
                F.sum(cents("o_totalprice")).cast("double") / 100000, 0
            )
            .cast("bigint")
            .alias("x"),
        )
        .localCheckpoint()
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        "x",
        "c",
    )
    w = Window.orderBy("t")
    lf = (
        t.select(
            F.col("x").alias("y"),
            F.lag("x").over(w).alias("yl"),
            F.lag("c").over(w).alias("cl"),
        )
        .filter(F.col("yl").isNotNull())
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = lf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("yl").cast("decimal(38,0)").alias("syl"),
        F.sum("cl").cast("decimal(38,0)").alias("scl"),
        F.sum(dec("y") * dec("yl")).cast("decimal(38,0)").alias("syyl"),
        F.sum(dec("y") * dec("cl")).cast("decimal(38,0)").alias("sycl"),
        F.sum(dec("yl") * dec("yl")).cast("decimal(38,0)").alias("syl2"),
        F.sum(dec("cl") * dec("cl")).cast("decimal(38,0)").alias("scl2"),
        F.sum(dec("yl") * dec("cl")).cast("decimal(38,0)").alias("sylcl"),
        F.sum(dec("y") * dec("y")).cast("decimal(38,0)").alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_days_used"),
        F.expr(
            f"CAST(round({_GC_F} * 1000000E0, 0) AS BIGINT)"
        ).alias("f_micro"),
        F.expr(
            f"CAST(round({_GC_BETA2} * 1000000E0, 0) AS BIGINT)"
        ).alias("beta_orders_micro"),
    )


@register(
    "cusumsq_variance_break_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (SELECT t.t, {{resid}} AS eu FROM t, g),
    y AS (
      SELECT t, CAST(row_number() OVER (ORDER BY t) AS HUGEINT) AS i,
             CAST(CAST(eu AS HUGEINT) * eu AS HUGEINT) AS y2
      FROM e),
    c AS (
      SELECT t, i, SUM(y2) OVER (ORDER BY t) AS s_t,
             SUM(y2) OVER () AS tot,
             CAST((SELECT n FROM g) AS HUGEINT) AS n
      FROM y),
    d AS (
      SELECT t, i, abs(s_t * n - tot * i) AS dev, tot, n FROM c),
    m AS (SELECT MAX(dev) AS mx FROM d)
    SELECT (SELECT CAST(n AS BIGINT) FROM g) AS n_days,
           (SELECT MIN(t) FROM d, m WHERE d.dev = m.mx) AS break_t,
           CAST(round(CAST((SELECT mx FROM m) AS DOUBLE)
             / (CAST((SELECT tot FROM c LIMIT 1) AS DOUBLE)
                * CAST((SELECT n FROM g) AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS cusumsq_micro
    """.format(resid=_BP_RESID),
)
def cusumsq_variance_break_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares variance-stability scan on the daily-revenue
    OLS residuals: max_t |Σ_{≤t}e²/Σe² − t/n| — WHERE the noise level
    breaks, completing the variance triptych (breusch_pagan asks "does
    variance TREND with time", page_hinkley watches the MEAN, this
    locates a variance REGIME SHIFT at a specific day index). The
    Brown-Durbin-Evans 5% band is ~0.948/√n: compare cusumsq against
    it before trusting one σ across the series.

    Exactness: unit-grain residuals (the BP device, shared text);
    squares and both cumulative/total sums are exact HUGEINT/
    decimal128; the deviation |S_t·n − T·t| is an exact integer
    cross-multiplication, so the max and its arg are integer
    comparisons — only the final normalization is one mirrored double.

    Scale: day-grain reduction; one ordered window (ACF-family
    exception); integer max + one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t", F.expr(_BP_RESID).alias("eu")
    )
    eud = F.col("eu").cast("decimal(19,0)")
    wo = Window.orderBy("t")
    y = e.select(
        "t",
        F.row_number().over(wo).cast("decimal(19,0)").alias("i"),
        (eud * eud).cast("decimal(38,0)").alias("y2"),
    )
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = y.select(
        "t",
        "i",
        F.sum("y2").over(wc).cast("decimal(38,0)").alias("s_t"),
        F.sum("y2").over(wall).cast("decimal(38,0)").alias("tot"),
    ).crossJoin(F.broadcast(g.select(F.col("n").cast("decimal(19,0)").alias("nd"))))
    d = c.select(
        "t",
        F.abs(
            F.col("s_t") * F.col("nd") - F.col("tot") * F.col("i")
        ).alias("dev"),
        "tot",
        "nd",
    ).localCheckpoint()  # day grain; read by max AND argmin legs
    m = d.agg(F.max("dev").alias("mx"))
    brk = d.join(F.broadcast(m), d.dev == m.mx).agg(
        F.min("t").alias("break_t")
    )
    stat = d.limit(1).crossJoin(F.broadcast(m)).select(
        F.expr(
            "CAST(round(CAST(mx AS DOUBLE)"
            " / (CAST(tot AS DOUBLE) * CAST(nd AS DOUBLE))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("cusumsq_micro")
    )
    return (
        g.select(F.col("n").alias("n_days"))
        .crossJoin(F.broadcast(brk))
        .crossJoin(F.broadcast(stat))
    )


@register(
    "anderson_darling_two_sample",
    oracle=_TWO_SAMPLE_CTE
    + """
    , ad AS (
      SELECT CAST(SUM(
        CAST(round(CAST(ca + cb AS DOUBLE)
          * CAST(CAST(cum_a AS HUGEINT) * (n1 + n2)
                 - CAST(n1 AS HUGEINT) * (cum_a + cum_b) AS DOUBLE)
          * CAST(CAST(cum_a AS HUGEINT) * (n1 + n2)
                 - CAST(n1 AS HUGEINT) * (cum_a + cum_b) AS DOUBLE)
          / (CAST(cum_a + cum_b AS DOUBLE)
             * CAST((n1 + n2) - (cum_a + cum_b) AS DOUBLE))
          * 1000E0, 0) AS BIGINT)) AS HUGEINT) AS s_milli
      FROM c, t WHERE cum_a + cum_b < n1 + n2)
    SELECT n1, n2,
           CAST(round(CAST(s_milli AS DOUBLE) / 1000E0
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS ad_a2_micro
    FROM ad, t
    """,
)
def anderson_darling_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling A² on the same urgent-vs-low order
    values as ks/cramer_von_mises — the third lens of the ECDF-gap
    family: KS takes the sup, CvM integrates the squared gap uniformly,
    AD integrates it with weight 1/(F(1−F)), which blows up at the
    TAILS — the test that fires when the distributions differ in the
    extremes (exactly where revenue risk lives and where KS is at its
    blindest). Tie-grouped right-continuous variant (the discrete
    analogue: one term per distinct value, weighted by its pooled
    count), which is the well-defined A² on integer cents.

    Exactness: rides the shared bucketed ECDF scaffold; the gap
    M·N − n₁·B is an exact integer cross-product on HUGEINT/decimal128;
    each value's weighted term quantizes to MILLI before the
    distributed sum (per-term device — the weight makes terms
    fractional), and the normalization is one mirrored expression.

    Scale: same no-global-sort scaffold as KS/CvM; one extra
    aggregate column.
    """
    pv = _two_sample_per_value(spark, sf_dir)
    gap = (
        F.col("cum_a").cast("decimal(19,0)")
        * (F.col("n1") + F.col("n2")).cast("decimal(19,0)")
        - F.col("n1").cast("decimal(19,0)")
        * (F.col("cum_a") + F.col("cum_b")).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    term = F.expr(
        "CAST(round(CAST(ca + cb AS DOUBLE)"
        " * CAST(gap AS DOUBLE) * CAST(gap AS DOUBLE)"
        " / (CAST(cum_a + cum_b AS DOUBLE)"
        "    * CAST((n1 + n2) - (cum_a + cum_b) AS DOUBLE))"
        " * 1000E0, 0) AS BIGINT)"
    )
    s = (
        pv.withColumn("gap", gap)
        .filter(F.col("cum_a") + F.col("cum_b") < F.col("n1") + F.col("n2"))
        .groupBy("n1", "n2")
        .agg(F.sum(term).cast("decimal(38,0)").alias("s_milli"))
    )
    return s.select(
        "n1",
        "n2",
        F.expr(
            "CAST(round(CAST(s_milli AS DOUBLE) / 1000E0"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("ad_a2_micro"),
    )


#: Partial-correlation Pearson blocks over the one-row sufficient sums
#: — rxy etc. as ONE shared token stream.
def _pc_r(a: str, b: str) -> str:
    return (
        f"((CAST(n AS DOUBLE) * CAST(s{a}{b} AS DOUBLE)"
        f" - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        f" / (sqrt(CAST(n AS DOUBLE) * CAST(s{a}{a} AS DOUBLE)"
        f"      - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        f"    * sqrt(CAST(n AS DOUBLE) * CAST(s{b}{b} AS DOUBLE)"
        f"       - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE))))"
    )


_PC_RXY, _PC_RXZ, _PC_RYZ = _pc_r("x", "y"), _pc_r("x", "z"), _pc_r("y", "z")
_PC_PARTIAL = (
    f"(({_PC_RXY} - {_PC_RXZ} * {_PC_RYZ})"
    f" / sqrt((1E0 - {_PC_RXZ} * {_PC_RXZ})"
    f"        * (1E0 - {_PC_RYZ} * {_PC_RYZ})))"
)


@register(
    "partial_corr_value_delay_lines",
    oracle=f"""
    WITH per AS (
      SELECT l.l_orderkey,
             CAST(round(MAX(o.o_totalprice) * 100, 0) AS BIGINT) AS x,
             CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE))) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS z
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(z) AS HUGEINT) AS sz,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
             CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
      FROM per)
    SELECT n AS n_orders,
           CAST(round({_PC_RXY} * 1000000E0, 0) AS BIGINT) AS r_xy_micro,
           CAST(round({_PC_PARTIAL} * 1000000E0, 0) AS BIGINT)
             AS r_xy_given_z_micro
    FROM s
    """,
)
def partial_corr_value_delay_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of order VALUE and worst SHIP DELAY
    controlling for LINE COUNT: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)
    (1−r_yz²)) — the "is big-order slowness just more-lines slowness?"
    question. Raw r_xy conflates the mechanical path (more lines → more
    value AND a higher max-delay order statistic) with a real
    value-priority effect; the partial removes the line-count channel
    and is emitted beside the raw r for the comparison.

    Exactness: one order-grain reduction carries all three variables;
    the ten sufficient sums are exact HUGEINT/decimal128 integers; all
    three Pearsons and the partial are ONE shared fixed-order token
    stream over the one-row sums.

    Scale: fact join reduces to order grain in one pass, then to one
    sufficient-statistic row. Nothing SF-linear after the reduction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.max(cents("o_totalprice")).cast("bigint").alias("x"),
            F.max(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("bigint")
            .alias("y"),
            F.count(F.lit(1)).cast("bigint").alias("z"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("z").cast("decimal(38,0)").alias("sz"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * dec("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(dec("z") * dec("z")).cast("decimal(38,0)").alias("szz"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * dec("z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(dec("y") * dec("z")).cast("decimal(38,0)").alias("syz"),
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.expr(
            f"CAST(round({_PC_RXY} * 1000000E0, 0) AS BIGINT)"
        ).alias("r_xy_micro"),
        F.expr(
            f"CAST(round({_PC_PARTIAL} * 1000000E0, 0) AS BIGINT)"
        ).alias("r_xy_given_z_micro"),
    )


#: GPD method-of-moments blocks over (ne, se, se2) — m̄ = Σe/n,
#: s² = Σe²/n − m̄² (population), ratio q = m̄²/s², then
#: ξ = (1 − q)/2 and σ = m̄(q + 1)/2 — ONE shared token stream.
_GPD_M = "(CAST(se AS DOUBLE) / CAST(ne AS DOUBLE))"
_GPD_S2 = (
    f"(CAST(se2 AS DOUBLE) / CAST(ne AS DOUBLE) - {_GPD_M} * {_GPD_M})"
)
_GPD_Q = f"({_GPD_M} * {_GPD_M} / {_GPD_S2})"
_GPD_XI = f"((1E0 - {_GPD_Q}) / 2E0)"
_GPD_SIGMA = f"({_GPD_M} * ({_GPD_Q} + 1E0) / 2E0)"


@register(
    "gpd_tail_fit_daily",
    oracle=_DAILY_1K_CTE
    + """
    , vg AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
      FROM vg),
    u AS (
      SELECT MIN(v) AS u FROM cum
      WHERE cum >= CAST(ceil(0.95E0 * n) AS BIGINT)),
    exc AS (SELECT t.x - u.u AS e FROM t, u WHERE t.x > u.u),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ne,
             CAST(SUM(e) AS HUGEINT) AS se,
             CAST(SUM(CAST(e AS HUGEINT) * e) AS HUGEINT) AS se2
      FROM exc)
    SELECT (SELECT u FROM u) AS threshold_1k, ne AS n_exceedances,
           CAST(round({xi} * 1000000E0, 0) AS BIGINT) AS gpd_xi_micro,
           CAST(round({sigma} * 1000E0, 0) AS BIGINT) AS gpd_sigma_milli
    FROM s
    """.format(xi=_GPD_XI, sigma=_GPD_SIGMA),
)
def gpd_tail_fit_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold GPD fit (method of moments) to daily
    revenue exceedances over the exact P95 — the SECOND extreme-value
    lens beside gumbel_block_maxima: block maxima throw away all but
    one point per block, POT keeps EVERY tail event, so its ξ (tail
    index) stabilizes with ~5× fewer days of history. ξ < 0 bounds the
    tail (capacity planning can use a hard ceiling); ξ > 0 is the
    heavy-tail alarm under which mean-based provisioning fails.

    Exactness: the threshold is the exact integer value-grain ECDF cut
    (min v with cum ≥ ⌈0.95n⌉ — no percentile interpolation);
    exceedances are exact integers; (n, Σe, Σe²) ride
    HUGEINT/decimal128; ξ and σ are ONE shared fixed-order token
    stream over the one-row sums.

    Scale: day-grain reduction; the ECDF cut is a window over ≤
    ~2500 distinct daily values; one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    vg = t.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "v",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    u = cum.filter(
        F.col("cum") >= F.expr("CAST(ceil(0.95E0 * n) AS BIGINT)")
    ).agg(F.min("v").alias("u"))
    exc = t.crossJoin(F.broadcast(u)).filter(F.col("x") > F.col("u")).select(
        (F.col("x") - F.col("u")).alias("e")
    )
    ed = F.col("e").cast("decimal(19,0)")
    s = exc.agg(
        F.count(F.lit(1)).cast("bigint").alias("ne"),
        F.sum("e").cast("decimal(38,0)").alias("se"),
        F.sum(ed * ed).cast("decimal(38,0)").alias("se2"),
    )
    return s.crossJoin(F.broadcast(u)).select(
        F.col("u").alias("threshold_1k"),
        F.col("ne").alias("n_exceedances"),
        F.expr(
            f"CAST(round({_GPD_XI} * 1000000E0, 0) AS BIGINT)"
        ).alias("gpd_xi_micro"),
        F.expr(
            f"CAST(round({_GPD_SIGMA} * 1000E0, 0) AS BIGINT)"
        ).alias("gpd_sigma_milli"),
    )


#: Distance-correlation final expressions over the one-row exact sums
#: (n, s1xy, s1xx, s1yy, sx, sy, s3xy, s3xx, s3yy) — V-statistic form
#: dCov² = S1/n² + SxSy/n⁴ − 2S3/n³, shared token streams.
def _dc_cov(s1: str, p1: str, p2: str, s3: str) -> str:
    return (
        f"(CAST({s1} AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"
        f" + CAST({p1} AS DOUBLE) * CAST({p2} AS DOUBLE)"
        f"   / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"
        f"   / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)"
        f" - 2E0 * CAST({s3} AS DOUBLE) / CAST(n AS DOUBLE)"
        f"   / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))"
    )


_DC_COV2 = _dc_cov("s1xy", "sx", "sy", "s3xy")
_DC_VARX = _dc_cov("s1xx", "sx", "sx", "s3xx")
_DC_VARY = _dc_cov("s1yy", "sy", "sy", "s3yy")
_DC_DCOR = (
    f"(sqrt(GREATEST({_DC_COV2}, 0E0))"
    f" / sqrt(sqrt({_DC_VARX} * {_DC_VARY})))"
)


@register(
    "distance_correlation_delay_value",
    oracle=f"""
    WITH d AS (
      SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
               CAST(l.l_shipdate AS DATE)) // 14 AS BIGINT) AS dx,
             CAST(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
               // 1000000 AS BIGINT) AS dy
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate),
    g AS (SELECT dx, dy, CAST(COUNT(*) AS HUGEINT) AS w FROM d
          GROUP BY 1, 2),
    rowa AS (
      SELECT a.dx, a.dy, a.w,
             CAST(SUM(b.w * abs(a.dx - b.dx) * abs(a.dy - b.dy))
               AS HUGEINT) AS axy,
             CAST(SUM(b.w * abs(a.dx - b.dx)) AS HUGEINT) AS ax,
             CAST(SUM(b.w * abs(a.dy - b.dy)) AS HUGEINT) AS ay,
             CAST(SUM(b.w * abs(a.dx - b.dx) * abs(a.dx - b.dx))
               AS HUGEINT) AS axx,
             CAST(SUM(b.w * abs(a.dy - b.dy) * abs(a.dy - b.dy))
               AS HUGEINT) AS ayy
      FROM g a JOIN g b ON TRUE GROUP BY 1, 2, 3),
    s AS (
      SELECT CAST(SUM(w) AS HUGEINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS cells,
             CAST(SUM(w * axy) AS HUGEINT) AS s1xy,
             CAST(SUM(w * axx) AS HUGEINT) AS s1xx,
             CAST(SUM(w * ayy) AS HUGEINT) AS s1yy,
             CAST(SUM(w * ax) AS HUGEINT) AS sx,
             CAST(SUM(w * ay) AS HUGEINT) AS sy,
             CAST(SUM(w * ax * ay) AS HUGEINT) AS s3xy,
             CAST(SUM(w * ax * ax) AS HUGEINT) AS s3xx,
             CAST(SUM(w * ay * ay) AS HUGEINT) AS s3yy
      FROM rowa)
    SELECT CAST(n AS BIGINT) AS n_lines, cells AS n_cells,
           CAST(round({_DC_DCOR} * 1000000E0, 0) AS BIGINT)
             AS dcor_micro,
           CAST(round({_DC_COV2} * 1000000E0, 0) AS BIGINT)
             AS dcov2_micro
    FROM s
    """,
)
def distance_correlation_delay_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely distance correlation between ship delay (2-week
    buckets) and order value ($10k bands): dCor = 0 iff the two are
    INDEPENDENT — the test that catches U-shaped, threshold, and
    heteroscedastic dependence that Pearson/Spearman/partial_corr all
    read as ≈ 0. The pairing closes the dependence toolkit: linear
    (corr), monotone (spearman), any-shape (this). V-statistic
    (population) form.

    Exactness: the joint distribution lives on a BOUNDED bucket grid
    (≤ ~180×60 cells at ANY SF — delay spans the calendar, value is
    banded); all nine sufficient sums — pair products w·w′·|Δx|ᵖ·|Δy|ᵠ
    and the row-conditional a(x), b(y) moments — are exact integers on
    HUGEINT/decimal128 (S3 ~ n³·|Δ|² crosses into decimal38 territory
    around SF≈1e4; documented bound); dCov²/dVar/dCor are ONE shared
    fixed-order token stream.

    Scale: fact join reduces to the bucket grid in one pass; the
    grid×grid product (≤ ~25M bounded pair rows, SF-independent)
    broadcasts the grid against itself and reduces per a-side row —
    one shuffle-free nested-loop stage, then a 1-row aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.expr(
                "CAST(datediff(CAST(l_shipdate AS DATE),"
                " CAST(o_orderdate AS DATE)) DIV 14 AS BIGINT)"
            ).alias("dx"),
            (cents("o_totalprice") / F.lit(1000000))
            .cast("bigint")
            .alias("dy"),
        )
    )
    g = (
        d.groupBy("dx", "dy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .localCheckpoint()  # bounded grid; both sides of the pair pass
        .repartition(32)  # spread the grid×grid pass over the cores
    )
    b = g.select(
        F.col("dx").alias("bx"), F.col("dy").alias("by"),
        F.col("w").alias("bw"),
    )
    # The pair stage stays in whole-stage-codegen int64: bw·|Δx|·|Δy| ≤
    # w·(180·60) and the per-row sums ≤ n·10800 — inside int64 through
    # SF ≈ 1e8, far past the decimal bound of the FINAL 1-row stage.
    adx = F.abs(F.col("dx") - F.col("bx"))
    ady = F.abs(F.col("dy") - F.col("by"))
    rowa = (
        g.crossJoin(F.broadcast(b))
        .groupBy("dx", "dy", "w")
        .agg(
            F.sum(F.col("bw") * adx * ady).cast("bigint").alias("axy"),
            F.sum(F.col("bw") * adx).cast("bigint").alias("ax"),
            F.sum(F.col("bw") * ady).cast("bigint").alias("ay"),
            F.sum(F.col("bw") * adx * adx).cast("bigint").alias("axx"),
            F.sum(F.col("bw") * ady * ady).cast("bigint").alias("ayy"),
        )
    )
    wd = F.col("w").cast("decimal(19,0)")
    s = rowa.agg(
        F.sum("w").cast("decimal(38,0)").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("cells"),
        F.sum(wd * F.col("axy").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s1xy"),
        F.sum(wd * F.col("axx").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s1xx"),
        F.sum(wd * F.col("ayy").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s1yy"),
        F.sum(wd * F.col("ax").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(wd * F.col("ay").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(
            wd
            * F.col("ax").cast("decimal(19,0)")
            * F.col("ay").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s3xy"),
        F.sum(
            wd
            * F.col("ax").cast("decimal(19,0)")
            * F.col("ax").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s3xx"),
        F.sum(
            wd
            * F.col("ay").cast("decimal(19,0)")
            * F.col("ay").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s3yy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("cells").alias("n_cells"),
        F.expr(
            f"CAST(round({_DC_DCOR} * 1000000E0, 0) AS BIGINT)"
        ).alias("dcor_micro"),
        F.expr(
            f"CAST(round({_DC_COV2} * 1000000E0, 0) AS BIGINT)"
        ).alias("dcov2_micro"),
    )


@register(
    "diebold_mariano_naive_vs_ols",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (SELECT t.t, t.x, {{resid}} AS eu FROM t, g),
    ld AS (
      SELECT t, abs(x - lag(x, 7) OVER (ORDER BY t)) - abs(eu) AS d
      FROM e),
    df AS (SELECT t, d FROM ld WHERE d IS NOT NULL),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(d) AS HUGEINT) AS s1 FROM df),
    ee AS (SELECT t, CAST(m.m AS HUGEINT) * df.d - m.s1 AS e
           FROM df, m),
    l AS (
      SELECT e,
             lead(e, 1) OVER (ORDER BY t) AS e1,
             lead(e, 2) OVER (ORDER BY t) AS e2,
             lead(e, 3) OVER (ORDER BY t) AS e3,
             lead(e, 4) OVER (ORDER BY t) AS e4,
             lead(e, 5) OVER (ORDER BY t) AS e5,
             lead(e, 6) OVER (ORDER BY t) AS e6,
             lead(e, 7) OVER (ORDER BY t) AS e7
      FROM ee),
    s AS (
      SELECT CAST(SUM(e * e) AS HUGEINT) AS g0,
             CAST(SUM(e * e1) AS HUGEINT) AS g1,
             CAST(SUM(e * e2) AS HUGEINT) AS g2,
             CAST(SUM(e * e3) AS HUGEINT) AS g3,
             CAST(SUM(e * e4) AS HUGEINT) AS g4,
             CAST(SUM(e * e5) AS HUGEINT) AS g5,
             CAST(SUM(e * e6) AS HUGEINT) AS g6,
             CAST(SUM(e * e7) AS HUGEINT) AS g7
      FROM l),
    nw AS (
      SELECT 8 * g0 + 2 * (7 * g1 + 6 * g2 + 5 * g3 + 4 * g4 + 3 * g5
               + 2 * g6 + 1 * g7) AS nw8
      FROM s)
    SELECT m.m AS n_days_used,
           CAST(round(CAST(s1 AS DOUBLE) / CAST(m.m AS DOUBLE) * 1000E0, 0)
             AS BIGINT) AS mean_loss_diff_milli,
           CAST(round(CAST(s1 AS DOUBLE) / CAST(m.m AS DOUBLE)
             / sqrt(CAST(nw8 AS DOUBLE) / 8E0 / CAST(m.m AS DOUBLE)
                 / CAST(m.m AS DOUBLE) / CAST(m.m AS DOUBLE)
                 / CAST(m.m AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS dm_micro
    FROM nw, m
    """.format(resid=_BP_RESID),
)
def diebold_mariano_naive_vs_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano forecast-comparison test between the two
    forecasters already in the registry — seasonal-naive (x_{t−7}) vs
    the OLS trend line — on ABSOLUTE-error loss with an L = 7 Bartlett
    HAC variance: DM ≈ 18 says the trend line beats weekly persistence
    decisively ON THIS SERIES, with autocorrelation-robust inference
    (seasonal_naive_mape and trend_forecast_linreg each score
    themselves; DM is the referee between them, the missing piece of
    the forecasting suite). MAE loss keeps the loss differential
    SF-LINEAR, so the HAC squares stay inside decimal128 to SF ≈ 1e8
    (MSE loss would die at SF ≈ 170 — documented design choice).

    Exactness: both error series are exact integers (the lag-7
    difference directly; the OLS residual via the shared unit-grain
    device); d is integer; the n-scaled demeaning + eight HUGEINT
    autocovariances reuse the newey_west machinery verbatim; mean and
    DM are ONE mirrored expression.

    Scale: day-grain reduction, two ordered windows (ACF-family
    exception), one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t", "x", F.expr(_BP_RESID).alias("eu")
    )
    wo = Window.orderBy("t")
    df = (
        e.select(
            "t",
            (
                F.abs(F.col("x") - F.lag("x", 7).over(wo)) - F.abs("eu")
            ).alias("d"),
        )
        .filter(F.col("d").isNotNull())
        .localCheckpoint()  # day grain; read by m AND the lag pass
    )
    m = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("d").cast("decimal(38,0)").alias("s1"),
    )
    ee = df.crossJoin(F.broadcast(m)).select(
        "t",
        (
            F.col("m").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)")
            - F.col("s1")
        )
        .cast("decimal(19,0)")
        .alias("e"),
    )
    l = ee.select(
        "e", *[F.lead("e", k).over(wo).alias(f"e{k}") for k in range(1, 8)]
    )
    s = l.agg(
        F.sum(F.col("e") * F.col("e")).cast("decimal(38,0)").alias("g0"),
        *[
            F.sum(F.col("e") * F.col(f"e{k}"))
            .cast("decimal(38,0)")
            .alias(f"g{k}")
            for k in range(1, 8)
        ],
    )
    two = F.lit(2).cast("decimal(19,0)")
    nw = s.select(
        (
            F.lit(8).cast("decimal(19,0)") * F.col("g0")
            + two
            * (
                F.lit(7).cast("decimal(19,0)") * F.col("g1")
                + F.lit(6).cast("decimal(19,0)") * F.col("g2")
                + F.lit(5).cast("decimal(19,0)") * F.col("g3")
                + F.lit(4).cast("decimal(19,0)") * F.col("g4")
                + F.lit(3).cast("decimal(19,0)") * F.col("g5")
                + two * F.col("g6")
                + F.lit(1).cast("decimal(19,0)") * F.col("g7")
            )
        )
        .cast("decimal(38,0)")
        .alias("nw8")
    )
    return nw.crossJoin(F.broadcast(m)).select(
        F.col("m").alias("n_days_used"),
        F.expr(
            "CAST(round(CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)"
            " * 1000E0, 0) AS BIGINT)"
        ).alias("mean_loss_diff_milli"),
        F.expr(
            "CAST(round(CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)"
            " / sqrt(CAST(nw8 AS DOUBLE) / 8E0 / CAST(m AS DOUBLE)"
            "     / CAST(m AS DOUBLE) / CAST(m AS DOUBLE)"
            "     / CAST(m AS DOUBLE)) * 1000000E0, 0) AS BIGINT)"
        ).alias("dm_micro"),
    )


@register(
    "pettitt_changepoint_daily",
    oracle=_DAILY_1K_CTE
    + """
    , vg AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
    mr AS (
      SELECT v, CAST(2 * SUM(c) OVER (ORDER BY v) - c + 1 AS BIGINT)
               AS r2
      FROM vg),
    rt AS (
      SELECT t.t, mr.r2 FROM t JOIN mr ON t.x = mr.v),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    u AS (
      SELECT rt.t,
             CAST(SUM(r2) OVER (ORDER BY rt.t) - (rt.t + 1) * (n + 1)
               AS BIGINT) AS ut
      FROM rt, nn),
    k AS (
      SELECT MAX(abs(ut)) AS k FROM u, nn WHERE u.t < n - 1)
    SELECT (SELECT n FROM nn) AS n_days,
           (SELECT CAST(k AS BIGINT) FROM k) AS pettitt_k,
           (SELECT MIN(t) FROM u, k WHERE abs(ut) = k.k) AS break_t,
           CAST(round(2E0 * exp(-6E0 * CAST((SELECT k FROM k) AS DOUBLE)
               * CAST((SELECT k FROM k) AS DOUBLE)
             / (CAST((SELECT n FROM nn) AS DOUBLE)
                * CAST((SELECT n FROM nn) AS DOUBLE)
                * (CAST((SELECT n FROM nn) AS DOUBLE) + 1E0)))
             * 1000000E0, 0) AS BIGINT) AS p_approx_micro
    """,
)
def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint test on daily revenue: K =
    max_t |U_t| with U_t = 2Σ_{i≤t}R_i − t(n+1) — the nonparametric
    sibling of cusum_level_shift (CUSUM trusts the values; Pettitt
    only trusts their RANKS, so one crazy day can't fake or mask a
    level shift) and the MEAN-shift companion of cusumsq's variance
    scan. Emits the break location and the classic 2·exp(−6K²/(n³+n²))
    significance approximation.

    Exactness: midranks come off the value grain as the INTEGER
    2·cum − c + 1 (the doubled-midrank device), so U_t is an exact
    integer cumulative sum and K/argmax are integer comparisons; only
    the p-value approximation is one mirrored double expression.

    Scale: day-grain reduction; one value-grain window for midranks
    and one ordered cumsum (ACF-family exception); one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    vg = t.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    mr = vg.select(
        "v",
        (2 * F.sum("c").over(wv) - F.col("c") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    nn = t.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    u = (
        t.join(mr, t.x == mr.v)
        .crossJoin(F.broadcast(nn))
        .select(
            "t",
            "n",
            (
                F.sum("r2").over(wt) - (F.col("t") + 1) * (F.col("n") + 1)
            )
            .cast("bigint")
            .alias("ut"),
        )
        .localCheckpoint()  # day grain; read by max AND argmax
    )
    k = u.filter(F.col("t") < F.col("n") - 1).agg(
        F.max(F.abs("ut")).cast("bigint").alias("k")
    )
    brk = u.join(F.broadcast(k), F.abs(F.col("ut")) == F.col("k")).agg(
        F.min("t").alias("break_t")
    )
    return (
        nn.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(brk))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("pettitt_k"),
            "break_t",
            F.expr(
                "CAST(round(2E0 * exp(-6E0 * CAST(k AS DOUBLE)"
                " * CAST(k AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                "    * (CAST(n AS DOUBLE) + 1E0))) * 1000000E0, 0)"
                " AS BIGINT)"
            ).alias("p_approx_micro"),
        )
    )


@register(
    "seasonal_mann_kendall_dow",
    oracle=_DAILY_1K_CTE.replace(
        "SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily",
        "SELECT row_number() OVER (ORDER BY day) - 1 AS t, x,"
        " CAST(dayofweek(day) + 1 AS BIGINT) AS g FROM daily",
    )
    + """
    , p AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s
      FROM t a JOIN t b ON a.g = b.g AND b.t > a.t),
    gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng FROM t GROUP BY g),
    v AS (
      SELECT CAST(SUM(ng * (ng - 1) * (2 * ng + 5)) AS HUGEINT) AS v18
      FROM gs)
    SELECT (SELECT CAST(SUM(ng) AS BIGINT) FROM gs) AS n_days,
           p.s AS smk_s,
           CAST(round((CAST(p.s AS DOUBLE)
               - CASE WHEN p.s > 0 THEN 1E0
                      WHEN p.s < 0 THEN -1E0 ELSE 0E0 END)
             / sqrt(CAST(v18 AS DOUBLE) / 18E0) * 1000000E0, 0)
             AS BIGINT) AS smk_z_micro
    FROM p, v
    """,
)
def seasonal_mann_kendall_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL Mann-Kendall on daily revenue with day-of-week strata:
    pairs are compared only WITHIN the same weekday, so the weekly
    cycle (which the plain daily MK would read as pseudo-trend noise
    and which forces mann_kendall_trend up to month grain) cancels
    exactly — the trend test that works at DAY resolution on a
    seasonal series. S = Σ_g S_g, Var = Σ_g n_g(n_g−1)(2n_g+5)/18.

    Exactness: exact integer sign algebra over the seven bounded
    within-stratum pair joins (≤ 7·(n/7)² pairs, calendar-bounded);
    the variance sum is exact HUGEINT/decimal128; z is one mirrored
    closed form. DuckDB dayofweek is 0-based — the oracle carries the
    +1 mapping (the documented engine gotcha).

    Scale: day-grain reduction, a bounded self-join partitioned by
    stratum, one-row output.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(cents("o_totalprice")).cast("double") / 100000, 0)
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint()
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        "x",
        F.dayofweek("day").cast("bigint").alias("g"),
    ).localCheckpoint()  # day grain; both sides of the stratum pairs
    a = t.select(
        F.col("g"), F.col("t").alias("ta"), F.col("x").alias("xa")
    )
    b = t.select(
        F.col("g"), F.col("t").alias("tb"), F.col("x").alias("xb")
    )
    p = (
        a.join(b, ["g"])
        .filter(F.col("tb") > F.col("ta"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    gs = t.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("ng"))
    v = gs.agg(
        F.sum(
            F.col("ng").cast("decimal(19,0)")
            * (F.col("ng") - 1).cast("decimal(19,0)")
            * (2 * F.col("ng") + 5).cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("v18"),
        F.sum("ng").cast("bigint").alias("n_days"),
    )
    return p.crossJoin(F.broadcast(v)).select(
        "n_days",
        F.col("s").alias("smk_s"),
        F.expr(
            "CAST(round((CAST(s AS DOUBLE)"
            " - CASE WHEN s > 0 THEN 1E0"
            "        WHEN s < 0 THEN -1E0 ELSE 0E0 END)"
            " / sqrt(CAST(v18 AS DOUBLE) / 18E0) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("smk_z_micro"),
    )


@register(
    "conformal_interval_naive_daily",
    oracle=_DAILY_1K_CTE
    + """
    , e AS (
      SELECT t, abs(x - lag(x, 7) OVER (ORDER BY t)) AS ae
      FROM t),
    ef AS (SELECT t, ae FROM e WHERE ae IS NOT NULL),
    cal AS (SELECT ae FROM ef WHERE t % 2 = 0),
    tst AS (SELECT ae FROM ef WHERE t % 2 = 1),
    cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    vg AS (SELECT ae AS v, CAST(COUNT(*) AS BIGINT) AS c FROM cal
           GROUP BY 1),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vg),
    q AS (
      SELECT MIN(v) AS q90 FROM cum, cn
      WHERE cum >= CAST(ceil(0.9E0 * n_cal) AS BIGINT)),
    cov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN tst.ae <= q.q90 THEN 1 ELSE 0 END)
               AS BIGINT) AS covered
      FROM tst, q)
    SELECT cn.n_cal, cov.n_test, q.q90 AS q90_width_1k,
           CAST(covered * 1000000 // n_test AS BIGINT) AS coverage_ppm
    FROM cn, q, cov
    """,
)
def conformal_interval_naive_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval around the seasonal-
    naive forecaster, with MEASURED holdout coverage: calibration days
    (even index) supply the exact integer ECDF 90th percentile of the
    absolute error; test days (odd index) report what fraction
    actually landed inside ±q90. The conformal guarantee — coverage ≥
    target regardless of the error distribution — is the one
    distribution-free promise a forecast SLA can be written against,
    and this op VERIFIES it empirically (89.5% vs 90% here) instead of
    asserting it. Deterministic parity split: no RNG, identical in
    both engines.

    Exactness: absolute errors are exact integers; the quantile is the
    integer value-grain ECDF threshold cum ≥ ⌈0.9n⌉ (no
    interpolation); coverage is an integer count and floor-ppm.

    Scale: day-grain reduction, one lag window (ACF-family
    exception), a value-grain ECDF window, one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    wo = Window.orderBy("t")
    ef = (
        t.select(
            "t",
            F.abs(F.col("x") - F.lag("x", 7).over(wo)).alias("ae"),
        )
        .filter(F.col("ae").isNotNull())
        .localCheckpoint()  # day grain; read by cal AND test legs
    )
    cal = ef.filter(F.col("t") % 2 == 0)
    tst = ef.filter(F.col("t") % 2 == 1)
    cn = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    vg = cal.groupBy(F.col("ae").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vg.select("v", F.sum("c").over(wc).alias("cum"))
    q = cum.crossJoin(F.broadcast(cn)).filter(
        F.col("cum") >= F.expr("CAST(ceil(0.9E0 * n_cal) AS BIGINT)")
    ).agg(F.min("v").alias("q90"))
    cov = tst.crossJoin(F.broadcast(q)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("ae") <= F.col("q90"), 1).otherwise(0))
        .cast("bigint")
        .alias("covered"),
    )
    return (
        cn.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal",
            "n_test",
            F.col("q90").alias("q90_width_1k"),
            F.expr(
                "CAST(covered * 1000000 DIV n_test AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


@register(
    "cluster_robust_se_nation",
    oracle="""
    WITH g AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS HUGEINT) AS s,
             CAST(SUM(CAST(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                 AS HUGEINT)
               * CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS HUGEINT) AS q
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS HUGEINT) AS nn,
             CAST(SUM(s) AS HUGEINT) AS ss,
             CAST(SUM(q) AS HUGEINT) AS qq
      FROM g),
    dev AS (
      SELECT CAST(SUM(
        CAST(round(CAST(nn * s - n * ss AS DOUBLE) / 1000000E0, 0)
          AS HUGEINT)
        * CAST(round(CAST(nn * s - n * ss AS DOUBLE) / 1000000E0, 0)
          AS HUGEINT)) AS HUGEINT) AS num_m2
      FROM g, tot)
    SELECT tot.k AS n_clusters, CAST(tot.nn AS BIGINT) AS n_orders,
           CAST(round(sqrt(CAST(tot.k AS DOUBLE)
               / (CAST(tot.k AS DOUBLE) - 1E0)
               * CAST(num_m2 AS DOUBLE)) * 1000000E0
             / CAST(tot.nn AS DOUBLE) / CAST(tot.nn AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS se_cluster_cents_micro,
           CAST(round(sqrt((CAST(qq AS DOUBLE)
                 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                   / CAST(nn AS DOUBLE))
               / (CAST(nn AS DOUBLE) - 1E0) / CAST(nn AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS se_iid_cents_micro,
           CAST(round(CAST(tot.k AS DOUBLE) / (CAST(tot.k AS DOUBLE) - 1E0)
               * CAST(num_m2 AS DOUBLE) * 1000000E0 * 1000000E0
               / CAST(tot.nn AS DOUBLE) / CAST(tot.nn AS DOUBLE)
               / CAST(tot.nn AS DOUBLE) / CAST(tot.nn AS DOUBLE)
             / ((CAST(qq AS DOUBLE)
                 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                   / CAST(nn AS DOUBLE))
                / (CAST(nn AS DOUBLE) - 1E0) / CAST(nn AS DOUBLE))
             * 1000000E0, 0) AS BIGINT) AS deff_micro
    FROM dev, tot
    """,
)
def cluster_robust_se_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-robust (CR1) standard error of the mean order value with
    NATION clusters, beside the iid SE and their ratio² (the design
    effect): if customers within a nation co-move, the iid SE is a
    fiction — this is the cross-SECTION companion of newey_west's
    time-axis HAC, closing the robust-inference pair. DEFF ≈ 1.0 here:
    nations do NOT cluster order values, so per-order CIs may use the
    cheap SE — that's a license the op grants, not an assumption.

    Exactness: per-cluster (n, Σv, Σv²) exact; the cluster deviation
    N·S_g − n_g·S is an exact integer cross-multiplication whose
    square would pass decimal128 at planet scale, so each deviation is
    quantized to the $10k tick (ONE single-term rounding per cluster,
    25 terms) before the squared sum; SEs and DEFF are mirrored
    fixed-order expressions.

    Scale: one fact scan → 25 sufficient-statistic rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    v = cents("o_totalprice")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(v).cast("decimal(38,0)").alias("s"),
            F.sum(v.cast("decimal(19,0)") * v.cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("q"),
        )
        .localCheckpoint()  # 25 rows; read by tot AND dev
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum("q").cast("decimal(38,0)").alias("qq"),
    )
    dev = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round(CAST(nn * s - n * ss AS DOUBLE)"
                " / 1000000E0, 0) AS DECIMAL(19,0))"
                " * CAST(round(CAST(nn * s - n * ss AS DOUBLE)"
                " / 1000000E0, 0) AS DECIMAL(19,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("num_m2")
    )
    return dev.crossJoin(F.broadcast(tot)).select(
        F.col("k").alias("n_clusters"),
        F.col("nn").cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(round(sqrt(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1E0)"
            " * CAST(num_m2 AS DOUBLE)) * 1000000E0"
            " / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("se_cluster_cents_micro"),
        F.expr(
            "CAST(round(sqrt((CAST(qq AS DOUBLE)"
            "   - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)"
            "     / CAST(nn AS DOUBLE))"
            " / (CAST(nn AS DOUBLE) - 1E0) / CAST(nn AS DOUBLE))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("se_iid_cents_micro"),
        F.expr(
            "CAST(round(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1E0)"
            " * CAST(num_m2 AS DOUBLE) * 1000000E0 * 1000000E0"
            " / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)"
            " / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)"
            " / ((CAST(qq AS DOUBLE)"
            "     - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)"
            "       / CAST(nn AS DOUBLE))"
            "    / (CAST(nn AS DOUBLE) - 1E0) / CAST(nn AS DOUBLE))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("deff_micro"),
    )


#: SPRT constants for urgent-rate monitoring: H0 p=0.20 vs H1 p=0.21,
#: alpha = beta = 0.05. Per-event LLR increments and the Wald
#: boundaries are INLINED micro literals (the benford device) — the
#: engines never evaluate ln() at runtime.
_SPRT_C1 = 48790  # round(ln(0.21/0.20) * 1e6)
_SPRT_C0 = -12579  # round(ln(0.79/0.80) * 1e6)
_SPRT_A = 2944439  # round(ln(0.95/0.05) * 1e6)
_SPRT_B = -2944439  # round(ln(0.05/0.95) * 1e6)


@register(
    "sprt_urgent_rate_monitor",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS u
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, n, u FROM d),
    llr AS (
      SELECT t,
             CAST(SUM(u * {_SPRT_C1} + (n - u) * ({_SPRT_C0}))
               OVER (ORDER BY t) AS BIGINT) AS llr_micro
      FROM t),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             MIN(CASE WHEN llr_micro >= {_SPRT_A} THEN t END) AS t_h1,
             MIN(CASE WHEN llr_micro <= {_SPRT_B} THEN t END) AS t_h0,
             CAST(MAX(llr_micro) AS BIGINT) AS max_llr_micro,
             CAST(MIN(llr_micro) AS BIGINT) AS min_llr_micro
      FROM llr)
    SELECT n_days, t_h1 AS t_accept_h1, t_h0 AS t_accept_h0,
           max_llr_micro, min_llr_micro,
           CASE WHEN t_h0 IS NOT NULL
                     AND (t_h1 IS NULL OR t_h0 < t_h1) THEN 'accept_h0'
                WHEN t_h1 IS NOT NULL THEN 'accept_h1'
                ELSE 'continue' END AS decision
    FROM s
    """,
)
def sprt_urgent_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trace monitoring the urgent-order rate: H₀ p = 0.20
    vs H₁ p = 0.21 at α = β = 0.05, accumulated day by day — the
    SEQUENTIAL companion of ab_test_ztest/ab_power_sample_size: a
    fixed-n test waits for its full sample; the SPRT stops THE DAY the
    evidence crosses a Wald boundary, with guaranteed error rates at
    any stopping time. On this corpus it accepts H₀ (the rate is 20%,
    not 21%) — and the crossing day ≈ 1779 is itself the honest lesson
    about how long a 5% relative lift takes to rule out.

    Exactness: the per-event LLR increments and Wald boundaries are
    INLINED micro-integer literals (the benford device — no runtime
    ln() anywhere), so the whole trace is an integer cumulative sum
    and the crossing scan is integer comparisons.

    Scale: day-grain reduction, one ordered cumsum (ACF-family
    exception), one-row output.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("u"),
    )
    t = d.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        "n",
        "u",
    )
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    llr = t.select(
        "t",
        F.sum(
            F.col("u") * F.lit(_SPRT_C1) + (F.col("n") - F.col("u")) * F.lit(_SPRT_C0)
        )
        .over(wc)
        .cast("bigint")
        .alias("llr_micro"),
    )
    s = llr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.min(
            F.when(F.col("llr_micro") >= _SPRT_A, F.col("t"))
        ).alias("t_h1"),
        F.min(
            F.when(F.col("llr_micro") <= _SPRT_B, F.col("t"))
        ).alias("t_h0"),
        F.max("llr_micro").cast("bigint").alias("max_llr_micro"),
        F.min("llr_micro").cast("bigint").alias("min_llr_micro"),
    )
    return s.select(
        "n_days",
        F.col("t_h1").alias("t_accept_h1"),
        F.col("t_h0").alias("t_accept_h0"),
        "max_llr_micro",
        "min_llr_micro",
        F.expr(
            "CASE WHEN t_h0 IS NOT NULL"
            "          AND (t_h1 IS NULL OR t_h0 < t_h1) THEN 'accept_h0'"
            " WHEN t_h1 IS NOT NULL THEN 'accept_h1'"
            " ELSE 'continue' END"
        ).alias("decision"),
    )


#: VaR backtest LR pieces over the one-row integer counts — CASE-
#: guarded so empty cells contribute their true 0 log-likelihood.
_VB_LL = (
    "(CASE WHEN {b} > 0 THEN CAST({b} AS DOUBLE)"
    " * ln(CAST({b} AS DOUBLE) / (CAST({a} AS DOUBLE)"
    "      + CAST({b} AS DOUBLE))) ELSE 0E0 END"
    " + CASE WHEN {a} > 0 THEN CAST({a} AS DOUBLE)"
    " * ln(CAST({a} AS DOUBLE) / (CAST({a} AS DOUBLE)"
    "      + CAST({b} AS DOUBLE))) ELSE 0E0 END)"
)


@register(
    "var_backtest_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    cal AS (SELECT x FROM t, nn WHERE t.t < n / 2),
    cg AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM cal
           GROUP BY 1),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS nc
      FROM cg),
    var5 AS (
      SELECT MIN(v) AS var5 FROM cum
      WHERE cum >= CAST(ceil(0.05E0 * nc) AS BIGINT)),
    tst AS (
      SELECT t.t, CASE WHEN t.x < var5.var5 THEN 1 ELSE 0 END AS viol
      FROM t, nn, var5 WHERE t.t >= n / 2),
    tr AS (
      SELECT viol, lead(viol) OVER (ORDER BY t) AS nxt FROM tst),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nt,
             CAST(SUM(viol) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN viol = 0 AND nxt = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN viol = 0 AND nxt = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN viol = 1 AND nxt = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN viol = 1 AND nxt = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n11
      FROM tr)
    SELECT (SELECT var5 FROM var5) AS var5_1k, nt AS n_test,
           n1 AS n_violations,
           CAST(round(-2E0 * (CAST(nt - n1 AS DOUBLE) * ln(0.95E0)
               + CAST(n1 AS DOUBLE) * ln(0.05E0)
               - {_VB_LL.format(a='(nt - n1)', b='n1')})
             * 1000000E0, 0) AS BIGINT) AS lr_pof_micro,
           CAST(round(-2E0 * ({_VB_LL.format(a='(n00 + n10)',
                                             b='(n01 + n11)')}
               - ({_VB_LL.format(a='n00', b='n01')}
                  + {_VB_LL.format(a='n10', b='n11')}))
             * 1000000E0, 0) AS BIGINT) AS lr_ind_micro
    FROM s
    """,
)
def var_backtest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR backtest of the 5% lower daily-revenue threshold fitted on
    the FIRST half and tested on the SECOND: Kupiec's
    proportion-of-failures LR (right violation COUNT?) and
    Christoffersen's independence LR (violations not CLUSTERED?) —
    the two certifications revenue_cvar_daily's number needs before a
    finance team can book against it. Both ≈ 0 here: the threshold
    transfers across halves and violations arrive independently.

    Exactness: the threshold is the integer value-grain ECDF cut on
    the calibration half; violations and the four Markov transition
    cells are exact integer counts; both LRs are ONE mirrored
    CASE-guarded expression (ln of data ratios appears only in the
    one-row output, with empty cells contributing their true zero
    log-likelihood).

    Scale: day-grain reduction; a value-grain ECDF window and one lag
    window (ACF-family exception); one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    nn = t.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tn = t.crossJoin(F.broadcast(nn))
    cal = tn.filter(F.col("t") < F.col("n") / 2)
    cg = cal.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cg.select(
        "v",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("nc"),
    )
    var5 = cum.filter(
        F.col("cum") >= F.expr("CAST(ceil(0.05E0 * nc) AS BIGINT)")
    ).agg(F.min("v").alias("var5"))
    tst = (
        tn.filter(F.col("t") >= F.col("n") / 2)
        .crossJoin(F.broadcast(var5))
        .select(
            "t",
            F.when(F.col("x") < F.col("var5"), 1).otherwise(0).alias("viol"),
        )
    )
    wo = Window.orderBy("t")
    tr = tst.select("viol", F.lead("viol").over(wo).alias("nxt"))
    s = tr.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("viol").cast("bigint").alias("n1"),
        F.sum(
            F.when((F.col("viol") == 0) & (F.col("nxt") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n00"),
        F.sum(
            F.when((F.col("viol") == 0) & (F.col("nxt") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n01"),
        F.sum(
            F.when((F.col("viol") == 1) & (F.col("nxt") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n10"),
        F.sum(
            F.when((F.col("viol") == 1) & (F.col("nxt") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n11"),
    )
    return s.crossJoin(F.broadcast(var5)).select(
        F.col("var5").alias("var5_1k"),
        F.col("nt").alias("n_test"),
        F.col("n1").alias("n_violations"),
        F.expr(
            f"CAST(round(-2E0 * (CAST(nt - n1 AS DOUBLE) * ln(0.95E0)"
            f" + CAST(n1 AS DOUBLE) * ln(0.05E0)"
            f" - {_VB_LL.format(a='(nt - n1)', b='n1')})"
            f" * 1000000E0, 0) AS BIGINT)"
        ).alias("lr_pof_micro"),
        F.expr(
            f"CAST(round(-2E0 * ({_VB_LL.format(a='(n00 + n10)', b='(n01 + n11)')}"
            f" - ({_VB_LL.format(a='n00', b='n01')}"
            f"    + {_VB_LL.format(a='n10', b='n11')}))"
            f" * 1000000E0, 0) AS BIGINT)"
        ).alias("lr_ind_micro"),
    )


#: Studentized-range 5% critical value q(k=5, df=inf) — inlined
#: literal (the benford device; df is ~degrees-of-millions here).
_HSD_Q_MICRO = 3858000


@register(
    "tukey_hsd_delay_priorities",
    oracle=_DELAY_GRAIN_CTE
    + f"""
    , g AS (
      SELECT pr, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(v * c) AS HUGEINT) AS s,
             CAST(SUM(CAST(v AS HUGEINT) * v * c) AS HUGEINT) AS q
      FROM c GROUP BY pr),
    pool AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(round((CAST(q AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) * 1000E0, 0) AS HUGEINT))
               AS HUGEINT) AS ssw_milli
      FROM g),
    pairs AS (
      SELECT a.pr AS pr_a, b.pr AS pr_b, a.n AS na, b.n AS nb,
             CAST(round((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
               - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) * 1000E0, 0)
               AS BIGINT) AS diff_milli
      FROM g a JOIN g b ON a.pr < b.pr)
    SELECT pr_a, pr_b, diff_milli,
           CAST(round({_HSD_Q_MICRO}E0 / 1000000E0
             * sqrt(CAST(ssw_milli AS DOUBLE) / 1000E0
                 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
               * (1E0 / CAST(na AS DOUBLE) + 1E0 / CAST(nb AS DOUBLE))
               / 2E0) * 1000E0, 0) AS BIGINT) AS hsd_halfwidth_milli,
           CASE WHEN abs(diff_milli) > CAST(round({_HSD_Q_MICRO}E0
               / 1000000E0 * sqrt(CAST(ssw_milli AS DOUBLE) / 1000E0
                 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
               * (1E0 / CAST(na AS DOUBLE) + 1E0 / CAST(nb AS DOUBLE))
               / 2E0) * 1000E0, 0) AS BIGINT)
                THEN 1 ELSE 0 END AS significant
    FROM pairs, pool ORDER BY pr_a, pr_b
    """,
)
def tukey_hsd_delay_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc on mean ship delay across the five
    priorities: all 10 pairwise differences against the studentized-
    range honest-significant-difference half-width (q₅,∞ = 3.858
    inlined) — the step AFTER the omnibus tests in the registry
    (kruskal_wallis/mood say "somewhere different"; HSD says WHICH
    pairs, with the familywise error held at 5% where 10 raw t-tests
    would inflate it to ~40%).

    Exactness: per-priority (n, Σv, Σv²) come off the checkpointed
    value grain exactly; each group's within-SS quantizes to milli as
    ONE single term (5 terms); pair means and the half-width are
    mirrored fixed-order expressions; the significance flag compares
    the SAME two quantized integers in both engines.

    Scale: rides the (priority, delay) grain; 5 sufficient rows → 10
    pair rows.
    """
    c = _delay_grain(spark, sf_dir)
    g = c.groupBy("pr").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("decimal(38,0)").alias("s"),
        F.sum(
            F.col("v").cast("decimal(19,0)")
            * F.col("v").cast("decimal(19,0)")
            * F.col("c").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("q"),
    ).localCheckpoint()  # 5 rows; read by pool AND pairs
    pool = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.expr(
                "CAST(round((CAST(q AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                "   / CAST(n AS DOUBLE)) * 1000E0, 0) AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("ssw_milli"),
    )
    a = g.select(
        F.col("pr").alias("pr_a"), F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = g.select(
        F.col("pr").alias("pr_b"), F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    pairs = a.join(F.broadcast(b), F.col("pr_a") < F.col("pr_b")).select(
        "pr_a",
        "pr_b",
        "na",
        "nb",
        F.expr(
            "CAST(round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
            " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) * 1000E0, 0)"
            " AS BIGINT)"
        ).alias("diff_milli"),
    )
    hsd = (
        f"CAST(round({_HSD_Q_MICRO}E0 / 1000000E0"
        " * sqrt(CAST(ssw_milli AS DOUBLE) / 1000E0"
        "     / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))"
        "   * (1E0 / CAST(na AS DOUBLE) + 1E0 / CAST(nb AS DOUBLE))"
        "   / 2E0) * 1000E0, 0) AS BIGINT)"
    )
    return (
        pairs.crossJoin(F.broadcast(pool))
        .select(
            "pr_a",
            "pr_b",
            "diff_milli",
            F.expr(hsd).alias("hsd_halfwidth_milli"),
            F.expr(
                f"CASE WHEN abs(diff_milli) > {hsd} THEN 1 ELSE 0 END"
            ).alias("significant"),
        )
        .orderBy("pr_a", "pr_b")
    )


#: z_{0.975} in micro — inlined literal (the benford device).
_MCI_Z_MICRO = 1959964


@register(
    "median_ci_delay_by_priority",
    oracle=_DELAY_GRAIN_CTE
    + f"""
    , cum AS (
      SELECT pr, v, c,
             SUM(c) OVER (PARTITION BY pr ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY pr) AS n
      FROM c),
    rk AS (
      SELECT pr, v, c, cum, n,
             CAST(floor((CAST(n AS DOUBLE) - {_MCI_Z_MICRO}E0 / 1000000E0
               * sqrt(CAST(n AS DOUBLE))) / 2E0) AS BIGINT) AS lo_rank,
             n - CAST(floor((CAST(n AS DOUBLE)
               - {_MCI_Z_MICRO}E0 / 1000000E0
               * sqrt(CAST(n AS DOUBLE))) / 2E0) AS BIGINT) + 1
               AS hi_rank
      FROM cum)
    SELECT pr AS priority, CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MIN(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT)
             AS median_days,
           CAST(MIN(CASE WHEN cum >= lo_rank THEN v END) AS BIGINT)
             AS ci_lo_days,
           CAST(MIN(CASE WHEN cum >= hi_rank THEN v END) AS BIGINT)
             AS ci_hi_days
    FROM rk GROUP BY pr ORDER BY pr
    """,
)
def median_ci_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN ship
    delay per priority, from binomial order statistics: ranks
    (n ∓ z√n)/2 bracket the median with ≥95% coverage for ANY
    distribution — no normality, no bootstrap, no resampling. This is
    the uncertainty band the registry's many exact grouped medians
    (weighted_median, median_price_by_quantity, mood's grand median)
    should be read with: a median that moved 2 days means nothing if
    the CI is ±3.

    Exactness: ranks are computed from n by ONE mirrored expression
    with the z quantile INLINED as a micro literal; the three order
    statistics are integer ECDF threshold lookups (cum ≥ rank) on the
    checkpointed value grain — no sorting, no interpolation.

    Scale: rides the (priority, delay) grain; per-priority windows
    over ≤ ~125 rows each; 5-row output.
    """
    c = _delay_grain(spark, sf_dir)
    wp = (
        Window.partitionBy("pr")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wa = Window.partitionBy("pr").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "pr",
        "v",
        F.sum("c").over(wp).alias("cum"),
        F.sum("c").over(wa).alias("n"),
    )
    rk = cum.select(
        "*",
        F.expr(
            f"CAST(floor((CAST(n AS DOUBLE) - {_MCI_Z_MICRO}E0 / 1000000E0"
            " * sqrt(CAST(n AS DOUBLE))) / 2E0) AS BIGINT)"
        ).alias("lo_rank"),
    ).withColumn(
        "hi_rank", F.col("n") - F.col("lo_rank") + 1
    )
    return (
        rk.groupBy(F.col("pr").alias("priority"))
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))
            )
            .cast("bigint")
            .alias("median_days"),
            F.min(F.when(F.col("cum") >= F.col("lo_rank"), F.col("v")))
            .cast("bigint")
            .alias("ci_lo_days"),
            F.min(F.when(F.col("cum") >= F.col("hi_rank"), F.col("v")))
            .cast("bigint")
            .alias("ci_hi_days"),
        )
        .orderBy("priority")
    )


#: Ansari-Bradley from-both-ends rank-run sum over pooled positions
#: [lo, hi] of one tie group: Σ min(i, N+1−i) — piecewise-triangular
#: integer closed form, ONE shared token stream. Expects columns
#: lo, hi, nn (pooled N); mid = floor((N+1)/2).
#: {d} is the engine's integer-floor-divide spelling (Spark DIV,
#: DuckDB //) — every operand is a nonnegative integer, so the two
#: operators agree value-for-value.
_AB_RUNSUM_T = (
    "(CASE WHEN lo <= LEAST(hi, (nn + 1) {d} 2)"
    " THEN (lo + LEAST(hi, (nn + 1) {d} 2))"
    "      * (LEAST(hi, (nn + 1) {d} 2) - lo + 1) {d} 2 ELSE 0 END"
    " + CASE WHEN GREATEST(lo, (nn + 1) {d} 2 + 1) <= hi"
    " THEN (nn + 1) * (hi - GREATEST(lo, (nn + 1) {d} 2 + 1) + 1)"
    "      - (GREATEST(lo, (nn + 1) {d} 2 + 1) + hi)"
    "        * (hi - GREATEST(lo, (nn + 1) {d} 2 + 1) + 1) {d} 2"
    " ELSE 0 END)"
)
_AB_RUNSUM = _AB_RUNSUM_T.format(d="DIV")
_AB_RUNSUM_DDB = _AB_RUNSUM_T.format(d="//")


# import-time guard (r7 ADVICE): if the CTE's WHERE text ever drifts,
# str.replace would silently no-op and the oracle would pool all five
# priorities while the Spark side filters to two — fail at import, not
# at driver-sweep time
_AB_FILTER_MARKER = "WHERE l.l_shipdate >= o.o_orderdate"
assert _AB_FILTER_MARKER in _DELAY_GRAIN_CTE, (
    "_DELAY_GRAIN_CTE filter text drifted; update the ansari_bradley "
    "oracle's priority-restriction replace"
)


@register(
    "ansari_bradley_delay_scale",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + f"""
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(c) AS BIGINT) AS c
      FROM c GROUP BY v),
    cum AS (
      SELECT v, ca, c,
             CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi,
             CAST(SUM(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS lo,
             CAST(SUM(c) OVER () AS BIGINT) AS nn,
             CAST(SUM(ca) OVER () AS BIGINT) AS m
      FROM vg),
    terms AS (
      SELECT m, nn,
             CAST({_AB_RUNSUM_DDB} AS BIGINT) AS rs, ca, c
      FROM cum),
    s AS (
      SELECT MAX(m) AS m, MAX(nn) AS nn,
             CAST(SUM(CAST(round(CAST(ca AS DOUBLE) * CAST(rs AS DOUBLE)
               / CAST(c AS DOUBLE) * 1000000E0, 0) AS BIGINT)) AS BIGINT)
               AS ab_micro,
             CAST(SUM(rs) AS BIGINT) AS s1,
             CAST(SUM(CAST(round(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)
               / CAST(c AS DOUBLE) * 1000E0, 0) AS HUGEINT)) AS HUGEINT)
               AS s2_milli
      FROM terms)
    SELECT m AS n_urgent, nn - m AS n_low,
           ab_micro AS ab_stat_micro,
           CAST(round((CAST(ab_micro AS DOUBLE) / 1000000E0
               - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(nn AS DOUBLE))
             / sqrt(CAST(m AS DOUBLE) * CAST(nn - m AS DOUBLE)
                 / (CAST(nn AS DOUBLE) - 1E0)
               * (CAST(s2_milli AS DOUBLE) / 1000E0 / CAST(nn AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS ab_z_micro
    FROM s
    """,
)
def ansari_bradley_delay_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley SCALE test between URGENT and LOW ship delays:
    ranks assigned from BOTH ends of the pooled sample (extremes rank
    low), so a small rank sum for one group means its values crowd the
    TAILS — more dispersed at the same center. Completes the
    two-sample family: location (mannwhitney/HL), shape (KS/CvM/AD),
    variance-parametric (levene/bartlett are k-sample), scale-
    nonparametric (this). Inference is EXACT finite-population
    sampling theory over the tie-grouped score multiset — no no-ties
    approximation.

    Exactness: the from-both-ends rank-run sum per tie group is a
    piecewise-triangular INTEGER closed form (validated against a
    literal midrank implementation over 200 random tie-heavy trials in
    tests); the group's AB contribution and squared-score term
    quantize per value (bounded grain, per-term device); mean and
    variance of the score multiset come from exact sums; z is one
    mirrored expression.

    Scale: rides the (priority, delay) value grain; one value-grain
    window; one-row output.
    """
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum("c").cast("bigint").alias("c"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "ca",
        "c",
        F.sum("c").over(wv).cast("bigint").alias("hi"),
        (F.sum("c").over(wv) - F.col("c") + 1).cast("bigint").alias("lo"),
        F.sum("c").over(wall).cast("bigint").alias("nn"),
        F.sum("ca").over(wall).cast("bigint").alias("m"),
    )
    terms = cum.select(
        "m",
        "nn",
        "ca",
        "c",
        F.expr(f"CAST({_AB_RUNSUM} AS BIGINT)").alias("rs"),
    )
    s = terms.agg(
        F.max("m").alias("m"),
        F.max("nn").alias("nn"),
        F.sum(
            F.expr(
                "CAST(round(CAST(ca AS DOUBLE) * CAST(rs AS DOUBLE)"
                " / CAST(c AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("ab_micro"),
        F.sum("rs").cast("bigint").alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)"
                " / CAST(c AS DOUBLE) * 1000E0, 0) AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("s2_milli"),
    )
    return s.select(
        F.col("m").alias("n_urgent"),
        (F.col("nn") - F.col("m")).alias("n_low"),
        F.col("ab_micro").alias("ab_stat_micro"),
        F.expr(
            "CAST(round((CAST(ab_micro AS DOUBLE) / 1000000E0"
            " - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "   / CAST(nn AS DOUBLE))"
            " / sqrt(CAST(m AS DOUBLE) * CAST(nn - m AS DOUBLE)"
            "     / (CAST(nn AS DOUBLE) - 1E0)"
            "   * (CAST(s2_milli AS DOUBLE) / 1000E0 / CAST(nn AS DOUBLE)"
            "      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "        / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("ab_z_micro"),
    )


# ---------------------------------------------------------------------------
# round-9: diversity / concentration family completion — Hill numbers
# (the unified diversity spectrum), Pielou evenness + Berger-Parker
# dominance, and the CR4 concentration ratio beside the existing HHI.
# ---------------------------------------------------------------------------


@register(
    "hill_numbers_by_nation",
    oracle="""
    WITH c AS (
      SELECT n.n_name AS nation, p.p_type AS ty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    t AS (
      SELECT nation, ty, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY nation) AS BIGINT) AS tot
      FROM c)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(round(exp(CAST(-SUM(CAST(round(
               (CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
               * ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
               * 1000000000E0, 0) AS BIGINT)) AS DOUBLE) / 1000000000E0)
             * 1000000E0, 0) AS BIGINT) AS hill1_micro,
           CAST(round(CAST(MAX(tot) AS DOUBLE) * CAST(MAX(tot) AS DOUBLE)
             / CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS hill2_micro
    FROM t GROUP BY nation ORDER BY nation
    """,
)
def hill_numbers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-number diversity spectrum of each nation's part-type mix:
    q=0 (richness: types present), q=1 (exp of Shannon entropy:
    types weighted by share), q=2 (inverse Simpson: dominance-weighted
    effective types). Read together the three say whether a market is
    broad (q0 high), balanced (q1 close to q0) or hit-driven (q2 far
    below q1) — the unified frame the separate entropy/Simpson ops
    sample at single points.

    Exactness: counts are exact; q1's entropy terms are quantized to
    integer 1e-9 ticks before the per-nation sum (order-independent in
    both engines); q2 is exact integer Σn² under one mirrored double
    division; one mirrored exp/round each.

    Scale: reduces to the (nation, type) grain (≤ 25x150 rows) before
    any double math; the star join is Catalyst's to broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    c = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(n, cu.c_nationkey == n.n_nationkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_type").alias("ty"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    t = c.select(
        "nation",
        "cnt",
        F.sum("cnt").over(Window.partitionBy("nation")).cast("bigint").alias("tot"),
    )
    share = F.col("cnt").cast("double") / F.col("tot").cast("double")
    tick = F.round(share * F.log(share) * 1e9, 0).cast("bigint")
    return (
        t.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(
                F.exp((-F.sum(tick)).cast("double") / 1e9) * 1e6, 0
            )
            .cast("bigint")
            .alias("hill1_micro"),
            F.round(
                F.max("tot").cast("double")
                * F.max("tot").cast("double")
                / F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt"))
                .cast("double")
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("hill2_micro"),
        )
        .orderBy("nation")
    )


@register(
    "lang_evenness_by_source",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE lang IS NOT NULL GROUP BY source, lang),
    t AS (
      SELECT source, lang, n,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS tot
      FROM c)
    SELECT source,
           CAST(MAX(tot) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CASE WHEN COUNT(*) > 1 THEN
             CAST(round(CAST(-SUM(CAST(round(
                 (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
                 * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
                 * 1000000000E0, 0) AS BIGINT)) AS DOUBLE) / 1000000000E0
               / ln(CAST(COUNT(*) AS DOUBLE)) * 1000000E0, 0) AS BIGINT)
           END AS pielou_micro,
           CAST(MAX(n) * 1000000 // MAX(tot) AS BIGINT)
             AS berger_parker_micro
    FROM t GROUP BY source ORDER BY source
    """,
)
def lang_evenness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pielou evenness (H / ln S — entropy as a share of its maximum)
    and Berger-Parker dominance (largest single-language share) of each
    source's language mix: the two normalized companions to
    entropy_by_source's raw H. Evenness is comparable ACROSS sources
    with different language counts (raw entropy is not); dominance is
    the single-number monoculture alarm. Single-language sources get
    NULL evenness (undefined, not 0 — mirrored CASE in both engines).

    Exactness: entropy ticks quantized at 1e-9 before the sum (the
    entropy_by_source device); dominance is an exact integer micro
    floor-division.

    Scale: (source, lang) grain — dozens of rows."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    c = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.select(
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("source")).cast("bigint").alias("tot"),
    )
    share = F.col("n").cast("double") / F.col("tot").cast("double")
    tick = F.round(share * F.log(share) * 1e9, 0).cast("bigint")
    return (
        t.groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.when(
                F.count(F.lit(1)) > 1,
                F.round(
                    (-F.sum(tick)).cast("double")
                    / 1e9
                    / F.log(F.count(F.lit(1)).cast("double"))
                    * 1e6,
                    0,
                ).cast("bigint"),
            ).alias("pielou_micro"),
            F.expr("CAST(MAX(n) * 1000000 DIV MAX(tot) AS BIGINT)").alias(
                "berger_parker_micro"
            ),
        )
        .orderBy("source")
    )


@register(
    "cr4_revenue_by_nation",
    oracle="""
    WITH cr AS (
      SELECT n.n_name AS nation, o.o_custkey AS ck,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    r AS (
      SELECT nation, cents,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents DESC, ck) AS rn,
             CAST(SUM(cents) OVER (PARTITION BY nation) AS BIGINT) AS tot,
             CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS n_cust
      FROM cr)
    SELECT nation, CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN rn <= 4 THEN cents ELSE 0 END)
             * 1000000 // MAX(tot) AS BIGINT) AS cr4_micro
    FROM r GROUP BY nation ORDER BY nation
    """,
)
def cr4_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CR4 concentration ratio per nation: the revenue share of the 4
    largest customers — the antitrust screen that reads differently
    from HHI (CR4 sees only the head; HHI squares the whole
    distribution), so the pair separates 'four whales' from 'one whale
    plus a spread'. Deterministic top-4 via (cents DESC, custkey) tie
    break, mirrored in both engines.

    Exactness: integer cents end-to-end; the share is one exact integer
    micro floor-division per nation.

    Scale: reduces to (nation, customer) grain before the windows; the
    per-nation windows shuffle once on the low-cardinality key."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cr = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(n, cu.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("ck"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("cents"))
    )
    wn = Window.partitionBy("nation")
    r = cr.select(
        "nation",
        "cents",
        F.row_number()
        .over(Window.partitionBy("nation").orderBy(F.desc("cents"), "ck"))
        .alias("rn"),
        F.sum("cents").over(wn).cast("bigint").alias("tot"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n_cust"),
    )
    return (
        r.groupBy("nation")
        .agg(
            F.max("n_cust").cast("bigint").alias("n_customers"),
            F.expr(
                "CAST(SUM(CASE WHEN rn <= 4 THEN cents ELSE 0 END)"
                " * 1000000 DIV MAX(tot) AS BIGINT)"
            ).alias("cr4_micro"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# round-9: Siegel-Tukey — the alternating-rank scale test beside
# Ansari-Bradley. Scores are a PERMUTATION of 1..N assigned from both
# ends inward (1; N, N-1; 2, 3; N-2, N-3; ...), so the Wilcoxon
# machinery applies unchanged; only the per-tie-group score-run sum
# differs. Closed form validated against the literal alternating
# assignment over 5000 random intervals in tests/test_round9_stats.py.
# The bottom/top split lands at m = 2*(N DIV 4) + (0 if N%4==0 else 1),
# NOT at (N+1)/2 — the alternation consumes ranks in blocks of
# 1,2,2,2,... so the boundary depends on N mod 4.
# ---------------------------------------------------------------------------

_ST_MID_T = "(2 * (nn {d} 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)"
_ST_RUNSUM_T = (
    "(CASE WHEN lo <= LEAST(hi, " + _ST_MID_T + ")"
    " THEN (lo + LEAST(hi, " + _ST_MID_T + "))"
    "      * (LEAST(hi, " + _ST_MID_T + ") - lo + 1)"
    "      - ((LEAST(hi, " + _ST_MID_T + ") + 1) {d} 2 - lo {d} 2)"
    " ELSE 0 END"
    " + CASE WHEN GREATEST(lo, " + _ST_MID_T + " + 1) <= hi"
    " THEN ((nn + 1 - hi) + (nn + 1 - GREATEST(lo, " + _ST_MID_T + " + 1)))"
    "      * (hi - GREATEST(lo, " + _ST_MID_T + " + 1) + 1)"
    "      - ((nn + 1 - GREATEST(lo, " + _ST_MID_T + " + 1)) {d} 2"
    "         - (nn - hi) {d} 2)"
    " ELSE 0 END)"
)
_ST_RUNSUM = _ST_RUNSUM_T.format(d="DIV")
_ST_RUNSUM_DDB = _ST_RUNSUM_T.format(d="//")


@register(
    "siegel_tukey_delay_scale",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + f"""
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(c) AS BIGINT) AS c
      FROM c GROUP BY v),
    cum AS (
      SELECT v, ca, c,
             CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi,
             CAST(SUM(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS lo,
             CAST(SUM(c) OVER () AS BIGINT) AS nn,
             CAST(SUM(ca) OVER () AS BIGINT) AS m
      FROM vg),
    terms AS (
      SELECT m, nn,
             CAST({_ST_RUNSUM_DDB} AS BIGINT) AS rs, ca, c
      FROM cum),
    s AS (
      SELECT MAX(m) AS m, MAX(nn) AS nn,
             CAST(SUM(CAST(round(CAST(ca AS DOUBLE) * CAST(rs AS DOUBLE)
               / CAST(c AS DOUBLE) * 1000000E0, 0) AS BIGINT)) AS BIGINT)
               AS st_micro,
             CAST(SUM(rs) AS BIGINT) AS s1,
             CAST(SUM(CAST(round(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)
               / CAST(c AS DOUBLE) * 1000E0, 0) AS HUGEINT)) AS HUGEINT)
               AS s2_milli
      FROM terms)
    SELECT m AS n_urgent, nn - m AS n_low,
           st_micro AS st_stat_micro,
           CAST(round((CAST(st_micro AS DOUBLE) / 1000000E0
               - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(nn AS DOUBLE))
             / sqrt(CAST(m AS DOUBLE) * CAST(nn - m AS DOUBLE)
                 / (CAST(nn AS DOUBLE) - 1E0)
               * (CAST(s2_milli AS DOUBLE) / 1000E0 / CAST(nn AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS st_z_micro
    FROM s
    """,
)
def siegel_tukey_delay_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey SCALE test between URGENT and LOW ship delays:
    ranks 1..N assigned alternating from both ends inward (extremes
    rank LOW), so a small rank sum for one group means its values crowd
    the tails — the permutation-score sibling of Ansari-Bradley (whose
    scores duplicate min(i, N+1-i)); because ST scores are a
    permutation of 1..N, its null moments coincide with Wilcoxon's,
    which is what made it the pre-computer favorite. Running both ST
    and AB on the same pair is the classic robustness check: they
    agree unless tie handling is doing the work.

    Exactness: the per-tie-group ST score-run sum is an integer closed
    form split at m = 2*(N DIV 4) + [N%4 != 0] (validated against the
    literal alternating assignment over 5000 random intervals in
    tests); midrank contributions and squared-score terms quantize per
    value group; mean/variance come from the exact score multiset
    (finite-population sampling theory, no no-ties approximation).

    Scale: rides the (priority, delay) value grain — one value-grain
    window, one-row output."""
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum("c").cast("bigint").alias("c"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "ca",
        "c",
        F.sum("c").over(wv).cast("bigint").alias("hi"),
        (F.sum("c").over(wv) - F.col("c") + 1).cast("bigint").alias("lo"),
        F.sum("c").over(wall).cast("bigint").alias("nn"),
        F.sum("ca").over(wall).cast("bigint").alias("m"),
    )
    terms = cum.select(
        "m",
        "nn",
        "ca",
        "c",
        F.expr(f"CAST({_ST_RUNSUM} AS BIGINT)").alias("rs"),
    )
    s = terms.agg(
        F.max("m").alias("m"),
        F.max("nn").alias("nn"),
        F.sum(
            F.expr(
                "CAST(round(CAST(ca AS DOUBLE) * CAST(rs AS DOUBLE)"
                " / CAST(c AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("st_micro"),
        F.sum("rs").cast("bigint").alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)"
                " / CAST(c AS DOUBLE) * 1000E0, 0) AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("s2_milli"),
    )
    return s.select(
        F.col("m").alias("n_urgent"),
        (F.col("nn") - F.col("m")).alias("n_low"),
        F.col("st_micro").alias("st_stat_micro"),
        F.expr(
            "CAST(round((CAST(st_micro AS DOUBLE) / 1000000E0"
            " - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "   / CAST(nn AS DOUBLE))"
            " / sqrt(CAST(m AS DOUBLE) * CAST(nn - m AS DOUBLE)"
            "     / (CAST(nn AS DOUBLE) - 1E0)"
            "   * (CAST(s2_milli AS DOUBLE) / 1000E0 / CAST(nn AS DOUBLE)"
            "      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "        / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("st_z_micro"),
    )


@register(
    "jonckheere_terpstra_priority_trend",
    oracle=_DELAY_GRAIN_CTE
    + """
    , vg5 AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN pr = '2-HIGH' THEN c ELSE 0 END)
               AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN pr = '3-MEDIUM' THEN c ELSE 0 END)
               AS BIGINT) AS c3,
             CAST(SUM(CASE WHEN pr = '4-NOT SPECIFIED' THEN c ELSE 0 END)
               AS BIGINT) AS c4,
             CAST(SUM(CASE WHEN pr = '5-LOW' THEN c ELSE 0 END)
               AS BIGINT) AS c5
      FROM c GROUP BY v),
    cumv AS (
      SELECT v, c1, c2, c3, c4, c5,
             CAST(SUM(c1) OVER (ORDER BY v) - c1 AS BIGINT) AS b1,
             CAST(SUM(c2) OVER (ORDER BY v) - c2 AS BIGINT) AS b2,
             CAST(SUM(c3) OVER (ORDER BY v) - c3 AS BIGINT) AS b3,
             CAST(SUM(c4) OVER (ORDER BY v) - c4 AS BIGINT) AS b4
      FROM vg5),
    jt AS (
      SELECT CAST(SUM(
          CAST(c2 AS HUGEINT) * (2 * b1 + c1)
        + CAST(c3 AS HUGEINT) * (2 * (b1 + b2) + c1 + c2)
        + CAST(c4 AS HUGEINT) * (2 * (b1 + b2 + b3) + c1 + c2 + c3)
        + CAST(c5 AS HUGEINT)
          * (2 * (b1 + b2 + b3 + b4) + c1 + c2 + c3 + c4))
        AS BIGINT) AS jt2
      FROM cumv),
    g AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
    tt AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY v),
    gm AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CAST(n AS HUGEINT) * n) AS BIGINT) AS sn2,
             CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5))
               AS BIGINT) AS sn25,
             CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (n - 2))
               AS BIGINT) AS sn3,
             CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS sn2m
      FROM g),
    tm AS (
      SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
               AS BIGINT) AS st25,
             CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
               AS BIGINT) AS st3,
             CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS BIGINT) AS st2m
      FROM tt)
    SELECT nn AS n_total, jt2 AS jt_stat_x2,
           CAST(round((CAST(jt2 AS DOUBLE) / 2E0
               - (CAST(nn AS DOUBLE) * nn - sn2) / 4E0)
             / sqrt(
               (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
                - CAST(sn25 AS DOUBLE) - CAST(st25 AS DOUBLE)) / 72E0
               + CAST(sn3 AS DOUBLE) * CAST(st3 AS DOUBLE)
                 / (36E0 * nn * (nn - 1E0) * (nn - 2E0))
               + CAST(sn2m AS DOUBLE) * CAST(st2m AS DOUBLE)
                 / (8E0 * nn * (nn - 1E0)))
             * 1000000E0, 0) AS BIGINT) AS jt_z_micro
    FROM jt CROSS JOIN gm CROSS JOIN tm
    """,
)
def jonckheere_terpstra_priority_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: does ship
    delay shift MONOTONICALLY across the five ordered priorities
    (URGENT → LOW)? Kruskal-Wallis asks 'any difference'; JT asks the
    sharper ordered question (delay grows as priority drops) and earns
    the power KW forfeits when the alternative really is ordered. The
    statistic is the sum of pairwise Mann-Whitney counts over ordered
    group pairs; ties contribute 1/2 (kept as integer 2·JT).

    Exactness: the pairwise counts collapse to cumulative
    below-counts at the (delay value) grain — 2·U_ij summed over
    ordered pairs equals one fixed-text expansion over the 5 pivoted
    priority columns and their running sums (no pair join at all; the
    naive value-grain self-join was 30M pairs at sf0.1); 2·JT, the
    group/tie cubic sums, and E's numerator are exact integers
    (wide-integer rule); the tie-corrected null variance
    (Hollander-Wolfe three-term form, validated against exact
    permutation enumeration in tests) and z are one mirrored double
    expression.

    Scale: one value-grain window pass over |distinct delays| rows;
    group count is FIXED (5 priorities) so the expansion text is
    bounded — the dow-R² fixed-order device."""
    c = _delay_grain(spark, sf_dir)
    prios = [
        "1-URGENT",
        "2-HIGH",
        "3-MEDIUM",
        "4-NOT SPECIFIED",
        "5-LOW",
    ]
    vg5 = c.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("pr") == p, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias(f"c{i + 1}")
            for i, p in enumerate(prios)
        ]
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cumv = vg5.select(
        "c1",
        "c2",
        "c3",
        "c4",
        "c5",
        *[
            (F.sum(f"c{i}").over(wv) - F.col(f"c{i}"))
            .cast("bigint")
            .alias(f"b{i}")
            for i in range(1, 5)
        ],
    )
    jt = cumv.agg(
        F.sum(
            F.expr(
                "CAST(c2 AS DECIMAL(38,0)) * (2 * b1 + c1)"
                " + CAST(c3 AS DECIMAL(38,0)) * (2 * (b1 + b2) + c1 + c2)"
                " + CAST(c4 AS DECIMAL(38,0))"
                "   * (2 * (b1 + b2 + b3) + c1 + c2 + c3)"
                " + CAST(c5 AS DECIMAL(38,0))"
                "   * (2 * (b1 + b2 + b3 + b4) + c1 + c2 + c3 + c4)"
            )
        )
        .cast("bigint")
        .alias("jt2")
    )
    g = c.groupBy("pr").agg(F.sum("c").cast("bigint").alias("n"))
    tt = c.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    nd = F.col("n").cast("decimal(38,0)")
    gm = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(nd * F.col("n")).cast("bigint").alias("sn2"),
        F.sum(nd * (F.col("n") - 1) * (2 * F.col("n") + 5))
        .cast("bigint")
        .alias("sn25"),
        F.sum(nd * (F.col("n") - 1) * (F.col("n") - 2))
        .cast("bigint")
        .alias("sn3"),
        F.sum(nd * (F.col("n") - 1)).cast("bigint").alias("sn2m"),
    )
    td = F.col("t").cast("decimal(38,0)")
    tm = tt.agg(
        F.sum(td * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("bigint")
        .alias("st25"),
        F.sum(td * (F.col("t") - 1) * (F.col("t") - 2))
        .cast("bigint")
        .alias("st3"),
        F.sum(td * (F.col("t") - 1)).cast("bigint").alias("st2m"),
    )
    return (
        jt.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(tm))
        .select(
            F.col("nn").alias("n_total"),
            F.col("jt2").alias("jt_stat_x2"),
            F.expr(
                "CAST(round((CAST(jt2 AS DOUBLE) / 2E0"
                "   - (CAST(nn AS DOUBLE) * nn - sn2) / 4E0)"
                " / sqrt("
                "   (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)"
                "    - CAST(sn25 AS DOUBLE) - CAST(st25 AS DOUBLE)) / 72E0"
                "   + CAST(sn3 AS DOUBLE) * CAST(st3 AS DOUBLE)"
                "     / (36E0 * nn * (nn - 1E0) * (nn - 2E0))"
                "   + CAST(sn2m AS DOUBLE) * CAST(st2m AS DOUBLE)"
                "     / (8E0 * nn * (nn - 1E0)))"
                " * 1000000E0, 0) AS BIGINT)"
            ).alias("jt_z_micro"),
        )
    )


@register(
    "brunner_munzel_delay",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + """
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN pr = '5-LOW' THEN c ELSE 0 END)
               AS BIGINT) AS cb
      FROM c GROUP BY v),
    r AS (
      SELECT ca, cb,
             2 * (CAST(SUM(ca + cb) OVER (ORDER BY v) AS BIGINT)
                  - (ca + cb)) + (ca + cb) + 1 AS r2,
             2 * (CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) - ca)
                  + ca + 1 AS r2x,
             2 * (CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) - cb)
                  + cb + 1 AS r2y
      FROM vg),
    nsum AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS nx, CAST(SUM(cb) AS BIGINT) AS ny,
             CAST(SUM(CAST(ca AS HUGEINT) * r2) AS BIGINT) AS numx,
             CAST(SUM(CAST(cb AS HUGEINT) * r2) AS BIGINT) AS numy
      FROM r),
    q AS (
      SELECT nsum.nx, nsum.ny, nsum.numx, nsum.numy,
             CAST(SUM(CAST(ca AS HUGEINT)
               * (CAST(nx AS HUGEINT) * (r2 - r2x)
                  - (numx - CAST(nx AS HUGEINT) * (nx + 1)))
               * (CAST(nx AS HUGEINT) * (r2 - r2x)
                  - (numx - CAST(nx AS HUGEINT) * (nx + 1))))
               AS HUGEINT) AS qx,
             CAST(SUM(CAST(cb AS HUGEINT)
               * (CAST(ny AS HUGEINT) * (r2 - r2y)
                  - (numy - CAST(ny AS HUGEINT) * (ny + 1)))
               * (CAST(ny AS HUGEINT) * (r2 - r2y)
                  - (numy - CAST(ny AS HUGEINT) * (ny + 1))))
               AS HUGEINT) AS qy
      FROM r CROSS JOIN nsum
      GROUP BY 1, 2, 3, 4)
    SELECT nx AS n_urgent, ny AS n_low,
           CAST(round((CAST(numy AS DOUBLE) / (2E0 * ny)
               - (ny + 1E0) / 2E0) / CAST(nx AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS p_hat_micro,
           CAST(round(CAST(nx AS DOUBLE) * ny
               * (CAST(numy AS DOUBLE) / (2E0 * ny)
                  - CAST(numx AS DOUBLE) / (2E0 * nx))
             / ((nx + CAST(ny AS DOUBLE))
                * sqrt(nx * (CAST(qx AS DOUBLE)
                             / (4E0 * nx * nx * (nx - 1E0)))
                       + ny * (CAST(qy AS DOUBLE)
                               / (4E0 * ny * ny * (ny - 1E0)))))
             * 1000000E0, 0) AS BIGINT) AS bm_stat_micro
    FROM q
    """,
)
def brunner_munzel_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel generalized Wilcoxon between URGENT and LOW ship
    delays: tests P(X < Y) + P(X = Y)/2 = 1/2 WITHOUT Mann-Whitney's
    equal-variance (exchangeability) assumption — the modern
    recommendation when the two groups may differ in scale as well as
    location (and this pair demonstrably does; see the AB/ST scale
    tests). Reports the relative effect p̂ = P(urgent < low) + ½P(=)
    — directly interpretable as 'probability a LOW order ships later' —
    plus the studentized statistic.

    Exactness: pooled and within-group midranks are kept as exact
    integer doubled-ranks (2R) at the value grain; the rank-variance
    numerators Qx/Qy are exact integers by the algebraic rearrangement
    (n·(2R−2R_g) − (num − n(n+1)))² — validated against a literal
    midrank implementation over 500 random tie-heavy trials in tests;
    one mirrored double expression at the end. Q terms ride int128
    (oracle HUGEINT) / decimal(38,0) (Spark) end to end — the square
    itself is decimal, never double, so both engines are bit-exact up
    to 1e38. Width certified at sf1 (SCALE.md round-11: cross-engine
    MATCH, measured log10(Q)=29.92, ~n**3 scaling puts the ceiling
    near sf~500, where decimal(38,0) overflow raises under ANSI
    rather than silently rounding).

    Scale: value-grain windows only; one-row output."""
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("pr") == "5-LOW", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = F.col("ca") + F.col("cb")
    r = vg.select(
        "ca",
        "cb",
        (2 * (F.sum(t).over(wv).cast("bigint") - t) + t + 1).alias("r2"),
        (
            2 * (F.sum("ca").over(wv).cast("bigint") - F.col("ca"))
            + F.col("ca")
            + 1
        ).alias("r2x"),
        (
            2 * (F.sum("cb").over(wv).cast("bigint") - F.col("cb"))
            + F.col("cb")
            + 1
        ).alias("r2y"),
    )
    nsum = r.agg(
        F.sum("ca").cast("bigint").alias("nx"),
        F.sum("cb").cast("bigint").alias("ny"),
        F.sum(F.col("ca").cast("decimal(38,0)") * F.col("r2"))
        .cast("bigint")
        .alias("numx"),
        F.sum(F.col("cb").cast("decimal(38,0)") * F.col("r2"))
        .cast("bigint")
        .alias("numy"),
    )
    qx_core = F.col("nx").cast("decimal(38,0)") * (
        F.col("r2") - F.col("r2x")
    ) - (
        F.col("numx") - F.col("nx").cast("decimal(38,0)") * (F.col("nx") + 1)
    )
    qy_core = F.col("ny").cast("decimal(38,0)") * (
        F.col("r2") - F.col("r2y")
    ) - (
        F.col("numy") - F.col("ny").cast("decimal(38,0)") * (F.col("ny") + 1)
    )
    q = (
        r.crossJoin(F.broadcast(nsum))
        .groupBy("nx", "ny", "numx", "numy")
        .agg(
            # exact decimal(38,0) square (r9 ADVICE: squaring the ~1e11
            # core in double exceeded 2^53 and could diverge from the
            # oracle's exact HUGEINT on a knife-edge rounding tie);
            # decimal·decimal stays scale-0/precision-38, exact to 1e38
            F.sum(
                F.col("ca").cast("decimal(38,0)") * qx_core * qx_core
            )
            .cast("decimal(38,0)")
            .alias("qx"),
            F.sum(
                F.col("cb").cast("decimal(38,0)") * qy_core * qy_core
            )
            .cast("decimal(38,0)")
            .alias("qy"),
        )
    )
    return q.select(
        F.col("nx").alias("n_urgent"),
        F.col("ny").alias("n_low"),
        F.expr(
            "CAST(round((CAST(numy AS DOUBLE) / (2E0 * ny)"
            "   - (ny + 1E0) / 2E0) / CAST(nx AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("p_hat_micro"),
        F.expr(
            "CAST(round(CAST(nx AS DOUBLE) * ny"
            "   * (CAST(numy AS DOUBLE) / (2E0 * ny)"
            "      - CAST(numx AS DOUBLE) / (2E0 * nx))"
            " / ((nx + CAST(ny AS DOUBLE))"
            "    * sqrt(nx * (CAST(qx AS DOUBLE)"
            "                 / (4E0 * nx * nx * (nx - 1E0)))"
            "           + ny * (CAST(qy AS DOUBLE)"
            "                   / (4E0 * ny * ny * (ny - 1E0)))))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("bm_stat_micro"),
    )


@register(
    "goldfeld_quandt_monthly",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
        + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    rk AS (
      SELECT mi, rev,
             ROW_NUMBER() OVER (ORDER BY mi) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS t
      FROM monthly),
    seg AS (
      SELECT mi, rev, t, t * 2 // 5 AS k,
             CASE WHEN rn <= t * 2 // 5 THEN 0
                  WHEN rn > t - t * 2 // 5 THEN 1 END AS h
      FROM rk),
    s AS (
      SELECT h, MAX(t) AS t, MAX(k) AS k,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mi) AS BIGINT) AS sx,
             CAST(SUM(rev) AS BIGINT) AS sy,
             CAST(SUM(CAST(mi AS HUGEINT) * rev) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(mi AS HUGEINT) * mi) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS syy
      FROM seg WHERE h IS NOT NULL GROUP BY h),
    rss AS (
      SELECT MAX(t) AS n_months, MAX(k) AS k,
             CAST(SUM(CASE WHEN h = 0 THEN {_RSS_EXPR} END) AS DOUBLE)
               AS rss1,
             CAST(SUM(CASE WHEN h = 1 THEN {_RSS_EXPR} END) AS DOUBLE)
               AS rss2
      FROM s)
    SELECT n_months, k AS n_per_segment,
           CAST(round(rss1 / 1e12, 0) AS BIGINT) AS rss_early_tera,
           CAST(round(rss2 / 1e12, 0) AS BIGINT) AS rss_late_tera,
           CAST(round(rss2 / rss1 * 1000000E0, 0) AS BIGINT) AS gq_f_micro
    FROM rss
    """,
)
def goldfeld_quandt_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goldfeld-Quandt heteroscedasticity test on the monthly revenue
    trend: fit the SAME time-trend line to the first 40% and last 40%
    of months (the middle fifth dropped, per the classic design, to
    sharpen separation) and compare residual variances — F = RSS_late /
    RSS_early with equal df. F >> 1 says dispersion GROWS with the
    level (the usual growth pattern, and the reason breusch_pagan's
    regression-based test exists beside it); F << 1 says early chaos
    settled. Completes the variance-diagnostics shelf: BP (regression
    on fitted values), GQ (split-sample), chow (mean-structure break).

    Exactness: sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are exact
    wide integers per segment; the two RSS values evaluate the SAME
    shared expression text as chow_test_break; the F ratio is one
    mirrored division (equal df cancels).

    Scale: orders reduce to |month| rows, then to two sufficient-
    statistic rows; one-row output."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    monthly = o.groupBy(
        (F.year(d) * 12 + F.month(d)).cast("bigint").alias("mi")
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = monthly.select(
        "mi",
        "rev",
        F.row_number().over(Window.orderBy("mi")).alias("rn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("t"),
    )
    k = F.expr("t * 2 DIV 5")
    seg = rk.select(
        "mi",
        "rev",
        "t",
        k.alias("k"),
        F.when(F.col("rn") <= k, 0)
        .when(F.col("rn") > F.col("t") - k, 1)
        .alias("h"),
    ).filter(F.col("h").isNotNull())
    mid = F.col("mi").cast("decimal(38,0)")
    rvd = F.col("rev").cast("decimal(38,0)")
    s = seg.groupBy("h").agg(
        F.max("t").alias("t"),
        F.max("k").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mi").cast("bigint").alias("sx"),
        F.sum("rev").cast("bigint").alias("sy"),
        F.sum(mid * rvd).cast("double").alias("sxy"),
        F.sum(mid * mid).cast("double").alias("sxx"),
        F.sum(rvd * rvd).cast("double").alias("syy"),
    )
    rss = s.agg(
        F.max("t").alias("n_months"),
        F.max("k").alias("k"),
        F.sum(F.when(F.col("h") == 0, F.expr(_RSS_EXPR)))
        .cast("double")
        .alias("rss1"),
        F.sum(F.when(F.col("h") == 1, F.expr(_RSS_EXPR)))
        .cast("double")
        .alias("rss2"),
    )
    return rss.select(
        F.col("n_months"),
        F.col("k").alias("n_per_segment"),
        F.round(F.col("rss1") / 1e12, 0).cast("bigint").alias("rss_early_tera"),
        F.round(F.col("rss2") / 1e12, 0).cast("bigint").alias("rss_late_tera"),
        F.round(F.col("rss2") / F.col("rss1") * 1e6, 0)
        .cast("bigint")
        .alias("gq_f_micro"),
    )


#: D'Agostino K² final expressions over (nd, g1, b2) — nd the sample
#: size as double, g1/b2 the nano-quantized skewness and (raw)
#: kurtosis. ONE fixed token stream shared verbatim by both engines
#: (the _JB_STAT device); the nano quantization makes the inputs
#: bit-identical before the transcendental chain.
_DK_Y = (
    "(g1 * sqrt((nd + 1E0) * (nd + 3E0) / (6E0 * (nd - 2E0))))"
)
_DK_B2 = (
    "(3E0 * (nd * nd + 27E0 * nd - 70E0) * (nd + 1E0) * (nd + 3E0)"
    " / ((nd - 2E0) * (nd + 5E0) * (nd + 7E0) * (nd + 9E0)))"
)
_DK_W2 = f"(sqrt(2E0 * ({_DK_B2} - 1E0)) - 1E0)"
_DK_DELTA = f"(1E0 / sqrt(ln(sqrt({_DK_W2}))))"
_DK_ALPHA = f"(sqrt(2E0 / ({_DK_W2} - 1E0)))"
_DK_Z1 = (
    f"({_DK_DELTA} * ln({_DK_Y} / {_DK_ALPHA}"
    f" + sqrt(({_DK_Y} / {_DK_ALPHA}) * ({_DK_Y} / {_DK_ALPHA}) + 1E0)))"
)
_DK_EB2 = "(3E0 * (nd - 1E0) / (nd + 1E0))"
_DK_VB2 = (
    "(24E0 * nd * (nd - 2E0) * (nd - 3E0)"
    " / ((nd + 1E0) * (nd + 1E0) * (nd + 3E0) * (nd + 5E0)))"
)
_DK_XQ = f"((b2 - {_DK_EB2}) / sqrt({_DK_VB2}))"
_DK_BETA1 = (
    "(6E0 * (nd * nd - 5E0 * nd + 2E0) / ((nd + 7E0) * (nd + 9E0))"
    " * sqrt(6E0 * (nd + 3E0) * (nd + 5E0)"
    "        / (nd * (nd - 2E0) * (nd - 3E0))))"
)
_DK_A = (
    f"(6E0 + 8E0 / {_DK_BETA1} * (2E0 / {_DK_BETA1}"
    f" + sqrt(1E0 + 4E0 / ({_DK_BETA1} * {_DK_BETA1}))))"
)
_DK_Z2 = (
    f"(((1E0 - 2E0 / (9E0 * {_DK_A}))"
    f" - cbrt((1E0 - 2E0 / {_DK_A})"
    f"        / (1E0 + {_DK_XQ} * sqrt(2E0 / ({_DK_A} - 4E0)))))"
    f" / sqrt(2E0 / (9E0 * {_DK_A})))"
)


@register(
    "dagostino_k2_daily_revenue",
    oracle=f"""
    {_DAILY_1K_CTE},
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS s1,
             CAST(SUM(x * x) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x * x AS HUGEINT) * x) AS HUGEINT) AS s3,
             CAST(SUM(CAST(x * x AS HUGEINT) * (x * x)) AS HUGEINT) AS s4
      FROM t),
    qm AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(round({_JB_SKEW} * 1000000000E0, 0) AS BIGINT)
               AS DOUBLE) / 1000000000E0 AS g1,
             CAST(CAST(round(({_JB_EXK} + 3E0) * 1000000000E0, 0) AS BIGINT)
               AS DOUBLE) / 1000000000E0 AS b2
      FROM g)
    SELECT n AS n_days,
           CAST(round(g1 * 1000000E0, 0) AS BIGINT) AS g1_micro,
           CAST(round(b2 * 1000000E0, 0) AS BIGINT) AS b2_micro,
           CAST(round({_DK_Z1} * 1000000E0, 0) AS BIGINT) AS z1_micro,
           CAST(round({_DK_Z2} * 1000000E0, 0) AS BIGINT) AS z2_micro,
           CAST(round(({_DK_Z1} * {_DK_Z1} + {_DK_Z2} * {_DK_Z2})
             * 1000000E0, 0) AS BIGINT) AS k2_micro
    FROM qm
    """,
)
def dagostino_k2_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K² omnibus normality test of daily revenue:
    the skewness and kurtosis are each transformed to approximate
    normal deviates (D'Agostino's Z₁ via the Johnson-SU fit, Anscombe-
    Glynn's Z₂ via the Wilson-Hilferty cube root) and K² = Z₁² + Z₂² —
    the finite-n-calibrated refinement of Jarque-Bera, whose χ²
    approximation is honest only asymptotically: for n in the hundreds
    of days JB over-rejects on kurtosis while K² holds size, and the
    Z₁/Z₂ split names WHICH moment broke normality.

    Exactness: power sums are the exact wide integers of the shared
    $1k-tick day series (_daily_1k); skewness and raw kurtosis are
    quantized to integer nano before the transcendental chain, so both
    engines feed bit-identical inputs through ONE shared token stream
    (ln/sqrt/cbrt are correctly-rounded-enough libm calls on equal
    inputs; the cube root uses cbrt, never pow, so the negative branch
    is exact in both engines).

    Scale: one day-grain reduction, one single-row aggregate."""
    t = _daily_1k(spark, sf_dir)
    x = F.col("x")
    x2 = (x * x).cast("bigint")
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("s1"),
        F.sum(x2.cast("decimal(38,0)")).cast("decimal(38,0)").alias("s2"),
        F.sum(x2.cast("decimal(19,0)") * x.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.sum(x2.cast("decimal(19,0)") * x2.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    qm = g.select(
        "n",
        F.col("n").cast("double").alias("nd"),
        (
            F.expr(
                f"CAST(round({_JB_SKEW} * 1000000000E0, 0) AS BIGINT)"
            ).cast("double")
            / 1e9
        ).alias("g1"),
        (
            F.expr(
                f"CAST(round(({_JB_EXK} + 3E0) * 1000000000E0, 0) AS BIGINT)"
            ).cast("double")
            / 1e9
        ).alias("b2"),
    )
    return qm.select(
        F.col("n").alias("n_days"),
        F.expr("CAST(round(g1 * 1000000E0, 0) AS BIGINT)").alias("g1_micro"),
        F.expr("CAST(round(b2 * 1000000E0, 0) AS BIGINT)").alias("b2_micro"),
        F.expr(f"CAST(round({_DK_Z1} * 1000000E0, 0) AS BIGINT)").alias(
            "z1_micro"
        ),
        F.expr(f"CAST(round({_DK_Z2} * 1000000E0, 0) AS BIGINT)").alias(
            "z2_micro"
        ),
        F.expr(
            f"CAST(round(({_DK_Z1} * {_DK_Z1} + {_DK_Z2} * {_DK_Z2})"
            f" * 1000000E0, 0) AS BIGINT)"
        ).alias("k2_micro"),
    )


@register(
    "ge_indices_by_nation",
    oracle="""
    WITH spend AS (
      SELECT n.n_name AS nation, o.o_custkey AS ck,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(round((ln(CAST(SUM(cents) AS DOUBLE) / COUNT(*))
             - CAST(SUM(CAST(round(ln(CAST(cents AS DOUBLE))
                 * 1000000000E0, 0) AS BIGINT)) AS DOUBLE)
               / 1000000000E0 / COUNT(*))
             * 1000000E0, 0) AS BIGINT) AS mld_micro,
           CAST(round((CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
               / COUNT(*)
               / (CAST(SUM(cents) AS DOUBLE) / COUNT(*))
               / (CAST(SUM(cents) AS DOUBLE) / COUNT(*))
               - 1E0) / 2E0
             * 1000000E0, 0) AS BIGINT) AS ge2_micro
    FROM spend GROUP BY nation ORDER BY nation
    """,
)
def ge_indices_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-entropy inequality indices of customer spend per
    nation: GE(0) = mean log deviation (bottom-sensitive — driven by
    how far small accounts sit below the mean) and GE(2) = half the
    squared coefficient of variation (top-sensitive — driven by the
    whales). Gini (gini_by_nation) compresses the whole distribution to
    one rank-weighted number; the GE pair brackets it from both tails,
    and GE is the family that decomposes additively across subgroups
    (the theil_decomposition device — Theil itself is GE(1)).

    Exactness: spend is exact integer cents (all positive by
    construction: a customer appears only with ≥1 order); Σln(x) is
    tick-quantized per customer at 1e-9 so the per-nation reduction is
    order-independent; Σx² rides int128/decimal128; one mirrored final
    expression per index.

    Scale: reduces to (nation, customer) grain; bounded output."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(n, cu.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.col("o_custkey").alias("ck")
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("cents"))
    )
    lntick = F.round(F.log(F.col("cents").cast("double")) * 1e9, 0).cast(
        "bigint"
    )
    return (
        spend.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                (
                    F.log(
                        F.sum("cents").cast("double") / F.count(F.lit(1))
                    )
                    - F.sum(lntick).cast("double")
                    / 1e9
                    / F.count(F.lit(1))
                )
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("mld_micro"),
            F.round(
                (
                    F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
                    .cast("double")
                    / F.count(F.lit(1))
                    / (F.sum("cents").cast("double") / F.count(F.lit(1)))
                    / (F.sum("cents").cast("double") / F.count(F.lit(1)))
                    - 1.0
                )
                / 2.0
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("ge2_micro"),
        )
        .orderBy("nation")
    )


@register(
    "nb_dispersion_by_segment",
    oracle="""
    WITH oc AS (
      SELECT cu.c_mktsegment AS segment, o.o_custkey AS ck,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
      GROUP BY 1, 2)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(round(CAST(SUM(k) AS DOUBLE) / COUNT(*) * 1000000E0, 0)
             AS BIGINT) AS mean_micro,
           CAST(round((CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE)
               / COUNT(*)
               - (CAST(SUM(k) AS DOUBLE) / COUNT(*))
                 * (CAST(SUM(k) AS DOUBLE) / COUNT(*)))
             * 1000000E0, 0) AS BIGINT) AS var_micro,
           CASE WHEN CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) / COUNT(*)
                     - (CAST(SUM(k) AS DOUBLE) / COUNT(*))
                       * (CAST(SUM(k) AS DOUBLE) / COUNT(*))
                     > CAST(SUM(k) AS DOUBLE) / COUNT(*)
             THEN CAST(round(
               (CAST(SUM(k) AS DOUBLE) / COUNT(*))
               * (CAST(SUM(k) AS DOUBLE) / COUNT(*))
               / (CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(k) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(k) AS DOUBLE) / COUNT(*))
                  - CAST(SUM(k) AS DOUBLE) / COUNT(*))
               * 1000000E0, 0) AS BIGINT)
           END AS nb_r_micro
    FROM oc GROUP BY segment ORDER BY segment
    """,
)
def nb_dispersion_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial dispersion fit of per-customer order counts by
    market segment (method of moments, NB2 parameterization:
    r̂ = μ²/(σ²−μ)): a FINITE r̂ says purchase
    counts are overdispersed — bursty repeat buyers — so Poisson-based
    demand models (poisson_dispersion_daily_orders is the time-axis
    twin) understate the tail; r̂ is the size parameter a simulation or
    staffing model would plug in. NULL when σ² ≤ μ (no overdispersion:
    NB degenerates to Poisson, mirrored CASE in both engines).

    Exactness: count sums and Σk² are exact wide integers; every
    moment and r̂ is one mirrored double expression (the per-moment
    sub-expressions repeat verbatim — integer inputs make repeats
    exact).

    Scale: reduces to (segment, customer) grain then to 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    oc = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("ck"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    g = oc.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k").cast("decimal(38,0)") * F.col("k"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    mu = "(CAST(s1 AS DOUBLE) / n_customers)"
    var = f"(CAST(s2 AS DOUBLE) / n_customers - {mu} * {mu})"
    return g.select(
        "segment",
        "n_customers",
        F.expr(f"CAST(round({mu} * 1000000E0, 0) AS BIGINT)").alias(
            "mean_micro"
        ),
        F.expr(f"CAST(round({var} * 1000000E0, 0) AS BIGINT)").alias(
            "var_micro"
        ),
        F.expr(
            f"CASE WHEN {var} > {mu} THEN"
            f" CAST(round({mu} * {mu} / ({var} - {mu})"
            f" * 1000000E0, 0) AS BIGINT) END"
        ).alias("nb_r_micro"),
    ).orderBy("segment")


@register(
    "quartile_shape_by_priority",
    oracle="""
    WITH d AS (
      SELECT o.o_orderpriority AS pr,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate),
    q AS (
      SELECT pr, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(round(quantile_cont(v, 0.25) * 1000000E0, 0) AS BIGINT)
               AS q1_micro,
             CAST(round(quantile_cont(v, 0.5) * 1000000E0, 0) AS BIGINT)
               AS q2_micro,
             CAST(round(quantile_cont(v, 0.75) * 1000000E0, 0) AS BIGINT)
               AS q3_micro
      FROM d GROUP BY pr)
    SELECT pr AS o_orderpriority, n, q1_micro, q2_micro, q3_micro,
           CAST(round(CAST(q1_micro + q3_micro - 2 * q2_micro AS DOUBLE)
             / CAST(q3_micro - q1_micro AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS bowley_skew_micro,
           CAST(round(CAST(q3_micro - q1_micro AS DOUBLE)
             / CAST(q3_micro + q1_micro AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS qcd_micro
    FROM q ORDER BY o_orderpriority
    """,
)
def quartile_shape_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust quartile-based shape profile of ship delay per priority:
    Bowley skewness (Q1+Q3−2·Q2)/(Q3−Q1) and the quartile coefficient
    of dispersion (Q3−Q1)/(Q3+Q1) — the outlier-immune counterparts of
    moment skewness (value_skewness_by_nation) and CV: a whale delay
    moves the third moment arbitrarily but cannot move a quartile. Read
    with the moment versions, disagreement localizes tail
    contamination.

    Exactness: exact interpolated quartiles (Spark `percentile` ↔
    DuckDB `quantile_cont`, the percentile_exact pairing) quantized to
    integer micro FIRST; both ratios are then mirrored expressions over
    those integers, so the engines can't diverge in the ratio's last
    ulp.

    Scale: exact percentiles materialize each priority group (the
    documented percentile_exact tradeoff) — at 100 TB swap in
    percentile_approx and keep the same downstream integer math."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("pr"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("v"),
        )
    )
    q = d.groupBy("pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(v, 0.25)") * 1e6, 0)
        .cast("bigint")
        .alias("q1_micro"),
        F.round(F.expr("percentile(v, 0.5)") * 1e6, 0)
        .cast("bigint")
        .alias("q2_micro"),
        F.round(F.expr("percentile(v, 0.75)") * 1e6, 0)
        .cast("bigint")
        .alias("q3_micro"),
    )
    return q.select(
        F.col("pr").alias("o_orderpriority"),
        "n",
        "q1_micro",
        "q2_micro",
        "q3_micro",
        F.expr(
            "CAST(round(CAST(q1_micro + q3_micro - 2 * q2_micro AS DOUBLE)"
            " / CAST(q3_micro - q1_micro AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("bowley_skew_micro"),
        F.expr(
            "CAST(round(CAST(q3_micro - q1_micro AS DOUBLE)"
            " / CAST(q3_micro + q1_micro AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("qcd_micro"),
    ).orderBy("o_orderpriority")


@register(
    "mase_weekly_naive_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily),
    e AS (
      SELECT t, x,
             x - lag(x, 1) OVER (ORDER BY t) AS d1,
             x - lag(x, 7) OVER (ORDER BY t) AS d7
      FROM t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN t >= 7 THEN abs(d1) END)
             * 1000000 // SUM(CASE WHEN t >= 7 THEN 1 END) AS BIGINT)
             AS mae_naive1_micro,
           CAST(SUM(CASE WHEN t >= 7 THEN abs(d7) END)
             * 1000000 // SUM(CASE WHEN t >= 7 THEN 1 END) AS BIGINT)
             AS mae_seasonal7_micro,
           CAST(round(CAST(SUM(CASE WHEN t >= 7 THEN abs(d1) END) AS DOUBLE)
             / CAST(SUM(CASE WHEN t >= 7 THEN abs(d7) END) AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS mase_naive1_micro
    FROM e
    """,
)
def mase_weekly_naive_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) of the naive-1 forecast on
    daily revenue, scaled by the seasonal-naive-7 in-sample MAE — the
    scale-free forecast metric Hyndman proposed to replace MAPE's
    divide-by-small-actuals pathology: MASE < 1 means yesterday's value
    beats last-week's-same-day, i.e. day-to-day persistence dominates
    the weekly rhythm; > 1 means the weekly pattern is the stronger
    predictor (and holt_winters' seasonal component is earning its
    keep). Both errors are measured over the SAME t ≥ 7 window so the
    ratio is a fair comparison.

    Exactness: absolute-error sums are exact integer cents; the two
    MAEs are exact integer micro floor-divisions; MASE is one mirrored
    double division.

    Scale: day-grain reduction then one ordered window over ~2.4k rows
    (the documented tiny unpartitioned-window exception)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x"
    )
    wt = Window.orderBy("t")
    e = t.select(
        "t",
        (F.col("x") - F.lag("x", 1).over(wt)).alias("d1"),
        (F.col("x") - F.lag("x", 7).over(wt)).alias("d7"),
    )
    g = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("t") >= 7, F.abs(F.col("d1"))))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("t") >= 7, F.abs(F.col("d7"))))
        .cast("bigint")
        .alias("s7"),
        F.sum(F.when(F.col("t") >= 7, F.lit(1))).cast("bigint").alias("m"),
    )
    return g.select(
        "n_days",
        F.expr("CAST(s1 * 1000000 DIV m AS BIGINT)").alias(
            "mae_naive1_micro"
        ),
        F.expr("CAST(s7 * 1000000 DIV m AS BIGINT)").alias(
            "mae_seasonal7_micro"
        ),
        F.expr(
            "CAST(round(CAST(s1 AS DOUBLE) / CAST(s7 AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("mase_naive1_micro"),
    )


@register(
    "pinball_loss_daily_forecast",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) AS rn, x,
                 CAST(COUNT(*) OVER () AS BIGINT) AS tn
          FROM daily),
    train AS (SELECT x FROM t WHERE rn <= tn * 4 // 5),
    f AS (
      SELECT CAST(round(quantile_cont(x, 0.1) * 1000000E0, 0) AS BIGINT)
               AS f10,
             CAST(round(quantile_cont(x, 0.5) * 1000000E0, 0) AS BIGINT)
               AS f50,
             CAST(round(quantile_cont(x, 0.9) * 1000000E0, 0) AS BIGINT)
               AS f90
      FROM train),
    test AS (SELECT x * 1000000 AS xm FROM t WHERE rn > tn * 4 // 5)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN xm >= f10 THEN xm - f10
                         ELSE 9 * (f10 - xm) END) // (10 * COUNT(*))
             AS BIGINT) AS pinball10_micro,
           CAST(SUM(CASE WHEN xm >= f50 THEN 5 * (xm - f50)
                         ELSE 5 * (f50 - xm) END) // (10 * COUNT(*))
             AS BIGINT) AS pinball50_micro,
           CAST(SUM(CASE WHEN xm >= f90 THEN 9 * (xm - f90)
                         ELSE f90 - xm END) // (10 * COUNT(*))
             AS BIGINT) AS pinball90_micro
    FROM test CROSS JOIN f
    """,
)
def pinball_loss_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of a train/test quantile forecast on
    daily revenue: the first 80% of days trains constant q10/q50/q90
    forecasts (the climatological baseline every probabilistic model
    must beat), the held-out 20% scores them — the strictly proper
    scoring rule for quantiles: over-forecasting q90 costs 0.1 per unit,
    under-forecasting costs 0.9, so each forecast minimizes loss
    exactly at its own quantile. The quantile-forecast complement of
    the point-metric ops (MASE/MAPE/Theil U2).

    Exactness: train quantiles quantize to integer micro-cents; test
    losses are computed in integer micro-cents scaled by 10 so the
    0.1/0.5/0.9 weights stay integral (CASE arms ×1/×9, ×5/×5, ×9/×1),
    then one exact floor-division by 10n.

    Scale: day-grain reduction; one exact train quantile (the
    percentile_exact tradeoff, sketchable at 100 TB); test scoring is
    a bounded cross-join with a 1-row forecast table."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        "x",
        F.count(F.lit(1)).over(wall).cast("bigint").alias("tn"),
    )
    train = t.filter(F.col("rn") <= F.expr("tn * 4 DIV 5")).select("x")
    f = train.agg(
        F.round(F.expr("percentile(x, 0.1)") * 1e6, 0)
        .cast("bigint")
        .alias("f10"),
        F.round(F.expr("percentile(x, 0.5)") * 1e6, 0)
        .cast("bigint")
        .alias("f50"),
        F.round(F.expr("percentile(x, 0.9)") * 1e6, 0)
        .cast("bigint")
        .alias("f90"),
    )
    test = t.filter(F.col("rn") > F.expr("tn * 4 DIV 5")).select(
        (F.col("x") * 1000000).cast("bigint").alias("xm")
    )
    return (
        test.crossJoin(F.broadcast(f))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.expr(
                    "CASE WHEN xm >= f10 THEN xm - f10"
                    " ELSE 9 * (f10 - xm) END"
                )
            )
            .cast("bigint")
            .alias("l10"),
            F.sum(
                F.expr(
                    "CASE WHEN xm >= f50 THEN 5 * (xm - f50)"
                    " ELSE 5 * (f50 - xm) END"
                )
            )
            .cast("bigint")
            .alias("l50"),
            F.sum(
                F.expr(
                    "CASE WHEN xm >= f90 THEN 9 * (xm - f90)"
                    " ELSE f90 - xm END"
                )
            )
            .cast("bigint")
            .alias("l90"),
        )
        .select(
            "n_test",
            F.expr("CAST(l10 DIV (10 * n_test) AS BIGINT)").alias(
                "pinball10_micro"
            ),
            F.expr("CAST(l50 DIV (10 * n_test) AS BIGINT)").alias(
                "pinball50_micro"
            ),
            F.expr("CAST(l90 DIV (10 * n_test) AS BIGINT)").alias(
                "pinball90_micro"
            ),
        )
    )


@register(
    "bartels_von_neumann_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) AS rn, x FROM daily),
    vr AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY x),
    vc AS (
      SELECT x, 2 * (CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) - c)
               + c + 1 AS r2
      FROM vr),
    s AS (
      SELECT t.rn, t.x, vc.r2,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM t JOIN vc ON t.x = vc.x),
    d AS (
      SELECT n, x, r2,
             r2 - lead(r2) OVER (ORDER BY rn) AS dr,
             x - lead(x) OVER (ORDER BY rn) AS dx
      FROM s),
    agg AS (
      SELECT MAX(n) AS n,
             CAST(SUM(CAST(dr AS HUGEINT) * dr) AS HUGEINT) AS num_r,
             CAST(SUM(CAST(r2 - (n + 1) AS HUGEINT) * (r2 - (n + 1)))
               AS HUGEINT) AS den_r,
             CAST(SUM(CAST(dx AS HUGEINT) * dx) AS DOUBLE) AS num_x,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
      FROM d)
    SELECT n AS n_days,
           CAST(round(CAST(num_r AS DOUBLE) / CAST(den_r AS DOUBLE)
             * 1000000E0, 0) AS BIGINT) AS bartels_rvn_micro,
           CAST(round((CAST(num_r AS DOUBLE) / CAST(den_r AS DOUBLE) - 2E0)
             / sqrt(4E0 * (n - 2E0) * (5E0 * n * n - 2E0 * n - 9E0)
                    / (5E0 * n * (n + 1E0) * (n - 1E0) * (n - 1E0)))
             * 1000000E0, 0) AS BIGINT) AS bartels_z_micro,
           CAST(round(num_x / (sxx - CAST(sx AS DOUBLE) * sx / n)
             * 1000000E0, 0) AS BIGINT) AS von_neumann_micro
    FROM agg
    """,
)
def bartels_von_neumann_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank ratio and von Neumann ratio of daily revenue — the
    successive-difference randomness tests: RVN = Σ(r_i − r_{i+1})² /
    Σ(r_i − r̄)² on midranks (Bartels) and the same on raw values (von
    Neumann). Near 2 = serially independent; << 2 = positive
    persistence (trends/level shifts); >> 2 = alternation. Bartels is
    the rank-robust upgrade of runs_test_daily_revenue (runs discard
    magnitude entirely; RVN keeps ordinal magnitude) and reads beside
    durbin_watson (whose statistic is von Neumann on OLS residuals).

    Exactness: doubled midranks (2R) keep ties integral and cancel in
    the ratio; the rank mean of 2R is exactly n+1, so numerator and
    denominator are exact wide integers; Bartels' exact null variance
    is one mirrored expression; the raw-value ratio runs over exact
    cents power sums.

    Scale: day-grain reduction, one value-grain rank join, one ordered
    window over ~2.4k rows (documented tiny-window exception)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    t = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("rn"), "x"
    )
    vr = t.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    vc = vr.select(
        "x",
        (
            2 * (F.sum("c").over(wv).cast("bigint") - F.col("c"))
            + F.col("c")
            + 1
        ).alias("r2"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = t.join(vc, "x").select(
        "rn", "x", "r2", F.count(F.lit(1)).over(wall).cast("bigint").alias("n")
    )
    wrn = Window.orderBy("rn")
    d = s.select(
        "n",
        "x",
        "r2",
        (F.col("r2") - F.lead("r2").over(wrn)).alias("dr"),
        (F.col("x") - F.lead("x").over(wrn)).alias("dx"),
    )
    agg = d.agg(
        F.max("n").alias("n"),
        F.sum(F.col("dr").cast("decimal(38,0)") * F.col("dr"))
        .cast("decimal(38,0)")
        .alias("num_r"),
        F.sum(
            (F.col("r2") - (F.col("n") + 1)).cast("decimal(38,0)")
            * (F.col("r2") - (F.col("n") + 1))
        )
        .cast("decimal(38,0)")
        .alias("den_r"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dx"))
        .cast("double")
        .alias("num_x"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(round(CAST(num_r AS DOUBLE) / CAST(den_r AS DOUBLE)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("bartels_rvn_micro"),
        F.expr(
            "CAST(round((CAST(num_r AS DOUBLE) / CAST(den_r AS DOUBLE)"
            " - 2E0)"
            " / sqrt(4E0 * (n - 2E0) * (5E0 * n * n - 2E0 * n - 9E0)"
            "        / (5E0 * n * (n + 1E0) * (n - 1E0) * (n - 1E0)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("bartels_z_micro"),
        F.expr(
            "CAST(round(num_x / (sxx - CAST(sx AS DOUBLE) * sx / n)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("von_neumann_micro"),
    )


@register(
    "percentile_disc_delay_by_priority",
    oracle=_DELAY_GRAIN_CTE
    + """
    , n AS (
      SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
    cum AS (
      SELECT c.pr, c.v, n.n,
             CAST(SUM(c.c) OVER (PARTITION BY c.pr ORDER BY c.v)
               AS BIGINT) AS cum
      FROM c JOIN n ON c.pr = n.pr)
    SELECT pr AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (n * 1 + 3) // 4 THEN v END)
             AS BIGINT) AS q25,
           CAST(MIN(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END)
             AS BIGINT) AS q50,
           CAST(MIN(CASE WHEN cum >= (n * 3 + 3) // 4 THEN v END)
             AS BIGINT) AS q75,
           CAST(MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END)
             AS BIGINT) AS q90
    FROM cum GROUP BY pr ORDER BY o_orderpriority
    """,
)
def percentile_disc_delay_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DISCRETE percentiles (exact order statistics, quantile_disc
    semantics: the ceil(p·n)-th smallest value — always an OBSERVED
    delay, never an interpolated fraction of a day) of ship delay per
    priority. The integer-exact sibling of percentile_exact's
    interpolated quantiles: for reporting 'the p90 delay was 55 days'
    an interpolated 54.3 is a value no order ever had, and the disc
    form needs no 6-dp rounding truce between engines — every output
    is an exact integer.

    Exactness: pure integer arithmetic end-to-end — cumulative counts
    at the value grain, rank thresholds ceil(p·n) as integer ceiling
    divisions, min-over-qualifying-values. Nothing to round.

    Scale: rides the (priority, delay) value grain (the _delay_grain
    device); one per-priority window."""
    c = _delay_grain(spark, sf_dir)
    n = c.groupBy("pr").agg(F.sum("c").cast("bigint").alias("n"))
    wv = (
        Window.partitionBy("pr")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = c.join(n, "pr").select(
        "pr", "v", "n", F.sum("c").over(wv).cast("bigint").alias("cum")
    )

    def disc(num: int, den: int, alias: str):
        return (
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(f"(n * {num} + {den - 1}) DIV {den}"),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias(alias)
        )

    return (
        cum.groupBy(F.col("pr").alias("o_orderpriority"))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            disc(1, 4, "q25"),
            disc(1, 2, "q50"),
            disc(3, 4, "q75"),
            disc(9, 10, "q90"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "pythagorean_means_by_type",
    oracle="""
    WITH px AS (
      SELECT p.p_type AS ty,
             CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT ty AS p_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT) AS am_micro,
           CAST(round(exp(CAST(SUM(CAST(round(ln(CAST(cents AS DOUBLE))
               * 1000000000E0, 0) AS BIGINT)) AS DOUBLE)
             / 1000000000E0 / COUNT(*)) * 1000000E0, 0) AS BIGINT)
             AS gm_micro,
           CAST(round(CAST(COUNT(*) AS DOUBLE)
             / (CAST(SUM(CAST(round(1000000000000E0
                 / CAST(cents AS DOUBLE), 0) AS BIGINT)) AS DOUBLE)
                / 1000000000000E0) * 1000000E0, 0) AS BIGINT) AS hm_micro
    FROM px GROUP BY ty ORDER BY p_type
    """,
)
def pythagorean_means_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three Pythagorean means of line price per part type —
    arithmetic (what finance reports), geometric (what compounding and
    index numbers need), harmonic (what per-unit rates average
    correctly). AM ≥ GM ≥ HM always; the SPREAD between them is itself
    a dispersion diagnostic (AM/GM − 1 ≈ half the squared CV for tight
    distributions), so three means read as a distribution summary,
    not redundancy.

    Exactness: AM is an exact integer micro floor-division of cents;
    GM's Σln and HM's Σ(1/x) are tick-quantized per line (1e-9 and
    1e-12 respectively) so the per-type reductions are order-
    independent; one mirrored exp / division each.

    Scale: one (type) rollup off the fact join; ~150 output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    px = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_type").alias("ty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    lntick = F.round(F.log(F.col("cents").cast("double")) * 1e9, 0).cast(
        "bigint"
    )
    invtick = F.round(F.lit(1e12) / F.col("cents").cast("double"), 0).cast(
        "bigint"
    )
    return (
        px.groupBy(F.col("ty").alias("p_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST(SUM(cents) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("am_micro"),
            F.round(
                F.exp(
                    F.sum(lntick).cast("double") / 1e9 / F.count(F.lit(1))
                )
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("gm_micro"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / (F.sum(invtick).cast("double") / 1e12)
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("hm_micro"),
        )
        .orderBy("p_type")
    )


#: debounce refractory window (seconds) — events of the same
#: (user, type) within this span of the last KEPT event are dropped
_DEBOUNCE_SEC = 600
#: integer-encoded fold state: last_kept_second * 100000 + kept_count.
#: Both engines' list folds take ONE scalar accumulator of the element
#: type, so the (last, count) pair packs into a single BIGINT — epoch
#: seconds (~1.7e9) x 1e5 stays far inside int64, and per-key event
#: counts stay below the 1e5 radix by orders of magnitude.
_DEBOUNCE_STEP_T = (
    "CASE WHEN ({x} {d} 100000) >= (acc {d} 100000) + "
    + str(_DEBOUNCE_SEC)
    + " THEN ({x} {d} 100000) * 100000 + (acc % 100000) + 1 ELSE acc END"
)


@register(
    "debounce_events_by_type",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
      FROM events),
    k AS (
      SELECT user_id, event_type,
             list_sort(list(sec * 100000 + 1)) AS encs,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1, 2),
    folded AS (
      SELECT event_type, n_events,
             CASE WHEN len(encs) = 1 THEN encs[1]
                  ELSE list_reduce(encs, (acc, x) ->
                    {_DEBOUNCE_STEP_T.format(x="x", d="//")})
             END % 100000 AS n_kept
      FROM k)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(n_kept) AS BIGINT) AS n_kept,
           CAST(SUM(n_kept) * 1000000 // SUM(n_events) AS BIGINT)
             AS kept_rate_micro
    FROM folded GROUP BY event_type ORDER BY event_type
    """,
)
def debounce_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce the event stream: within each (user, event_type), an
    event is KEPT only if it falls ≥ {_DEBOUNCE_SEC}s after the last
    KEPT event — the refractory-window semantics of UI debouncing /
    alert suppression / sensor dedup. This is NOT expressible with a
    lag() window (the anchor is the last KEPT event, which depends on
    every prior decision), so it is the per-key sequential-fold shape:
    the same reduce-then-fold device as EWMA/Holt-Winters but
    partitioned — thousands of independent key folds run in parallel,
    one sorted array each.

    Exactness: the fold state packs (last-kept second, kept count) into
    one integer (seconds × 1e5 + count — both engines' list folds take
    a single scalar accumulator of the element type); encoded inputs
    sort identically to timestamps; DuckDB's list_reduce seeds with the
    first ELEMENT, so Spark's aggregate folds slice(2..) from arr[1] —
    same trajectory.

    Scale: one shuffle by key, per-key arrays bounded by per-user-type
    event counts; output is |event_type| rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS BIGINT)"
        ).alias("sec"),
    )
    k = ev.groupBy("user_id", "event_type").agg(
        F.array_sort(F.collect_list(F.col("sec") * 100000 + 1)).alias(
            "encs"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    step = _DEBOUNCE_STEP_T.format(x="x", d="DIV")
    folded = k.select(
        "event_type",
        "n_events",
        F.expr(
            "CASE WHEN size(encs) = 1 THEN element_at(encs, 1)"
            " ELSE aggregate(slice(encs, 2, size(encs) - 1),"
            f" element_at(encs, 1), (acc, x) -> {step})"
            " END % 100000"
        )
        .cast("bigint")
        .alias("n_kept"),
    )
    return (
        folded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("n_kept").cast("bigint").alias("n_kept"),
            F.expr(
                "CAST(SUM(n_kept) * 1000000 DIV SUM(n_events) AS BIGINT)"
            ).alias("kept_rate_micro"),
        )
        .orderBy("event_type")
    )


#: SES step over the theta-2 line, quantized to integer cents per step
#: — shared text for Spark's fold and the oracle's recursive CTE
_THETA_SES = "CAST(round(0.3E0 * {z} + 0.7E0 * {s}, 0) AS BIGINT)"


@register(
    "theta_method_forecast_daily",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(round((CAST(SUM(CAST(x AS HUGEINT) * t) AS DOUBLE)
                 - CAST(SUM(t) AS DOUBLE) * SUM(x) / COUNT(*))
               / (CAST(SUM(CAST(t AS HUGEINT) * t) AS DOUBLE)
                 - CAST(SUM(t) AS DOUBLE) * SUM(t) / COUNT(*))
               * 1000000E0, 0) AS BIGINT) AS b_micro,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(t) AS BIGINT) AS st
      FROM t),
    ab AS (
      SELECT n, b_micro,
             CAST(round(CAST(sx AS DOUBLE) / n
               - CAST(b_micro AS DOUBLE) / 1000000E0
                 * CAST(st AS DOUBLE) / n, 0) AS BIGINT) AS a_cents
      FROM ols),
    z AS (
      SELECT t.t,
             CAST(2 * t.x - ab.a_cents
               - CAST(round(CAST(ab.b_micro AS DOUBLE) * t.t
                   / 1000000E0, 0) AS BIGINT) AS BIGINT) AS z
      FROM t CROSS JOIN ab),
    ses(i, s) AS (
      SELECT CAST(0 AS BIGINT), (SELECT z FROM z WHERE t = 0)
      UNION ALL
      SELECT ses.i + 1, {_THETA_SES.format(z="z.z", s="ses.s")}
      FROM ses JOIN z ON z.t = ses.i + 1
      WHERE ses.i + 1 < (SELECT n FROM ab))
    SELECT ab.n AS n_days, ab.a_cents, ab.b_micro,
           fin.s AS ses_theta2_cents,
           CAST(round((CAST(ab.a_cents AS DOUBLE)
               + CAST(ab.b_micro AS DOUBLE) / 1000000E0 * ab.n
               + fin.s) / 2E0, 0) AS BIGINT) AS forecast_1_cents,
           CAST(round((CAST(ab.a_cents AS DOUBLE)
               + CAST(ab.b_micro AS DOUBLE) / 1000000E0 * (ab.n + 6)
               + fin.s) / 2E0, 0) AS BIGINT) AS forecast_7_cents
    FROM ab CROSS JOIN (SELECT s FROM ses WHERE i = (SELECT n - 1 FROM ab))
      AS fin(s)
    """,
)
def theta_method_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THETA method (Assimakopoulos & Nikolopoulos — winner of the
    M3 forecasting competition) on daily revenue: decompose the series
    into the θ=0 line (the OLS trend, pure long-run signal) and the
    θ=2 line (2Y − trend, curvature doubled), SES-smooth the θ=2 line
    (α=0.3), and forecast as the equal-weight average of the
    extrapolated trend and the flat SES level. Beats Holt and
    seasonal-naive on most M3 series with two moving parts — the
    strong-classical-baseline every fancier model must clear, beside
    holt_level_trend / holt_winters / MASE on the forecasting shelf.

    Exactness: OLS slope/intercept come from exact wide-integer
    sufficient statistics quantized once (b to micro, a to cents); the
    θ=2 line is integer cents per point by construction; the SES fold
    quantizes each step to integer cents, so Spark's JVM `aggregate`
    and the oracle's recursive CTE walk one integer trajectory; the
    final averages are mirrored expressions.

    Scale: day-grain reduce-then-fold — one sorted-array fold, no
    per-step shuffle."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x"
    )
    ols = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(round((CAST(SUM(CAST(x AS DECIMAL(38,0)) * t) AS DOUBLE)"
            "   - CAST(SUM(t) AS DOUBLE) * SUM(x) / COUNT(*))"
            " / (CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS DOUBLE)"
            "   - CAST(SUM(t) AS DOUBLE) * SUM(t) / COUNT(*))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("b_micro"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("t").cast("bigint").alias("st"),
    )
    ab = ols.select(
        "n",
        "b_micro",
        F.expr(
            "CAST(round(CAST(sx AS DOUBLE) / n"
            " - CAST(b_micro AS DOUBLE) / 1000000E0"
            "   * CAST(st AS DOUBLE) / n, 0) AS BIGINT)"
        ).alias("a_cents"),
    )
    z = t.crossJoin(F.broadcast(ab)).select(
        "t",
        "n",
        "a_cents",
        "b_micro",
        F.expr(
            "CAST(2 * x - a_cents"
            " - CAST(round(CAST(b_micro AS DOUBLE) * t"
            "     / 1000000E0, 0) AS BIGINT) AS BIGINT)"
        ).alias("z"),
    )
    step = _THETA_SES.format(z="zz", s="acc")
    row = z.groupBy("n", "a_cents", "b_micro").agg(
        F.array_sort(F.collect_list(F.struct("t", "z"))).alias("zs")
    )
    folded = F.expr(
        "aggregate(slice(transform(zs, r -> r.z), 2, size(zs) - 1),"
        f" element_at(zs, 1).z, (acc, zz) -> {step})"
    )
    return row.select(
        F.col("n").alias("n_days"),
        "a_cents",
        "b_micro",
        folded.alias("ses_theta2_cents"),
        F.round(
            (
                F.col("a_cents").cast("double")
                + F.col("b_micro").cast("double") / 1e6 * F.col("n")
                + folded
            )
            / 2.0,
            0,
        )
        .cast("bigint")
        .alias("forecast_1_cents"),
        F.round(
            (
                F.col("a_cents").cast("double")
                + F.col("b_micro").cast("double") / 1e6 * (F.col("n") + 6)
                + folded
            )
            / 2.0,
            0,
        )
        .cast("bigint")
        .alias("forecast_7_cents"),
    )


@register(
    "energy_distance_delay",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + """
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN pr = '5-LOW' THEN c ELSE 0 END)
               AS BIGINT) AS cb
      FROM c GROUP BY v),
    cum AS (
      SELECT v, ca, cb,
             CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cca,
             CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS ccb,
             CAST(SUM(ca * v) OVER (ORDER BY v) AS BIGINT) AS csa,
             CAST(SUM(cb * v) OVER (ORDER BY v) AS BIGINT) AS csb,
             CAST(SUM(ca) OVER () AS BIGINT) AS m,
             CAST(SUM(cb) OVER () AS BIGINT) AS n,
             CAST(SUM(ca * v) OVER () AS BIGINT) AS ta,
             CAST(SUM(cb * v) OVER () AS BIGINT) AS tb
      FROM vg),
    s AS (
      SELECT MAX(m) AS m, MAX(n) AS n,
             CAST(SUM(CAST(cb AS HUGEINT)
               * (v * cca - csa + (ta - csa) - v * (m - cca)))
               AS HUGEINT) AS sab,
             CAST(SUM(CAST(ca AS HUGEINT)
               * (v * cca - csa + (ta - csa) - v * (m - cca)))
               AS HUGEINT) AS saa,
             CAST(SUM(CAST(cb AS HUGEINT)
               * (v * ccb - csb + (tb - csb) - v * (n - ccb)))
               AS HUGEINT) AS sbb
      FROM cum)
    SELECT m AS n_urgent, n AS n_low,
           CAST(round((2E0 * CAST(sab AS DOUBLE) / m / n
               - CAST(saa AS DOUBLE) / m / m
               - CAST(sbb AS DOUBLE) / n / n) * 1000000E0, 0) AS BIGINT)
             AS energy_dist_micro,
           CAST(round(CAST(m AS DOUBLE) * n / (m + n)
             * (2E0 * CAST(sab AS DOUBLE) / m / n
               - CAST(saa AS DOUBLE) / m / m
               - CAST(sbb AS DOUBLE) / n / n) * 1000000E0, 0) AS BIGINT)
             AS energy_t_micro
    FROM s
    """,
)
def energy_distance_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between URGENT and LOW ship-delay distributions:
    E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — Székely's metric two-sample
    statistic, zero iff the distributions are IDENTICAL, sensitive to
    location, scale and shape at once where KS sees only the max CDF
    gap and Wasserstein integrates it linearly; the T = mn/(m+n)·E form
    is the permutation-test statistic. Completes the two-sample shelf:
    KS / CvM / AD (CDF functionals), Wasserstein (transport), energy
    (pairwise-distance kernel).

    Exactness: every pairwise-|difference| sum collapses to prefix-sum
    closed forms on the value grain — Σᵢⱼ cᵢcⱼ|vᵢ−vⱼ| is an exact wide
    integer via cumulative counts and cumulative value-sums (no pair
    join, no doubles until the final mirrored expression).

    Scale: one value-grain window pass; one-row output."""
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("pr") == "5-LOW", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "v",
        "ca",
        "cb",
        F.sum("ca").over(wv).cast("bigint").alias("cca"),
        F.sum("cb").over(wv).cast("bigint").alias("ccb"),
        F.sum(F.col("ca") * F.col("v")).over(wv).cast("bigint").alias("csa"),
        F.sum(F.col("cb") * F.col("v")).over(wv).cast("bigint").alias("csb"),
        F.sum("ca").over(wall).cast("bigint").alias("m"),
        F.sum("cb").over(wall).cast("bigint").alias("n"),
        F.sum(F.col("ca") * F.col("v")).over(wall).cast("bigint").alias("ta"),
        F.sum(F.col("cb") * F.col("v")).over(wall).cast("bigint").alias("tb"),
    )
    inner_a = (
        "(v * cca - csa + (ta - csa) - v * (m - cca))"
    )
    inner_b = (
        "(v * ccb - csb + (tb - csb) - v * (n - ccb))"
    )
    s = cum.agg(
        F.max("m").alias("m"),
        F.max("n").alias("n"),
        F.sum(F.expr(f"CAST(cb AS DECIMAL(38,0)) * {inner_a}"))
        .cast("decimal(38,0)")
        .alias("sab"),
        F.sum(F.expr(f"CAST(ca AS DECIMAL(38,0)) * {inner_a}"))
        .cast("decimal(38,0)")
        .alias("saa"),
        F.sum(F.expr(f"CAST(cb AS DECIMAL(38,0)) * {inner_b}"))
        .cast("decimal(38,0)")
        .alias("sbb"),
    )
    e_expr = (
        "(2E0 * CAST(sab AS DOUBLE) / m / n"
        " - CAST(saa AS DOUBLE) / m / m"
        " - CAST(sbb AS DOUBLE) / n / n)"
    )
    return s.select(
        F.col("m").alias("n_urgent"),
        F.col("n").alias("n_low"),
        F.expr(
            f"CAST(round({e_expr} * 1000000E0, 0) AS BIGINT)"
        ).alias("energy_dist_micro"),
        F.expr(
            f"CAST(round(CAST(m AS DOUBLE) * n / (m + n) * {e_expr}"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("energy_t_micro"),
    )


@register(
    "fdr_by_screening",
    oracle=f"""
    WITH pn AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
               THEN 1 ELSE 0 END) AS BIGINT) AS u
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    t AS (
      SELECT pn.*, CAST(SUM(n) OVER () AS BIGINT) AS tn,
             CAST(SUM(u) OVER () AS BIGINT) AS tu
      FROM pn),
    z AS (
      SELECT nk, n, u,
             abs((CAST(u AS DOUBLE) / n - CAST(tu AS DOUBLE) / tn)
               / sqrt((CAST(tu AS DOUBLE) / tn)
                 * (1 - CAST(tu AS DOUBLE) / tn) / n)) AS az
      FROM z0),
    p AS (
      SELECT nk, n, u,
             CAST(round(2 * ({_PHI_TAIL}) * 1000000000, 0) AS BIGINT)
               AS p_nano
      FROM z),
    r AS (
      SELECT p.*, ROW_NUMBER() OVER (ORDER BY p_nano, nk) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p),
    cm AS (
      SELECT CAST(SUM(1000000000 // rk) AS BIGINT) AS cm_nano FROM r),
    f AS (
      SELECT r.*, cm.cm_nano,
             CASE WHEN CAST(p_nano AS HUGEINT) * m * cm.cm_nano
               <= CAST(rk AS HUGEINT) * {_FDR_ALPHA_NANO} * 1000000000
               THEN rk ELSE 0 END AS hit
      FROM r CROSS JOIN cm),
    g AS (SELECT f.*, CAST(MAX(hit) OVER () AS BIGINT) AS cutoff FROM f)
    SELECT nk AS nationkey, n AS n_orders, u AS n_urgent, p_nano,
           rk AS p_rank,
           CAST(CASE WHEN rk <= cutoff THEN 1 ELSE 0 END AS BIGINT)
             AS significant
    FROM g ORDER BY p_rank
    """.replace("FROM z0", "FROM t"),
)
def fdr_by_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR screening of per-nation URGENT-share
    deviations — the same p-value ladder as fdr_bh_screening but with
    the harmonic correction c(m) = Σ 1/i that keeps the false-discovery
    guarantee under ARBITRARY dependence between tests (the 25 nation
    shares share the global denominator, so they are not independent —
    BY is the honest threshold here; BH's threshold is ~c(m)≈3.8x more
    generous at m=25 and valid only under positive dependence). Running
    both names exactly which discoveries survive the conservative
    correction.

    Exactness: identical exact p-value ladder as BH (normal-tail nano
    p-values); c(m) accumulates as integer nano ticks of 1e9//i, and
    the BY inequality compares exact wide-integer products — no double
    crosses the threshold decision.

    Scale: nation-grain (25 rows) end-to-end after one fact rollup."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pn = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("u"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = pn.select(
        "*",
        F.sum("n").over(w_all).cast("bigint").alias("tn"),
        F.sum("u").over(w_all).cast("bigint").alias("tu"),
    )
    z = t.select(
        "nk",
        "n",
        "u",
        F.expr(
            "abs((CAST(u AS DOUBLE) / n - CAST(tu AS DOUBLE) / tn)"
            " / sqrt((CAST(tu AS DOUBLE) / tn)"
            " * (1 - CAST(tu AS DOUBLE) / tn) / n))"
        ).alias("az"),
    )
    p = z.select(
        "nk",
        "n",
        "u",
        F.expr(
            f"CAST(round(2 * ({_PHI_TAIL}) * 1000000000, 0) AS BIGINT)"
        ).alias("p_nano"),
    )
    r = p.select(
        "*",
        F.row_number().over(Window.orderBy("p_nano", "nk")).alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("m"),
    )
    cm = r.agg(
        F.sum(F.expr("1000000000 DIV rk")).cast("bigint").alias("cm_nano")
    )
    f = r.crossJoin(F.broadcast(cm)).withColumn(
        "hit",
        F.expr(
            "CASE WHEN CAST(p_nano AS DECIMAL(38,0)) * m * cm_nano"
            f" <= CAST(rk AS DECIMAL(38,0)) * {_FDR_ALPHA_NANO}"
            " * 1000000000 THEN rk ELSE 0 END"
        ),
    )
    g = f.withColumn("cutoff", F.max("hit").over(w_all).cast("bigint"))
    return g.select(
        F.col("nk").alias("nationkey"),
        F.col("n").alias("n_orders"),
        F.col("u").alias("n_urgent"),
        "p_nano",
        F.col("rk").alias("p_rank"),
        F.when(F.col("rk") <= F.col("cutoff"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("significant"),
    ).orderBy("p_rank")


def _esd_oracle() -> str:
    """Rosner recursion in layered-subquery form: each recursive step
    binds mean/sd/maxdev/val once (SQL lets the CTE nest SELECTs where
    the Spark fold lambda must inline — equal because every bound value
    is a deterministic function of the same sorted integer array)."""
    return """
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    arr0 AS (SELECT list_sort(list(x)) AS arr FROM daily),
    esd(i, arr, rs, vs) AS (
      SELECT 0, arr, CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
      FROM arr0
      UNION ALL
      SELECT i + 1,
             list_concat(arr[1 : pos - 1], arr[pos + 1 :]),
             list_append(rs, CAST(round(maxdev / sd * 1000000E0, 0)
               AS BIGINT)),
             list_append(vs, val)
      FROM (
        SELECT i, arr, rs, vs, m, sd, maxdev,
               CAST(list_max(list_filter(arr,
                 x -> abs(CAST(x AS DOUBLE) - m) = maxdev)) AS BIGINT)
                 AS val,
               list_position(arr, CAST(list_max(list_filter(arr,
                 x -> abs(CAST(x AS DOUBLE) - m) = maxdev)) AS BIGINT))
                 AS pos
        FROM (
          SELECT i, arr, rs, vs, m,
                 sqrt((s2 - len(arr) * m * m) / (len(arr) - 1)) AS sd,
                 list_max(list_transform(arr,
                   x -> abs(CAST(x AS DOUBLE) - m))) AS maxdev
          FROM (
            SELECT i, arr, rs, vs,
                   CAST(list_sum(arr) AS DOUBLE) / len(arr) AS m,
                   list_sum(list_transform(arr,
                     x -> CAST(x AS DOUBLE) * x)) AS s2
            FROM esd WHERE i < 5))))
    SELECT u.i AS iteration, vs[u.i] AS removed_cents,
           rs[u.i] AS r_stat_micro
    FROM (SELECT rs, vs FROM esd WHERE i = 5) f,
         LATERAL unnest(generate_series(1, 5)) AS u(i)
    ORDER BY iteration
    """


@register("rosner_esd_extremes_daily", oracle=_esd_oracle())
def rosner_esd_extremes_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rosner's generalized ESD sequence on daily revenue: five rounds
    of (studentize, remove the most extreme day, recompute mean and sd
    WITHOUT it) — the multi-outlier procedure that fixes Grubbs'
    masking failure (one huge day inflates sd enough to hide the
    second; removing it first unmasks the rest, which is why each R_i
    is computed AFTER the previous removals). Emits the removal order,
    the removed values, and each round's R statistic — the top-5
    anomaly ranking a monitoring pipeline acts on.

    Exactness: the state is the SORTED integer-cents array, so both
    engines' folds see identical element order; per-round mean/Σx² are
    sequential left-to-right double folds over that shared order (IEEE-
    identical), the arg-max element resolves by (deviation, value) with
    double equality of identically-computed expressions, and removal
    splices exactly ONE occurrence by first position. The oracle binds
    each round's scalars in layered subqueries where the Spark lambda
    inlines them — equal by determinism.

    Scale: reduce-then-fold (the EWMA/Holt-Winters device with element
    REMOVAL): one day-grain rollup, one single-row 5-step fold."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    row = daily.agg(F.array_sort(F.collect_list("x")).alias("arr"))
    # k=5 fixed iterations UNROLLED into bound-column stages: inlining
    # the mean/maxdev scalars inside one fold lambda re-evaluates them
    # per element (O(n^3) per step at n≈2400 days — observed hang);
    # binding each round's scalars as columns keeps every stage O(n),
    # exactly how the oracle binds them in layered subqueries.
    df = row.select(
        "arr",
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("rs"),
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("vs"),
    )
    for _ in range(5):
        df = df.select(
            "arr",
            "rs",
            "vs",
            F.expr(
                "CAST(aggregate(arr, CAST(0 AS BIGINT), (a, x) -> a + x)"
                " AS DOUBLE) / size(arr)"
            ).alias("m"),
            F.expr(
                "aggregate(arr, CAST(0 AS DOUBLE),"
                " (a, x) -> a + CAST(x AS DOUBLE) * x)"
            ).alias("s2"),
        )
        df = df.select(
            "arr",
            "rs",
            "vs",
            "m",
            F.expr(
                "sqrt((s2 - size(arr) * m * m) / (size(arr) - 1))"
            ).alias("sd"),
            F.expr(
                "array_max(transform(arr,"
                " x -> abs(CAST(x AS DOUBLE) - m)))"
            ).alias("maxdev"),
        )
        df = df.select(
            "arr",
            "rs",
            "vs",
            "sd",
            "maxdev",
            F.expr(
                "CAST(array_max(filter(arr,"
                " x -> abs(CAST(x AS DOUBLE) - m) = maxdev)) AS BIGINT)"
            ).alias("val"),
        )
        df = df.select(
            "arr",
            "rs",
            "vs",
            "sd",
            "maxdev",
            "val",
            F.expr("CAST(array_position(arr, val) AS INT)").alias("pos"),
        )
        df = df.select(
            F.expr(
                "concat(slice(arr, 1, pos - 1),"
                " slice(arr, pos + 1, size(arr) - pos))"
            ).alias("arr"),
            F.expr(
                "concat(rs, array(CAST(round(maxdev / sd * 1000000E0, 0)"
                " AS BIGINT)))"
            ).alias("rs"),
            F.expr("concat(vs, array(val))").alias("vs"),
        )
    out = df.select(
        F.posexplode(F.arrays_zip("rs", "vs")).alias("idx", "z")
    )
    return out.select(
        (F.col("idx") + 1).cast("bigint").alias("iteration"),
        F.col("z.vs").cast("bigint").alias("removed_cents"),
        F.col("z.rs").cast("bigint").alias("r_stat_micro"),
    ).orderBy("iteration")


@register(
    "tail_dependence_value_delay",
    oracle="""
    WITH d AS (
      SELECT CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS x,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS y
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    qx AS (
      SELECT x AS q, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM d),
    qy AS (
      SELECT y AS q, ROW_NUMBER() OVER (ORDER BY y) AS rn FROM d),
    th AS (
      SELECT (SELECT q FROM qx WHERE rn = (SELECT (n * 9 + 9) // 10
                FROM n)) AS x90,
             (SELECT q FROM qy WHERE rn = (SELECT (n * 9 + 9) // 10
                FROM n)) AS y90,
             (SELECT q FROM qx WHERE rn = (SELECT (n + 9) // 10
                FROM n)) AS x10,
             (SELECT q FROM qy WHERE rn = (SELECT (n + 9) // 10
                FROM n)) AS y10),
    cnt AS (
      SELECT CAST(SUM(CASE WHEN x > x90 THEN 1 ELSE 0 END) AS BIGINT)
               AS nx_hi,
             CAST(SUM(CASE WHEN x > x90 AND y > y90 THEN 1 ELSE 0 END)
               AS BIGINT) AS nxy_hi,
             CAST(SUM(CASE WHEN x <= x10 THEN 1 ELSE 0 END) AS BIGINT)
               AS nx_lo,
             CAST(SUM(CASE WHEN x <= x10 AND y <= y10 THEN 1 ELSE 0 END)
               AS BIGINT) AS nxy_lo
      FROM d CROSS JOIN th)
    SELECT n.n AS n_lines, cnt.nx_hi, cnt.nxy_hi,
           CAST(cnt.nxy_hi * 1000000 // cnt.nx_hi AS BIGINT)
             AS upper_tail_dep_micro,
           cnt.nx_lo, cnt.nxy_lo,
           CAST(cnt.nxy_lo * 1000000 // cnt.nx_lo AS BIGINT)
             AS lower_tail_dep_micro
    FROM cnt CROSS JOIN n
    """,
)
def tail_dependence_value_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail-dependence coefficients between order value and
    ship delay: λ_U = P(delay > its q90 | value > its q90) and the
    mirrored lower-tail λ_L — the copula-level question correlation
    cannot answer (two variables can be uncorrelated overall yet move
    TOGETHER in the tails, which is exactly where ops/finance risk
    lives: do the biggest orders also ship latest?). Values near the
    marginal 10% mean tail independence; well above it means joint
    extremes cluster.

    Exactness: thresholds are exact discrete order statistics (the
    ceil(p·n) convention pinned for percentile_disc); exceedance counts
    and both coefficients are exact integers (micro floor-division) —
    nothing to round.

    Scale: one fact join, one global order statistic each margin (the
    documented exact-quantile tradeoff — sketchable at 100 TB), one
    counting pass."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            cents("o_totalprice").cast("bigint").alias("x"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("y"),
        )
        .localCheckpoint()
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def disc(col: str, num: int, den: int, alias: str):
        vg = d.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        wv = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        cum = vg.select(
            F.col(col).alias("q"),
            F.sum("c").over(wv).cast("bigint").alias("cum"),
        ).crossJoin(F.broadcast(n))
        return cum.filter(
            F.col("cum") >= F.expr(f"(n * {num} + {den - 1}) DIV {den}")
        ).agg(F.min("q").cast("bigint").alias(alias))

    th = (
        disc("x", 9, 10, "x90")
        .crossJoin(disc("y", 9, 10, "y90"))
        .crossJoin(disc("x", 1, 10, "x10"))
        .crossJoin(disc("y", 1, 10, "y10"))
    )
    cnt = d.crossJoin(F.broadcast(th)).agg(
        F.sum(F.when(F.col("x") > F.col("x90"), 1).otherwise(0))
        .cast("bigint")
        .alias("nx_hi"),
        F.sum(
            F.when(
                (F.col("x") > F.col("x90")) & (F.col("y") > F.col("y90")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nxy_hi"),
        F.sum(F.when(F.col("x") <= F.col("x10"), 1).otherwise(0))
        .cast("bigint")
        .alias("nx_lo"),
        F.sum(
            F.when(
                (F.col("x") <= F.col("x10")) & (F.col("y") <= F.col("y10")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nxy_lo"),
    )
    return cnt.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_lines"),
        "nx_hi",
        "nxy_hi",
        F.expr("CAST(nxy_hi * 1000000 DIV nx_hi AS BIGINT)").alias(
            "upper_tail_dep_micro"
        ),
        "nx_lo",
        "nxy_lo",
        F.expr("CAST(nxy_lo * 1000000 DIV nx_lo AS BIGINT)").alias(
            "lower_tail_dep_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Round-10: post-hoc + robust-filter shelf.
# ---------------------------------------------------------------------------


@register(
    "dunns_posthoc_delay_priorities",
    oracle=_DELAY_GRAIN_CTE
    + """
    , tv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY v),
    r AS (
      SELECT v, t,
             2 * (CAST(SUM(t) OVER (ORDER BY v) AS BIGINT) - t) + t + 1
               AS r2
      FROM tv),
    nt AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS tie
      FROM tv),
    gp AS (
      SELECT c.pr, CAST(SUM(c.c) AS BIGINT) AS n_i,
             CAST(SUM(CAST(c.c AS HUGEINT) * r.r2) AS BIGINT) AS num_i
      FROM c JOIN r ON c.v = r.v GROUP BY c.pr),
    pz AS (
      SELECT a.pr AS pr_a, b.pr AS pr_b,
             a.n_i AS n_a, b.n_i AS n_b,
             CAST(round((CAST(a.num_i AS DOUBLE) / (2E0 * a.n_i)
                 - CAST(b.num_i AS DOUBLE) / (2E0 * b.n_i))
               / sqrt(((CAST(n.n AS DOUBLE) * (n.n + 1)
                        - CAST(n.tie AS DOUBLE) / (n.n - 1E0)) / 12E0)
                      * (1E0 / a.n_i + 1E0 / b.n_i))
               * 1000000E0, 0) AS BIGINT) AS z_micro
      FROM gp a JOIN gp b ON a.pr < b.pr CROSS JOIN nt n)
    SELECT pr_a, pr_b, n_a, n_b, z_micro,
           CAST(CASE WHEN abs(z_micro) > 2807034 THEN 1 ELSE 0 END
             AS BIGINT) AS significant
    FROM pz ORDER BY pr_a, pr_b
    """,
)
def dunns_posthoc_delay_priorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dunn's post-hoc test over all 10 priority pairs — the question
    an analyst actually asks AFTER kruskal_wallis_delay_by_priority
    rejects: WHICH priorities differ? Each pair's z uses the POOLED
    mean ranks (not a fresh pairwise ranking — that's the difference
    between Dunn and 10 Mann-Whitneys, and why the family shares one
    tie-corrected variance (N(N+1) − ΣT/(N−1))/12). Significance at the
    Bonferroni-adjusted two-sided 5% level for m=10 comparisons
    (|z| > z_{0.9975} = 2.807034, a shared literal in both engines,
    compared on the quantized micro value so the flag is
    deterministic).

    Exactness: pooled doubled midranks (2R) at the value grain; rank
    sums ride HUGEINT / decimal(38,0); ONE mirrored double expression
    per pair.

    Scale: value-grain windows only; 10 output rows from a 5-row
    aggregate self-join."""
    c = _delay_grain(spark, sf_dir)
    tv = c.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = tv.select(
        "v",
        "t",
        (
            2 * (F.sum("t").over(wv).cast("bigint") - F.col("t"))
            + F.col("t")
            + 1
        ).alias("r2"),
    )
    nt = tv.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("bigint")
        .alias("tie"),
    )
    gp = (
        c.join(r, "v")
        .groupBy("pr")
        .agg(
            F.sum("c").cast("bigint").alias("n_i"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("r2"))
            .cast("bigint")
            .alias("num_i"),
        )
    )
    a = gp.select(
        F.col("pr").alias("pr_a"),
        F.col("n_i").alias("n_a"),
        F.col("num_i").alias("num_a"),
    )
    b = gp.select(
        F.col("pr").alias("pr_b"),
        F.col("n_i").alias("n_b"),
        F.col("num_i").alias("num_b"),
    )
    pz = (
        a.join(F.broadcast(b), F.col("pr_a") < F.col("pr_b"))
        .crossJoin(F.broadcast(nt))
        .select(
            "pr_a",
            "pr_b",
            "n_a",
            "n_b",
            F.expr(
                "CAST(round((CAST(num_a AS DOUBLE) / (2E0 * n_a)"
                "   - CAST(num_b AS DOUBLE) / (2E0 * n_b))"
                " / sqrt(((CAST(n AS DOUBLE) * (n + 1)"
                "          - CAST(tie AS DOUBLE) / (n - 1E0)) / 12E0)"
                "        * (1E0 / n_a + 1E0 / n_b))"
                " * 1000000E0, 0) AS BIGINT)"
            ).alias("z_micro"),
        )
    )
    return pz.select(
        "pr_a",
        "pr_b",
        "n_a",
        "n_b",
        "z_micro",
        F.expr(
            "CAST(CASE WHEN abs(z_micro) > 2807034 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("significant"),
    ).orderBy("pr_a", "pr_b")


@register(
    "hampel_outlier_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    w AS (
      SELECT d, rev,
             list_sort(list(rev) OVER
               (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING))
               AS arr
      FROM daily),
    m AS (
      SELECT d, rev, arr, len(arr) AS k,
             arr[(len(arr) + 1) // 2] + arr[(len(arr) + 2) // 2] AS med2
      FROM w),
    h AS (
      SELECT d, rev, k, med2,
             list_sort(list_transform(arr, a -> abs(2 * a - med2)))
               AS darr
      FROM m),
    f AS (
      SELECT d, rev, med2,
             darr[(k + 1) // 2] + darr[(k + 2) // 2] AS ddm
      FROM h)
    SELECT d, rev AS revenue_cents,
           CAST(med2 AS BIGINT) AS med2_cents,
           CAST(ddm AS BIGINT) AS ddm_cents
    FROM f WHERE 2 * abs(2 * rev - med2) > 3 * ddm
    ORDER BY d
    """,
)
def hampel_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily-revenue series: a day is an outlier
    when it sits more than 3 robust sigmas — 3×MAD — from the MEDIAN of
    its ±7-day window. The rolling-window counterpart of the global
    robust detectors (mad_outliers, rosner_esd): a holiday spike that
    would poison a rolling MEAN control chart (ewma_control_chart)
    cannot drag the rolling median, so the filter flags it without
    masking its neighbors.

    Exactness: FULLY integer — the window median rides as a doubled
    value (arr[⌈k/2⌉]+arr[⌈(k+1)/2⌉] = 2·median for odd AND even k),
    deviations as doubled |2x−med2|, their median as ddm = 4·MAD, and
    the 3-sigma test |x−med| > 3·MAD becomes the integer comparison
    2·|2x−med2| > 3·ddm. No float exists anywhere in the operator.

    Scale: the one global-order window is over the |days| grain
    (~2,400 rows — the same single-partition concession every daily
    series op makes AFTER the fact-table reduction); each row carries a
    15-element array."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w15 = Window.orderBy("d").rowsBetween(-7, 7)
    arr = daily.select(
        "d", "rev", F.sort_array(F.collect_list("rev").over(w15)).alias("arr")
    )
    m = arr.select(
        "d",
        "rev",
        "arr",
        F.size("arr").alias("k"),
        F.expr(
            "element_at(arr, CAST((size(arr) + 1) / 2 AS INT))"
            " + element_at(arr, CAST((size(arr) + 2) / 2 AS INT))"
        ).alias("med2"),
    )
    h = m.select(
        "d",
        "rev",
        "k",
        "med2",
        F.expr(
            "sort_array(transform(arr, a -> abs(2 * a - med2)))"
        ).alias("darr"),
    )
    f = h.select(
        "d",
        "rev",
        "med2",
        F.expr(
            "element_at(darr, CAST((k + 1) / 2 AS INT))"
            " + element_at(darr, CAST((k + 2) / 2 AS INT))"
        ).alias("ddm"),
    )
    return (
        f.filter(
            2 * F.abs(2 * F.col("rev") - F.col("med2")) > 3 * F.col("ddm")
        )
        .select(
            "d",
            F.col("rev").alias("revenue_cents"),
            F.col("med2").cast("bigint").alias("med2_cents"),
            F.col("ddm").cast("bigint").alias("ddm_cents"),
        )
        .orderBy("d")
    )


@register(
    "wape_smape_daily_naive",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily),
    e AS (
      SELECT t, x, lag(x, 7) OVER (ORDER BY t) AS f
      FROM t),
    terms AS (
      SELECT t, x, f, abs(x - f) AS ae,
             CAST(round(2000000000E0 * abs(x - f)
               / (CAST(x AS DOUBLE) + f), 0) AS BIGINT) AS smape_nano
      FROM e WHERE t >= 7)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(ae) AS BIGINT) AS abs_err_cents,
           CAST(SUM(x) AS BIGINT) AS actual_cents,
           CAST(SUM(ae) * 1000000 // SUM(x) AS BIGINT) AS wape_ppm,
           CAST(SUM(smape_nano) // COUNT(*) AS BIGINT) AS smape_nano
    FROM terms
    """,
)
def wape_smape_daily_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAPE and sMAPE of the seasonal-naive-7 forecast on daily revenue
    — the two percentage-error KPIs operations teams actually report
    beside the statistician's MASE: WAPE (Σ|e|/Σ|y|, volume-weighted,
    immune to MAPE's divide-by-small-days blowup) and symmetric MAPE
    (mean of 2|e|/(y+ŷ), bounded at 200%). Same t ≥ 7 scoring window as
    mase_weekly_naive_daily so the three metrics grade one forecast.

    Exactness: error/actual sums exact integer cents; WAPE is integer
    ppm floor division; each sMAPE term is quantized to integer nano
    BEFORE the mean (order-independent reduction), then one integer
    floor division. Revenue is strictly positive so y+ŷ never divides
    by zero.

    Scale: day-grain reduction, one ~2.4k-row ordered window (the
    documented tiny-window exception)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x"
    )
    e = t.select(
        "t", "x", F.lag("x", 7).over(Window.orderBy("t")).alias("f")
    ).filter(F.col("t") >= 7)
    terms = e.select(
        "x",
        F.abs(F.col("x") - F.col("f")).alias("ae"),
        F.round(
            F.lit(2_000_000_000.0)
            * F.abs(F.col("x") - F.col("f"))
            / (F.col("x").cast("double") + F.col("f")),
            0,
        )
        .cast("bigint")
        .alias("smape_nano"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("ae").cast("bigint").alias("abs_err_cents"),
        F.sum("x").cast("bigint").alias("actual_cents"),
        F.expr("CAST(SUM(ae) * 1000000 DIV SUM(x) AS BIGINT)").alias(
            "wape_ppm"
        ),
        F.expr("CAST(SUM(smape_nano) DIV COUNT(*) AS BIGINT)").alias(
            "smape_nano"
        ),
    )


@register(
    "tracking_signal_daily_naive",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    t AS (SELECT row_number() OVER (ORDER BY day) - 1 AS t, x FROM daily),
    e AS (
      SELECT t, x - lag(x, 7) OVER (ORDER BY t) AS err
      FROM t),
    s AS (SELECT t - 7 AS i, err FROM e WHERE t >= 7),
    cum AS (
      SELECT i, err,
             CAST(SUM(err) OVER (ORDER BY i) AS BIGINT) AS ce,
             CAST(SUM(abs(err)) OVER (ORDER BY i) AS BIGINT) AS cae
      FROM s),
    ts AS (
      SELECT i,
             CAST(round(CAST(ce AS DOUBLE) * (i + 1)
               / CAST(cae AS DOUBLE) * 1000000E0, 0) AS BIGINT)
               AS ts_micro
      FROM cum WHERE cae > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST((SELECT ts_micro FROM ts ORDER BY i DESC LIMIT 1)
             AS BIGINT) AS final_ts_micro,
           CAST(MAX(abs(ts_micro)) AS BIGINT) AS max_abs_ts_micro,
           CAST(SUM(CASE WHEN abs(ts_micro) > 4000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_beyond_4
    FROM ts
    """,
)
def tracking_signal_daily_naive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trigg's tracking signal of the seasonal-naive-7 forecast:
    TS_t = (cumulative error) / (cumulative MAD) — the classic
    inventory-control monitor for forecast BIAS, which the symmetric
    error metrics (MASE/WAPE/sMAPE) are blind to by construction: a
    forecast that's 10% low every single day can have a fine WAPE while
    its TS marches past the ±4 action limit. Reports the final TS, the
    worst excursion, and the number of days beyond ±4 (the standard
    'investigate the forecast' rule).

    Exactness: cumulative error and cumulative |error| are exact
    integer window sums; each day's TS = ce·t/cae is ONE mirrored
    double division quantized to micro before the max/threshold
    reductions, so excursion counts are deterministic in both engines.

    Scale: day-grain reduction, ~2.4k-row ordered window (documented
    exception)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    t = daily.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"), "x"
    )
    s = (
        t.select(
            "t",
            (F.col("x") - F.lag("x", 7).over(Window.orderBy("t"))).alias(
                "err"
            ),
        )
        .filter(F.col("t") >= 7)
        .select((F.col("t") - 7).alias("i"), "err")
    )
    wi = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    cum = s.select(
        "i",
        F.sum("err").over(wi).cast("bigint").alias("ce"),
        F.sum(F.abs("err")).over(wi).cast("bigint").alias("cae"),
    )
    ts = cum.filter(F.col("cae") > 0).select(
        "i",
        F.round(
            F.col("ce").cast("double")
            * (F.col("i") + 1)
            / F.col("cae").cast("double")
            * 1_000_000.0,
            0,
        )
        .cast("bigint")
        .alias("ts_micro"),
    )
    last = (
        ts.orderBy(F.desc("i"))
        .limit(1)
        .select(F.col("ts_micro").alias("final_ts_micro"))
    )
    return (
        ts.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.max(F.abs("ts_micro")).cast("bigint").alias("max_abs_ts_micro"),
            F.sum(F.when(F.abs(F.col("ts_micro")) > 4_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_beyond_4"),
        )
        .crossJoin(F.broadcast(last))
        .select("n_scored", "final_ts_micro", "max_abs_ts_micro", "n_beyond_4")
    )


@register(
    "croston_intermittent_topk",
    oracle="""
    WITH ev AS (
      SELECT l_partkey AS p, CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(l_quantity) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2),
    arrs AS (
      SELECT p,
             list_sort(list(
               date_diff('day', DATE '1990-01-01', d) * 100000 + q)) AS a
      FROM ev GROUP BY p HAVING COUNT(*) >= 8),
    parts AS (
      SELECT p, len(a) AS n_events,
             list_transform(a, e -> e % 100000) AS qs,
             list_transform(a[2:], (e, ix) ->
               e // 100000 - a[ix] // 100000) AS ivs
      FROM arrs),
    folds AS (
      SELECT p, n_events,
             list_reduce(
               list_prepend(qs[1] * 1000000, qs[2:]),
               (acc, q) -> (2 * (4 * acc + q * 1000000) + 5) // 10)
               AS z_micro,
             list_reduce(
               list_prepend(ivs[1] * 1000000, ivs[2:]),
               (acc, i) -> (2 * (4 * acc + i * 1000000) + 5) // 10)
               AS p_micro
      FROM parts)
    SELECT p AS part_key, n_events,
           CAST(z_micro AS BIGINT) AS z_micro,
           CAST(p_micro AS BIGINT) AS p_micro,
           CAST((2 * z_micro * 1000000 + p_micro) // (2 * p_micro)
             AS BIGINT) AS rate_micro
    FROM folds
    ORDER BY rate_micro DESC, part_key LIMIT 20
    """,
)
def croston_intermittent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method over every part's intermittent demand series —
    THE standard forecast for sparse spare-parts-style demand, where
    ordinary SES is biased low by the zero days: smooth the nonzero
    demand SIZES and the inter-demand INTERVALS separately (α = 1/5)
    and forecast the per-day rate ẑ/p̂. Ranks the top-20 parts by
    forecasted daily demand rate — the reorder-priority list that
    completes the supply-chain shelf (newsvendor quantile, EOQ, safety
    stock all consume exactly this rate).

    Exactness: INTEGER end to end. The two SES folds are independent
    single-scalar recurrences, so no state packing: each step is the
    exact half-up rational z' = (4z + q·10⁶)/5 computed as
    (2(4z+q·10⁶)+5)//10 in int64; initialization is the textbook
    z₁ = first size, p₁ = first interval (DuckDB's list_reduce seeds
    from the first list element; Spark's aggregate takes it as the
    explicit init — the same device debounce_events_by_type pinned).
    The final rate is the exact half-up integer (2z·10⁶+p)//(2p).

    Scale: one (part, day) rollup, one per-part sorted array (≤ a few
    hundred events each), two O(n) folds per part — embarrassingly
    parallel by part, no window, no shuffle beyond the two rollups."""
    li = load_table(spark, sf_dir, "lineitem")
    ev = li.groupBy(
        F.col("l_partkey").alias("p"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(F.sum("l_quantity").cast("bigint").alias("q"))
    arrs = (
        ev.select(
            "p",
            (
                F.datediff(F.col("d"), F.lit("1990-01-01").cast("date"))
                .cast("bigint")
                * 100000
                + F.col("q")
            ).alias("e"),
        )
        .groupBy("p")
        .agg(F.sort_array(F.collect_list("e")).alias("a"))
        .filter(F.size("a") >= 8)
    )
    parts = arrs.select(
        "p",
        F.size("a").cast("bigint").alias("n_events"),
        F.expr("transform(a, e -> e % 100000)").alias("qs"),
        F.expr(
            "transform(slice(a, 2, size(a) - 1), (e, ix) ->"
            " e DIV 100000 - element_at(a, ix + 1) DIV 100000)"
        ).alias("ivs"),
    )
    folds = parts.select(
        "p",
        "n_events",
        F.expr(
            "aggregate(slice(qs, 2, size(qs) - 1),"
            " element_at(qs, 1) * CAST(1000000 AS BIGINT),"
            " (acc, q) -> (2 * (4 * acc + q * 1000000) + 5) DIV 10)"
        ).alias("z_micro"),
        F.expr(
            "aggregate(slice(ivs, 2, size(ivs) - 1),"
            " element_at(ivs, 1) * CAST(1000000 AS BIGINT),"
            " (acc, i) -> (2 * (4 * acc + i * 1000000) + 5) DIV 10)"
        ).alias("p_micro"),
    )
    return (
        folds.select(
            F.col("p").alias("part_key"),
            "n_events",
            F.col("z_micro").cast("bigint").alias("z_micro"),
            F.col("p_micro").cast("bigint").alias("p_micro"),
            F.expr(
                "CAST((2 * z_micro * 1000000 + p_micro)"
                " DIV (2 * p_micro) AS BIGINT)"
            ).alias("rate_micro"),
        )
        .orderBy(F.desc("rate_micro"), "part_key")
        .limit(20)
    )


@register(
    "qq_shift_function_delay",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + """
    , n AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
    cum AS (
      SELECT c.pr, c.v, n.n,
             CAST(SUM(c.c) OVER (PARTITION BY c.pr ORDER BY c.v)
               AS BIGINT) AS cum
      FROM c JOIN n ON c.pr = n.pr),
    ps AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p),
    qs AS (
      SELECT ps.p, cum.pr,
             CAST(MIN(CASE WHEN cum >= (n * p + 99) // 100 THEN v END)
               AS BIGINT) AS q
      FROM cum CROSS JOIN ps GROUP BY ps.p, cum.pr)
    SELECT a.p,
           a.q AS q_urgent, b.q AS q_low,
           CAST(b.q - a.q AS BIGINT) AS shift_days
    FROM qs a JOIN qs b ON a.p = b.p
    WHERE a.pr = '1-URGENT' AND b.pr = '5-LOW'
    ORDER BY a.p
    """,
)
def qq_shift_function_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doksum's quantile shift function between URGENT and LOW ship
    delays: Δ(p) = q_LOW(p) − q_URGENT(p) at each decile — the WHOLE
    story a single location test compresses to one number. A constant
    Δ(p) is a pure location shift (Hodges-Lehmann's world); Δ growing
    with p says the gap lives in the tail (slow orders get slower,
    matching the tail-dependence and scale-test findings); Δ crossing
    zero says neither group dominates. The nine rows ARE the QQ-plot
    against the diagonal, as data instead of a picture.

    Exactness: pure integer order statistics (quantile_disc semantics,
    ceil(p·n) integer ceiling divisions over value-grain cumulative
    counts). Nothing to round.

    Scale: value-grain windows; 9 output rows."""
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    n = c.groupBy("pr").agg(F.sum("c").cast("bigint").alias("n"))
    wv = Window.partitionBy("pr").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = c.join(F.broadcast(n), "pr").select(
        "pr", "v", "n", F.sum("c").over(wv).cast("bigint").alias("cum")
    )
    ps = spark.range(1, 10).select((F.col("id") * 10).cast("int").alias("p"))
    qs = (
        cum.crossJoin(F.broadcast(ps))
        .groupBy("p", "pr")
        .agg(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr("(n * p + 99) DIV 100"),
                    F.col("v"),
                )
            )
            .cast("bigint")
            .alias("q")
        )
    )
    a = qs.filter(F.col("pr") == "1-URGENT").select(
        "p", F.col("q").alias("q_urgent")
    )
    b = qs.filter(F.col("pr") == "5-LOW").select(
        "p", F.col("q").alias("q_low")
    )
    return (
        a.join(b, "p")
        .select(
            "p",
            "q_urgent",
            "q_low",
            (F.col("q_low") - F.col("q_urgent"))
            .cast("bigint")
            .alias("shift_days"),
        )
        .orderBy("p")
    )


@register(
    "yuen_trimmed_ttest_delay",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + """
    , n AS (
      SELECT pr, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) // 5 AS g
      FROM c GROUP BY pr),
    cum AS (
      SELECT c.pr, c.v, c.c, n.n, n.g,
             CAST(SUM(c.c) OVER (PARTITION BY c.pr ORDER BY c.v)
               AS BIGINT) AS cum
      FROM c JOIN n ON c.pr = n.pr),
    bounds AS (
      SELECT pr, MAX(n) AS n, MAX(g) AS g,
             CAST(MIN(CASE WHEN cum >= g + 1 THEN v END) AS BIGINT) AS lo,
             CAST(MIN(CASE WHEN cum >= n - g THEN v END) AS BIGINT) AS hi
      FROM cum GROUP BY pr),
    s AS (
      SELECT cum.pr, b.n, b.g, b.n - 2 * b.g AS h,
             CAST(SUM(cum.c * least(greatest(cum.v, b.lo), b.hi))
               AS BIGINT) AS sw,
             CAST(SUM(CAST(cum.c AS HUGEINT)
               * least(greatest(cum.v, b.lo), b.hi)
               * least(greatest(cum.v, b.lo), b.hi)) AS BIGINT) AS ssq,
             CAST(SUM(cum.v * greatest(0,
               least(cum.cum, b.n - b.g)
               - greatest(cum.cum - cum.c + 1, b.g + 1) + 1))
               AS BIGINT) AS ts
      FROM cum JOIN bounds b ON cum.pr = b.pr
      GROUP BY cum.pr, b.n, b.g)
    SELECT a.n AS n_urgent, b.n AS n_low,
           CAST(a.h AS BIGINT) AS h_urgent, CAST(b.h AS BIGINT) AS h_low,
           CAST((2 * a.ts * 1000000 + a.h) // (2 * a.h) AS BIGINT)
             AS tmean_urgent_micro,
           CAST((2 * b.ts * 1000000 + b.h) // (2 * b.h) AS BIGINT)
             AS tmean_low_micro,
           CAST(round((CAST(a.ts AS DOUBLE) / a.h
               - CAST(b.ts AS DOUBLE) / b.h)
             / sqrt((CAST(a.ssq AS DOUBLE)
                     - CAST(a.sw AS DOUBLE) * a.sw / a.n)
                    / (CAST(a.h AS DOUBLE) * (a.h - 1))
                  + (CAST(b.ssq AS DOUBLE)
                     - CAST(b.sw AS DOUBLE) * b.sw / b.n)
                    / (CAST(b.h AS DOUBLE) * (b.h - 1)))
             * 1000000E0, 0) AS BIGINT) AS yuen_t_micro
    FROM s a CROSS JOIN s b
    WHERE a.pr = '1-URGENT' AND b.pr = '5-LOW'
    """,
)
def yuen_trimmed_ttest_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's 20%-trimmed t between URGENT and LOW ship delays — the
    robust location test practitioners reach for when Welch's t is
    wrecked by heavy tails: compare TRIMMED means (middle 60% by rank)
    with WINSORIZED variances (clamp, don't drop, the tails in the
    spread estimate — Yuen 1974's pairing). Read beside
    welch_ttest_segments (moment world) and brunner_munzel_delay (rank
    world): Yuen is the bridge — still a mean difference in days, but
    one the top 20% slowest orders cannot drag.

    Exactness: trim bounds are exact order statistics; winsorized sums
    Σx* and Σx*² are exact integers via clamp-at-the-value-grain;
    trimmed sums count each value's rank-range overlap in pure integer
    arithmetic; trimmed means are exact half-up integer micro; ONE
    mirrored double expression for the statistic.

    Scale: value-grain windows only; one-row output."""
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    n = c.groupBy("pr").agg(
        F.sum("c").cast("bigint").alias("n"),
        (F.sum("c").cast("bigint") / 5).cast("bigint").alias("g"),
    )
    wv = Window.partitionBy("pr").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = c.join(F.broadcast(n), "pr").select(
        "pr", "v", "c", "n", "g",
        F.sum("c").over(wv).cast("bigint").alias("cum"),
    )
    bounds = cum.groupBy("pr").agg(
        F.max("n").alias("n"),
        F.max("g").alias("g"),
        F.min(F.when(F.col("cum") >= F.col("g") + 1, F.col("v")))
        .cast("bigint")
        .alias("lo"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("g"), F.col("v")))
        .cast("bigint")
        .alias("hi"),
    )
    star = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    trim_cnt = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), F.col("n") - F.col("g"))
        - F.greatest(F.col("cum") - F.col("c") + 1, F.col("g") + 1)
        + 1,
    )
    s = (
        cum.drop("n", "g")
        .join(F.broadcast(bounds), "pr")
        .groupBy("pr", "n", "g")
        .agg(
            F.sum(F.col("c") * star).cast("bigint").alias("sw"),
            F.sum(F.col("c").cast("decimal(38,0)") * star * star)
            .cast("bigint")
            .alias("ssq"),
            F.sum(F.col("v") * trim_cnt).cast("bigint").alias("ts"),
        )
        .withColumn("h", (F.col("n") - 2 * F.col("g")).cast("bigint"))
    )
    a = s.filter(F.col("pr") == "1-URGENT").select(
        *[F.col(x).alias(f"{x}_a") for x in ("n", "h", "sw", "ssq", "ts")]
    )
    b = s.filter(F.col("pr") == "5-LOW").select(
        *[F.col(x).alias(f"{x}_b") for x in ("n", "h", "sw", "ssq", "ts")]
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("n_a").alias("n_urgent"),
        F.col("n_b").alias("n_low"),
        F.col("h_a").alias("h_urgent"),
        F.col("h_b").alias("h_low"),
        F.expr(
            "CAST((2 * ts_a * 1000000 + h_a) DIV (2 * h_a) AS BIGINT)"
        ).alias("tmean_urgent_micro"),
        F.expr(
            "CAST((2 * ts_b * 1000000 + h_b) DIV (2 * h_b) AS BIGINT)"
        ).alias("tmean_low_micro"),
        F.expr(
            "CAST(round((CAST(ts_a AS DOUBLE) / h_a"
            "   - CAST(ts_b AS DOUBLE) / h_b)"
            " / sqrt((CAST(ssq_a AS DOUBLE)"
            "         - CAST(sw_a AS DOUBLE) * sw_a / n_a)"
            "        / (CAST(h_a AS DOUBLE) * (h_a - 1))"
            "      + (CAST(ssq_b AS DOUBLE)"
            "         - CAST(sw_b AS DOUBLE) * sw_b / n_b)"
            "        / (CAST(h_b AS DOUBLE) * (h_b - 1)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("yuen_t_micro"),
    )



# ---------------------------------------------------------------------------
# Round-10: two-sample effect-size / joint location-scale shelf.
# ---------------------------------------------------------------------------

#: shared standardized-statistic expressions for the Lepage components —
#: ONE string injected into both engines so the double math is
#: token-identical (the ab_z_micro discipline).
_ZW_EXPR = '(CAST(wa2 AS DOUBLE) - CAST(m AS DOUBLE) * (nn + 1)) / (2E0 * sqrt(CAST(m AS DOUBLE) * (nn - m) * (nn + 1) / 12E0   - CAST(m AS DOUBLE) * (nn - m) * CAST(ties3 AS DOUBLE)     / (12E0 * nn * (nn - 1))))'
_ZAB_EXPR = '(CAST(ab_micro AS DOUBLE) / 1000000E0 - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)) / sqrt(CAST(m AS DOUBLE) * CAST(nn - m AS DOUBLE)   / (CAST(nn AS DOUBLE) - 1E0)   * (CAST(s2_milli AS DOUBLE) / 1000E0 / CAST(nn AS DOUBLE)      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)        / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)))'


@register(
    "cliffs_delta_delay",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + """
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN pr = '5-LOW' THEN c ELSE 0 END)
               AS BIGINT) AS cb
      FROM c GROUP BY v),
    cum AS (
      SELECT v, ca, cb,
             CAST(SUM(cb) OVER (ORDER BY v) - cb AS BIGINT) AS cb_lt,
             CAST(SUM(cb) OVER () - SUM(cb) OVER (ORDER BY v) AS BIGINT)
               AS cb_gt
      FROM vg),
    s AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS m, CAST(SUM(cb) AS BIGINT) AS n,
             CAST(SUM(ca * cb_lt) AS BIGINT) AS gt_pairs,
             CAST(SUM(ca * cb_gt) AS BIGINT) AS lt_pairs,
             CAST(SUM(ca * cb) AS BIGINT) AS tie_pairs
      FROM cum)
    SELECT m AS n_urgent, n AS n_low, gt_pairs, lt_pairs, tie_pairs,
           CAST(round((CAST(gt_pairs AS DOUBLE) - CAST(lt_pairs AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000E0, 0)
             AS BIGINT) AS cliffs_delta_micro
    FROM s
    """,
)
def cliffs_delta_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between URGENT and LOW ship delays — the ordinal
    effect size the two-sample shelf was missing: P(X>Y) - P(X<Y),
    the quantity Mann-Whitney TESTS but does not report (a significant
    U at n=600k can be a trivial effect; delta says HOW MUCH the
    distributions separate, on a [-1, 1] scale that ignores variance).

    Exactness: the three pair counts (greater / less / tied) are EXACT
    integers from the tie-grouped value grain — for each value v,
    urgent mass ca(v) dominates exactly the LOW mass strictly below v
    (one cumulative window, no pair enumeration); delta quantizes to
    micro from integer-exact doubles (pair counts ≤ 2^53 at any
    realistic SF since they are ratios' components bounded by m*n).

    Scale: value-grain (≤ ~250 rows); the m*n "pairwise comparison"
    never materializes — the grain windows replace a 1e11-row
    cross join.
    """
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("pr") == "5-LOW", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "ca",
        "cb",
        (F.sum("cb").over(wv) - F.col("cb")).cast("bigint").alias("cb_lt"),
        (F.sum("cb").over(wall) - F.sum("cb").over(wv))
        .cast("bigint")
        .alias("cb_gt"),
    )
    s = cum.agg(
        F.sum("ca").cast("bigint").alias("m"),
        F.sum("cb").cast("bigint").alias("n"),
        F.sum(F.col("ca") * F.col("cb_lt")).cast("bigint").alias("gt_pairs"),
        F.sum(F.col("ca") * F.col("cb_gt")).cast("bigint").alias("lt_pairs"),
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("tie_pairs"),
    )
    return s.select(
        F.col("m").alias("n_urgent"),
        F.col("n").alias("n_low"),
        "gt_pairs",
        "lt_pairs",
        "tie_pairs",
        F.expr(
            "CAST(round((CAST(gt_pairs AS DOUBLE) - CAST(lt_pairs AS DOUBLE))"
            " / (CAST(m AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("cliffs_delta_micro"),
    )


@register(
    "lepage_delay_location_scale",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + f"""
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(c) AS BIGINT) AS c
      FROM c GROUP BY v),
    cum AS (
      SELECT v, ca, c,
             CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi,
             CAST(SUM(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS lo,
             CAST(SUM(c) OVER () AS BIGINT) AS nn,
             CAST(SUM(ca) OVER () AS BIGINT) AS m
      FROM vg),
    terms AS (
      SELECT m, nn, ca, c, lo, hi,
             CAST({_AB_RUNSUM_DDB} AS BIGINT) AS rs
      FROM cum),
    s AS (
      SELECT MAX(m) AS m, MAX(nn) AS nn,
             CAST(SUM(ca * (lo + hi)) AS BIGINT) AS wa2,
             CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS ties3,
             CAST(SUM(CAST(round(CAST(ca AS DOUBLE) * CAST(rs AS DOUBLE)
               / CAST(c AS DOUBLE) * 1000000E0, 0) AS BIGINT)) AS BIGINT)
               AS ab_micro,
             CAST(SUM(rs) AS BIGINT) AS s1,
             CAST(SUM(CAST(round(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)
               / CAST(c AS DOUBLE) * 1000E0, 0) AS HUGEINT)) AS HUGEINT)
               AS s2_milli
      FROM terms),
    z AS (
      SELECT m, nn,
             {_ZW_EXPR} AS zw,
             {_ZAB_EXPR} AS zab
      FROM s)
    SELECT m AS n_urgent, nn - m AS n_low,
           CAST(round(zw * 1000000E0, 0) AS BIGINT) AS zw_micro,
           CAST(round(zab * 1000000E0, 0) AS BIGINT) AS zab_micro,
           CAST(round((zw * zw + zab * zab) * 1000E0, 0) AS BIGINT)
             AS lepage_milli
    FROM z
    """,
)
def lepage_delay_location_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage omnibus test between URGENT and LOW ship delays — the
    JOINT location-scale alternative: L = Zw**2 + Zab**2, the squared
    standardized Wilcoxon rank-sum (location) plus the squared
    standardized Ansari-Bradley (scale). The practical monitoring
    question is rarely "did the center move" XOR "did the spread move"
    — Lepage fires on either, with chi-square(2) calibration, where
    running the two tests separately needs a multiplicity correction.

    Exactness: both components ride the SAME tie-grouped value grain —
    the Wilcoxon side is the exact midrank sum (lo+hi doubles the
    midrank, keeping integers) with the EXACT tie-corrected variance
    (Sum(t**3 - t) in HUGEINT/decimal(38,0)); the Ansari side reuses the
    piecewise-triangular integer rank-run device verbatim. The two
    z-expressions are single shared strings injected into BOTH engines
    (_ZW_EXPR/_ZAB_EXPR), so the double math is token-identical.

    Scale: one value-grain window pass, one-row output — identical
    budget to either component alone.
    """
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum("c").cast("bigint").alias("c"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "ca",
        "c",
        F.sum("c").over(wv).cast("bigint").alias("hi"),
        (F.sum("c").over(wv) - F.col("c") + 1).cast("bigint").alias("lo"),
        F.sum("c").over(wall).cast("bigint").alias("nn"),
        F.sum("ca").over(wall).cast("bigint").alias("m"),
    )
    terms = cum.select(
        "m",
        "nn",
        "ca",
        "c",
        "lo",
        "hi",
        F.expr(f"CAST({_AB_RUNSUM} AS BIGINT)").alias("rs"),
    )
    s = terms.agg(
        F.max("m").alias("m"),
        F.max("nn").alias("nn"),
        F.sum(F.col("ca") * (F.col("lo") + F.col("hi")))
        .cast("bigint")
        .alias("wa2"),
        F.sum(
            F.expr("CAST(c AS DECIMAL(38,0)) * c * c - c")
        ).alias("ties3"),
        F.sum(
            F.expr(
                "CAST(round(CAST(ca AS DOUBLE) * CAST(rs AS DOUBLE)"
                " / CAST(c AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("ab_micro"),
        F.sum("rs").cast("bigint").alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE)"
                " / CAST(c AS DOUBLE) * 1000E0, 0) AS DECIMAL(38,0))"
            )
        ).alias("s2_milli"),
    )
    z = s.select(
        "m",
        "nn",
        F.expr(_ZW_EXPR).alias("zw"),
        F.expr(_ZAB_EXPR).alias("zab"),
    )
    return z.select(
        F.col("m").alias("n_urgent"),
        (F.col("nn") - F.col("m")).alias("n_low"),
        F.expr("CAST(round(zw * 1000000E0, 0) AS BIGINT)").alias("zw_micro"),
        F.expr("CAST(round(zab * 1000000E0, 0) AS BIGINT)").alias(
            "zab_micro"
        ),
        F.expr(
            "CAST(round((zw * zw + zab * zab) * 1000E0, 0) AS BIGINT)"
        ).alias("lepage_milli"),
    )



@register(
    "ordinal_association_priority_delay",
    oracle=_DELAY_GRAIN_CTE
    + """
    , tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
    vq AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM c GROUP BY v),
    cumv AS (
      SELECT v, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS cum,
             (SELECT n FROM tot) AS n
      FROM vq),
    thr AS (
      SELECT MIN(CASE WHEN cum * 4 >= n THEN v END) AS t1,
             MIN(CASE WHEN cum * 2 >= n THEN v END) AS t2,
             MIN(CASE WHEN cum * 4 >= 3 * n THEN v END) AS t3
      FROM cumv),
    grid AS (
      SELECT pr,
             1 + CASE WHEN v > t1 THEN 1 ELSE 0 END
               + CASE WHEN v > t2 THEN 1 ELSE 0 END
               + CASE WHEN v > t3 THEN 1 ELSE 0 END AS band,
             CAST(SUM(c) AS BIGINT) AS nij
      FROM c CROSS JOIN thr GROUP BY 1, 2),
    pairs AS (
      SELECT
        CAST(SUM(a.nij * b.nij * (CASE WHEN (a.pr < b.pr AND a.band < b.band)
          OR (a.pr > b.pr AND a.band > b.band) THEN 1 ELSE 0 END))
          AS BIGINT) AS c2,
        CAST(SUM(a.nij * b.nij * (CASE WHEN (a.pr < b.pr AND a.band > b.band)
          OR (a.pr > b.pr AND a.band < b.band) THEN 1 ELSE 0 END))
          AS BIGINT) AS d2
      FROM grid a CROSS JOIN grid b),
    rm AS (SELECT CAST(SUM(r * (r - 1)) AS BIGINT) AS r2 FROM
           (SELECT pr, SUM(nij) AS r FROM grid GROUP BY pr)),
    cm AS (SELECT CAST(SUM(cc * (cc - 1)) AS BIGINT) AS c2m FROM
           (SELECT band, SUM(nij) AS cc FROM grid GROUP BY band)),
    s AS (
      SELECT (SELECT n FROM tot) AS n, c2, d2,
             (SELECT r2 FROM rm) AS r2, (SELECT c2m FROM cm) AS c2m
      FROM pairs)
    SELECT n, c2 / 2 AS concordant_pairs, d2 / 2 AS discordant_pairs,
           CAST((CASE WHEN c2 >= d2 THEN 1 ELSE -1 END) *
             ((2 * abs(CAST(c2 AS HUGEINT) - d2) * 1000000
               + (CAST(c2 AS HUGEINT) + d2))
              // (2 * (CAST(c2 AS HUGEINT) + d2))) AS BIGINT)
             AS gamma_micro,
           CAST(round((CAST(c2 AS DOUBLE) - CAST(d2 AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * (n - 1) - CAST(r2 AS DOUBLE))
               * (CAST(n AS DOUBLE) * (n - 1) - CAST(c2m AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS tau_b_micro,
           CAST((CASE WHEN c2 >= d2 THEN 1 ELSE -1 END) *
             ((8 * abs(CAST(c2 AS HUGEINT) - d2) * 1000000
               + 3 * CAST(n AS HUGEINT) * n)
              // (6 * CAST(n AS HUGEINT) * n)) AS BIGINT) AS tau_c_micro,
           CAST((CASE WHEN c2 >= d2 THEN 1 ELSE -1 END) *
             ((2 * abs(CAST(c2 AS HUGEINT) - d2) * 1000000
               + (CAST(n AS HUGEINT) * (n - 1) - r2))
              // (2 * (CAST(n AS HUGEINT) * (n - 1) - r2))) AS BIGINT)
             AS somers_d_micro
    FROM s
    """,
)
def ordinal_association_priority_delay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ordinal-association suite — Goodman-Kruskal gamma, Kendall
    tau-b, Stuart tau-c, and Somers' D (delay | priority) — computed
    from ONE 5x4 contingency grid: order priority (ordinal by its
    '1-URGENT'..'5-LOW' encoding) against the delay QUARTILE band
    (exact percentile_disc quartiles of the pooled delay). Four
    normalizations of the same concordant/discordant mass answer four
    questions: gamma ignores ties entirely (monotonicity among
    comparable pairs), tau-b symmetrically discounts both margins,
    tau-c corrects for the non-square table, and Somers' D is the
    directed regression-like form (does delay rise with priority?).

    Exactness: concordant/discordant pair masses are EXACT integers —
    the 400-cell grid self-join replaces the N**2/2 pair enumeration
    (nij * n_i'j' per ordered cell pair, halved); quartile thresholds
    are observed values via integer-cumulative comparisons; the four
    ratios quantize to micro from integer-exact doubles.

    Scale: value grain -> 20-cell grid -> 400-row broadcast self-join;
    nothing downstream of the first rollup exceeds kilobytes. tau_c's
    m=min(rows,cols)=4 is fixed by the schema (5 priorities x 4
    quartile bands).
    """
    c = _delay_grain(spark, sf_dir)
    tot = c.agg(F.sum("c").cast("bigint").alias("n"))
    vq = c.groupBy("v").agg(F.sum("c").cast("bigint").alias("cv"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cumv = vq.select(
        "v", F.sum("cv").over(wv).cast("bigint").alias("cum")
    ).crossJoin(F.broadcast(tot))
    thr = cumv.agg(
        F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("v"))).alias(
            "t1"
        ),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias(
            "t2"
        ),
        F.min(
            F.when(F.col("cum") * 4 >= 3 * F.col("n"), F.col("v"))
        ).alias("t3"),
    )
    grid = (
        c.crossJoin(F.broadcast(thr))
        .select(
            "pr",
            (
                F.lit(1)
                + (F.col("v") > F.col("t1")).cast("int")
                + (F.col("v") > F.col("t2")).cast("int")
                + (F.col("v") > F.col("t3")).cast("int")
            ).alias("band"),
            "c",
        )
        .groupBy("pr", "band")
        .agg(F.sum("c").cast("bigint").alias("nij"))
        .localCheckpoint()
    )
    a = grid.select(
        F.col("pr").alias("pra"),
        F.col("band").alias("banda"),
        F.col("nij").alias("nija"),
    )
    b = grid.select(
        F.col("pr").alias("prb"),
        F.col("band").alias("bandb"),
        F.col("nij").alias("nijb"),
    )
    conc = (
        (F.col("pra") < F.col("prb")) & (F.col("banda") < F.col("bandb"))
    ) | ((F.col("pra") > F.col("prb")) & (F.col("banda") > F.col("bandb")))
    disc = (
        (F.col("pra") < F.col("prb")) & (F.col("banda") > F.col("bandb"))
    ) | ((F.col("pra") > F.col("prb")) & (F.col("banda") < F.col("bandb")))
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.col("nija") * F.col("nijb") * conc.cast("bigint")
        )
        .cast("bigint")
        .alias("c2"),
        F.sum(
            F.col("nija") * F.col("nijb") * disc.cast("bigint")
        )
        .cast("bigint")
        .alias("d2"),
    )
    rm = (
        grid.groupBy("pr")
        .agg(F.sum("nij").alias("r"))
        .agg(
            F.sum(F.col("r") * (F.col("r") - 1))
            .cast("bigint")
            .alias("r2")
        )
    )
    cm = (
        grid.groupBy("band")
        .agg(F.sum("nij").alias("cc"))
        .agg(
            F.sum(F.col("cc") * (F.col("cc") - 1))
            .cast("bigint")
            .alias("c2m")
        )
    )
    s = (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rm))
        .crossJoin(F.broadcast(cm))
    )
    return s.select(
        "n",
        (F.col("c2") / 2).cast("bigint").alias("concordant_pairs"),
        (F.col("d2") / 2).cast("bigint").alias("discordant_pairs"),
        # Tie-safe quantization (r12): the three RATIONAL micro ratios
        # round via exact integer arithmetic so no engine's
        # double-round-at-.5 semantics can flip the last digit —
        # round-half-away-from-zero(p/q) == sign(p)·((2|p|+q) div 2q)
        # exactly, for integer p and q>0 (verified value-identical to
        # the former double round at sf0.001/0.01/0.1, where the
        # nearest quotient sat ≥5.8e-3 from any .5 boundary). tau_b
        # keeps the double path: sqrt is irrational, so an exact .5
        # tie would need A·B to be a perfect square.
        F.expr(
            "CAST((CASE WHEN c2 >= d2 THEN 1 ELSE -1 END) *"
            " ((2 * abs(CAST(c2 AS DECIMAL(38,0)) - d2) * 1000000"
            "   + (CAST(c2 AS DECIMAL(38,0)) + d2))"
            "  DIV (2 * (CAST(c2 AS DECIMAL(38,0)) + d2))) AS BIGINT)"
        ).alias("gamma_micro"),
        F.expr(
            "CAST(round((CAST(c2 AS DOUBLE) - CAST(d2 AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * (n - 1) - CAST(r2 AS DOUBLE))"
            "   * (CAST(n AS DOUBLE) * (n - 1) - CAST(c2m AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("tau_b_micro"),
        F.expr(
            "CAST((CASE WHEN c2 >= d2 THEN 1 ELSE -1 END) *"
            " ((8 * abs(CAST(c2 AS DECIMAL(38,0)) - d2) * 1000000"
            "   + 3 * CAST(n AS DECIMAL(38,0)) * n)"
            "  DIV (6 * CAST(n AS DECIMAL(38,0)) * n)) AS BIGINT)"
        ).alias("tau_c_micro"),
        F.expr(
            "CAST((CASE WHEN c2 >= d2 THEN 1 ELSE -1 END) *"
            " ((2 * abs(CAST(c2 AS DECIMAL(38,0)) - d2) * 1000000"
            "   + (CAST(n AS DECIMAL(38,0)) * (n - 1) - r2))"
            "  DIV (2 * (CAST(n AS DECIMAL(38,0)) * (n - 1) - r2))) AS BIGINT)"
        ).alias("somers_d_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10: Gehan-Wilcoxon early-difference survival test.
# ---------------------------------------------------------------------------

#: the survival-cells oracle prefix shared with log_rank_reorder_segments
#: (import-time-asserted below against that op's registered oracle, the
#: _AB_FILTER_MARKER discipline — if the log-rank CTE text drifts, fail
#: at import, not at sweep time).
_LR_CELLS_CTE = f"""
    WITH cust AS (
      SELECT c_custkey,
             CASE WHEN c_mktsegment = '{_LR_SEG_A}' THEN 1 ELSE 0 END AS g1
      FROM customer WHERE c_mktsegment IN ('{_LR_SEG_A}', '{_LR_SEG_B}')),
    od AS (
      SELECT o.o_custkey, cust.g1, CAST(o.o_orderdate AS DATE) AS d
      FROM orders o JOIN cust ON o.o_custkey = cust.c_custkey
      GROUP BY 1, 2, 3),
    anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
    per AS (
      SELECT o_custkey, g1, MIN(d) AS d1,
             MIN(CASE WHEN d > (SELECT MIN(d2.d) FROM od d2
                                WHERE d2.o_custkey = od.o_custkey)
                      THEN d END) AS d2
      FROM od GROUP BY 1, 2),
    su AS (
      SELECT g1,
             CASE WHEN d2 IS NOT NULL
                  THEN date_diff('day', d1, d2)
                  ELSE date_diff('day', d1, (SELECT mx FROM anchor)) END
               AS tt,
             CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per),
    vg AS (
      SELECT g1, tt, CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(ev) AS BIGINT) AS c_ev
      FROM su GROUP BY 1, 2),
    nt AS (SELECT g1, CAST(SUM(c_all) AS BIGINT) AS ng FROM vg GROUP BY g1),
    et AS (SELECT DISTINCT tt FROM vg WHERE c_ev > 0),
    u AS (
      SELECT g1, tt, c_all, 1 AS kind FROM vg
      UNION ALL
      SELECT nt.g1, et.tt, 0, 0 FROM et CROSS JOIN nt),
    cu AS (
      SELECT g1, tt, kind,
             CAST(COALESCE(SUM(c_all) OVER (PARTITION BY g1
               ORDER BY tt, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before_t
      FROM u),
    risk AS (
      SELECT cu.g1, cu.tt, nt.ng - cu.before_t AS n_at
      FROM cu JOIN nt ON cu.g1 = nt.g1 WHERE cu.kind = 0),
    cells AS (
      SELECT risk.tt,
             CAST(SUM(CASE WHEN risk.g1 = 1 THEN risk.n_at ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN risk.g1 = 0 THEN risk.n_at ELSE 0 END)
               AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN risk.g1 = 1
               THEN COALESCE(vg.c_ev, 0) ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN risk.g1 = 0
               THEN COALESCE(vg.c_ev, 0) ELSE 0 END) AS BIGINT) AS d2
      FROM risk LEFT JOIN vg ON risk.g1 = vg.g1 AND risk.tt = vg.tt
      GROUP BY risk.tt)
"""

from ai_etl_studio_spark.operators import ORACLES as _ORACLES_VIEW

assert " ".join(_LR_CELLS_CTE.split()) in _ORACLES_VIEW[
    "log_rank_reorder_segments"
], (
    "log-rank cells CTE drifted from _LR_CELLS_CTE; update the gehan "
    "oracle prefix"
)


@register(
    "gehan_wilcoxon_reorder",
    oracle=_LR_CELLS_CTE
    + """
    , terms AS (
      SELECT CAST(SUM((n1 + n2) * d1 - (d1 + d2) * n1) AS BIGINT)
               AS oe_exact,
             CAST(SUM(CAST(round(CAST(d1 + d2 AS DOUBLE)
               * CAST(n1 AS DOUBLE) * n2
               * (CAST(n1 + n2 - d1 - d2 AS DOUBLE))
               / (CAST(n1 + n2 AS DOUBLE) - 1E0) * 1000E0, 0)
               AS HUGEINT)) AS HUGEINT) AS var_milli,
             CAST(SUM(d1 + d2) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_times
      FROM cells WHERE n1 + n2 > 1)
    SELECT n_times, n_events, oe_exact,
           CAST(round(CAST(oe_exact AS DOUBLE)
             / sqrt(CAST(var_milli AS DOUBLE) / 1000E0)
             * 1000000E0, 0) AS BIGINT) AS z_micro
    FROM terms
    """,
)
def gehan_wilcoxon_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan-Wilcoxon (Breslow) test on the same censored
    time-to-second-order data as log_rank_reorder_segments: each event
    time's O-E contribution is weighted by the TOTAL number still at
    risk, so EARLY separation dominates — the complement of log-rank
    (equal weights, late-difference-sensitive under proportional
    hazards). Running both is the survival-analysis standard: log-rank
    significant but Gehan not (or vice versa) localizes WHEN the two
    segments' reorder behavior diverges.

    Exactness: the Gehan weight CANCELS the risk-set denominator —
    w_t*(O-E) = (n1+n2)*d1 - (d1+d2)*n1 is an EXACT INTEGER per event
    time (log-rank's same term needs a micro quantum), so the
    numerator is exact int64; the weighted variance
    (d1+d2)*n1*n2*(n-d)/(n-1) quantizes per term to milli in 128-bit;
    z is one mirrored double.

    Scale: identical budget to log-rank — the shared
    ``_reorder_surv_cells`` value-grain risk-set device, one row out.
    """
    cells = _reorder_surv_cells(spark, sf_dir)
    terms = cells.filter(F.col("n1") + F.col("n2") > 1).agg(
        F.sum(
            (F.col("n1") + F.col("n2")) * F.col("d1")
            - (F.col("d1") + F.col("d2")) * F.col("n1")
        )
        .cast("bigint")
        .alias("oe_exact"),
        F.sum(
            F.expr(
                "CAST(round(CAST(d1 + d2 AS DOUBLE)"
                " * CAST(n1 AS DOUBLE) * n2"
                " * (CAST(n1 + n2 - d1 - d2 AS DOUBLE))"
                " / (CAST(n1 + n2 AS DOUBLE) - 1E0) * 1000E0, 0)"
                " AS DECIMAL(38,0))"
            )
        ).alias("var_milli"),
        F.sum(F.col("d1") + F.col("d2")).cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
    )
    return terms.select(
        "n_times",
        "n_events",
        "oe_exact",
        F.expr(
            "CAST(round(CAST(oe_exact AS DOUBLE)"
            " / sqrt(CAST(var_milli AS DOUBLE) / 1000E0)"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10: Quade test — range-weighted blocked rank ANOVA.
# ---------------------------------------------------------------------------


def _quade_oracle() -> str:
    k = len(_KW_GROUPS)
    # odd k makes (k+1)/2 integral, keeping S_ij integer end to end
    assert k % 2 == 1, "quade S_ij integrality assumes odd k"
    piv = ",\n             ".join(
        f"CAST(SUM(CASE WHEN p = '{g}' THEN sij ELSE 0 END) AS BIGINT)"
        f" AS s_{i}"
        for i, g in enumerate(_KW_GROUPS)
    )
    bnum = " + ".join(f"s_{i} * s_{i}" for i in range(k))
    return f"""
    WITH c AS (
      SELECT year(o_orderdate) AS yr, o_orderpriority AS p,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2),
    rk AS (
      SELECT yr, p,
             CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev, p)
               AS BIGINT) AS rk
      FROM c),
    rg AS (SELECT yr, MAX(rev) - MIN(rev) AS rng FROM c GROUP BY yr),
    qq AS (
      SELECT yr, CAST(ROW_NUMBER() OVER (ORDER BY rng, yr) AS BIGINT) AS q
      FROM rg),
    s AS (
      SELECT rk.yr, rk.p, qq.q * (rk.rk - {(k + 1) // 2}) AS sij
      FROM rk JOIN qq ON rk.yr = qq.yr),
    piv AS (
      SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS b,
             CAST(SUM(sij * sij) AS BIGINT) AS a2, {piv}
      FROM s)
    SELECT b, {", ".join(f"s_{i}" for i in range(k))},
           CAST((2 * (b - 1) * ({bnum}) * 1000000
                 + (b * a2 - ({bnum})))
             // (2 * (b * a2 - ({bnum}))) AS BIGINT) AS quade_f_micro
    FROM piv
    """


@register("quade_test_priority_by_year", oracle=_quade_oracle())
def quade_test_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test — Friedman's range-weighted refinement: within-year
    priority ranks are weighted by the rank of each YEAR's revenue
    RANGE, so years where the priorities actually differ count more
    (Friedman gives a noise year the same vote as a decisive one; for
    small k the Quade test is the more powerful of the pair —
    Conover's recommendation for k <= 5, which is exactly this k=5
    design). Reported F ~ F(k-1, (b-1)(k-1)) under exchangeability.

    Exactness: FULLY integer to the last step — within-block ranks and
    block-range ranks are deterministic ROW_NUMBERs over exact cents
    (tiebreaks by priority / year mirror in both engines); with k=5,
    S_ij = Q_j*(r_ij - 3) is integer; the F statistic
    (b-1)*B/(b*A2 - B) with B = Sum S_i^2 is ONE exact half-up integer
    division — no double anywhere.

    Scale: the |years| x |priorities| cell table (<=40 rows) does all
    the work; one scan over orders.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    c = c.localCheckpoint()  # read by rk AND rg
    w = Window.partitionBy("yr").orderBy("rev", "p")
    rk = c.select(
        "yr", "p", F.row_number().over(w).cast("bigint").alias("rk")
    )
    rg = c.groupBy("yr").agg(
        (F.max("rev") - F.min("rev")).alias("rng")
    )
    qq = rg.select(
        "yr",
        F.row_number()
        .over(Window.orderBy("rng", "yr"))
        .cast("bigint")
        .alias("q"),
    )
    k = len(_KW_GROUPS)
    mid = (k + 1) // 2
    s = rk.join(F.broadcast(qq), "yr").select(
        "p", (F.col("q") * (F.col("rk") - mid)).alias("sij")
    )
    piv = s.groupBy().agg(
        F.sum(F.col("sij") * F.col("sij")).cast("bigint").alias("a2"),
        *[
            F.sum(F.when(F.col("p") == g, F.col("sij")).otherwise(0))
            .cast("bigint")
            .alias(f"s_{i}")
            for i, g in enumerate(_KW_GROUPS)
        ],
    ).crossJoin(
        F.broadcast(
            c.agg(F.countDistinct("yr").cast("bigint").alias("b"))
        )
    )
    bnum = " + ".join(f"s_{i} * s_{i}" for i in range(k))
    return piv.select(
        "b",
        *[f"s_{i}" for i in range(k)],
        F.expr(
            f"CAST((2 * (b - 1) * ({bnum}) * 1000000"
            f" + (b * a2 - ({bnum})))"
            f" DIV (2 * (b * a2 - ({bnum}))) AS BIGINT)"
        ).alias("quade_f_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10: ANOVA effect sizes for the delay-by-priority design.
# ---------------------------------------------------------------------------


@register(
    "variance_explained_priority_delay",
    oracle=_DELAY_GRAIN_CTE
    + """
    , g AS (
      SELECT pr, CAST(SUM(c) AS BIGINT) AS ng,
             CAST(SUM(c * v) AS BIGINT) AS sg,
             CAST(SUM(CAST(c AS HUGEINT) * v * v) AS HUGEINT) AS qg
      FROM c GROUP BY pr),
    t AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(sg) AS BIGINT) AS s, CAST(SUM(qg) AS HUGEINT) AS q,
             CAST(SUM(CAST(round(CAST(sg AS DOUBLE) * sg / ng
               * 1000E0, 0) AS HUGEINT)) AS HUGEINT) AS ssb_part_milli
      FROM g),
    ss AS (
      SELECT n, k,
             CAST(ssb_part_milli AS DOUBLE) / 1000E0
               - CAST(s AS DOUBLE) * s / n AS ssb,
             CAST(q AS DOUBLE) - CAST(ssb_part_milli AS DOUBLE) / 1000E0
               AS ssw,
             CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n AS sst
      FROM t)
    SELECT n, k,
           CAST(round(ssb / sst * 1000000E0, 0) AS BIGINT) AS eta2_micro,
           CAST(round((ssb - (CAST(k AS DOUBLE) - 1) * (ssw / (n - k)))
             / sst * 1000000E0, 0) AS BIGINT) AS epsilon2_micro,
           CAST(round((ssb - (CAST(k AS DOUBLE) - 1) * (ssw / (n - k)))
             / (sst + ssw / (n - k)) * 1000000E0, 0) AS BIGINT)
             AS omega2_micro
    FROM ss
    """,
)
def variance_explained_priority_delay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANOVA effect sizes for priority -> ship delay: eta² (the naive
    SSB/SST, upward-biased), epsilon² and omega² (the two standard
    bias corrections — what fraction of delay variance priority
    explains IN THE POPULATION). The significance tests
    (kruskal_wallis / welch / tukey_hsd) answer "is there an effect";
    this answers the planning question "is the effect big enough to
    matter", which no p-value at n=600k can (everything is significant
    there).

    Exactness: per-group (count, sum, sum-of-squares) are exact
    integers off the shared value grain (128-bit squares); the
    between-group sum of per-group S²/n fractions quantizes per group
    to milli; the three ratios are single-row mirrored doubles.

    Scale: rides ``_delay_grain``; everything after is a 5-row table.
    """
    c = _delay_grain(spark, sf_dir)
    g = c.groupBy("pr").agg(
        F.sum("c").cast("bigint").alias("ng"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("sg"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * v * v")).alias("qg"),
    )
    t = g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sg").cast("bigint").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(
            F.expr(
                "CAST(round(CAST(sg AS DOUBLE) * sg / ng * 1000E0, 0)"
                " AS DECIMAL(38,0))"
            )
        ).alias("ssb_part_milli"),
    )
    ss = t.select(
        "n",
        "k",
        F.expr(
            "CAST(ssb_part_milli AS DOUBLE) / 1000E0"
            " - CAST(s AS DOUBLE) * s / n"
        ).alias("ssb"),
        F.expr(
            "CAST(q AS DOUBLE) - CAST(ssb_part_milli AS DOUBLE) / 1000E0"
        ).alias("ssw"),
        F.expr(
            "CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n"
        ).alias("sst"),
    )
    return ss.select(
        "n",
        "k",
        F.expr(
            "CAST(round(ssb / sst * 1000000E0, 0) AS BIGINT)"
        ).alias("eta2_micro"),
        F.expr(
            "CAST(round((ssb - (CAST(k AS DOUBLE) - 1) * (ssw / (n - k)))"
            " / sst * 1000000E0, 0) AS BIGINT)"
        ).alias("epsilon2_micro"),
        F.expr(
            "CAST(round((ssb - (CAST(k AS DOUBLE) - 1) * (ssw / (n - k)))"
            " / (sst + ssw / (n - k)) * 1000000E0, 0) AS BIGINT)"
        ).alias("omega2_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10: restricted mean survival time on the reorder design.
# ---------------------------------------------------------------------------

#: RMST truncation horizon (days) and the KM ln-tick quantum.
_RMST_TAU = 365
_RMST_TICK = 1_000_000_000


@register(
    "rmst_reorder_segments",
    oracle=_LR_CELLS_CTE
    + f"""
    , grp AS (
      SELECT 1 AS g1, tt, n1 AS n_at, d1 AS d FROM cells WHERE d1 > 0
      UNION ALL
      SELECT 0, tt, n2, d2 FROM cells WHERE d2 > 0),
    nt2 AS (
      SELECT 1 AS g1, MAX(n1) AS n0 FROM cells
      UNION ALL SELECT 0, MAX(n2) FROM cells),
    ev AS (
      SELECT g1, CAST(SUM(d) AS BIGINT) AS n_events FROM grp GROUP BY g1),
    steps AS (
      SELECT g1, tt, d,
             CASE WHEN d < n_at THEN
               CAST(round(ln(1E0 - CAST(d AS DOUBLE) / n_at)
                 * {_RMST_TICK}, 0) AS BIGINT)
             ELSE {-90 * _RMST_TICK} END AS step_ticks
      FROM grp),
    surv AS (
      SELECT g1, tt,
             CAST(round(exp(CAST(SUM(step_ticks) OVER (
               PARTITION BY g1 ORDER BY tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / {_RMST_TICK}) * 1000000E0, 0) AS BIGINT)
               AS s_micro,
             LEAD(tt, 1, {_RMST_TAU}) OVER (PARTITION BY g1 ORDER BY tt)
               AS t_next,
             MIN(tt) OVER (PARTITION BY g1) AS t_first
      FROM steps),
    seg AS (
      SELECT g1,
             CAST(SUM(s_micro * (LEAST(t_next, {_RMST_TAU})
               - LEAST(tt, {_RMST_TAU}))) AS BIGINT) AS tail_micro,
             CAST(MIN(t_first) AS BIGINT) AS t_first
      FROM surv GROUP BY g1)
    SELECT seg.g1 AS segment_group, n.n0 AS n_subjects, ev.n_events,
           CAST(1000000 * LEAST(seg.t_first, {_RMST_TAU})
             + seg.tail_micro AS BIGINT) AS rmst{_RMST_TAU}_day_micro
    FROM seg JOIN nt2 n ON seg.g1 = n.g1 JOIN ev ON seg.g1 = ev.g1
    ORDER BY seg.g1
    """,
)
def rmst_reorder_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau=365 days for the two
    customer segments' time-to-second-order: the AREA under each
    Kaplan-Meier curve up to one year — "expected reorder-free days in
    the first year", the estimand clinicians moved to when
    proportional hazards fails, and the ACTIONABLE summary of the
    log-rank/Gehan pair (those say WHETHER the curves differ; RMST
    says how many DAYS of delay that difference is worth).

    Exactness: the KM curve rides survival_km's per-step ln-tick
    device (exact integer cumulative ln ticks per group, the d=n full-
    drop sentinel included); each piecewise-constant segment's area is
    the INTEGER product s_micro x clamped-days; the first segment
    ([0, t_first) at S=1) enters as an exact closed form. The at-risk
    sets reuse ``_reorder_surv_cells`` — the union-time frame restricts
    to each group's OWN event times, which leaves risk sets unchanged.

    Scale: everything after the shared cells frame is |event-times|
    windows; two rows out.
    """
    cells = _reorder_surv_cells(spark, sf_dir)
    grp = (
        cells.filter(F.col("d1") > 0)
        .select(
            F.lit(1).alias("g1"),
            "tt",
            F.col("n1").alias("n_at"),
            F.col("d1").alias("d"),
        )
        .unionAll(
            cells.filter(F.col("d2") > 0).select(
                F.lit(0).alias("g1"),
                "tt",
                F.col("n2").alias("n_at"),
                F.col("d2").alias("d"),
            )
        )
    )
    nt2 = (
        cells.agg(F.max("n1").alias("n0"))
        .select(F.lit(1).alias("g1"), "n0")
        .unionAll(
            cells.agg(F.max("n2").alias("n0")).select(
                F.lit(0).alias("g1"), "n0"
            )
        )
    )
    ev = grp.groupBy("g1").agg(
        F.sum("d").cast("bigint").alias("n_events")
    )
    steps = grp.select(
        "g1",
        "tt",
        F.expr(
            f"CASE WHEN d < n_at THEN"
            f" CAST(round(ln(1E0 - CAST(d AS DOUBLE) / n_at)"
            f" * {_RMST_TICK}, 0) AS BIGINT)"
            f" ELSE {-90 * _RMST_TICK} END"
        ).alias("step_ticks"),
    )
    wcum = (
        Window.partitionBy("g1")
        .orderBy("tt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy("g1").orderBy("tt")
    surv = (
        steps.withColumn(
            "cum_ticks", F.sum("step_ticks").over(wcum).cast("bigint")
        )
        .withColumn(
            "s_micro",
            F.expr(
                f"CAST(round(exp(CAST(cum_ticks AS DOUBLE)"
                f" / {_RMST_TICK}) * 1000000E0, 0) AS BIGINT)"
            ),
        )
        .withColumn("t_next", F.lead("tt", 1, _RMST_TAU).over(wg))
        .withColumn(
            "t_first", F.min("tt").over(Window.partitionBy("g1"))
        )
    )
    seg = surv.groupBy("g1").agg(
        F.sum(
            F.col("s_micro")
            * (
                F.least(F.col("t_next"), F.lit(_RMST_TAU))
                - F.least(F.col("tt"), F.lit(_RMST_TAU))
            )
        )
        .cast("bigint")
        .alias("tail_micro"),
        F.min("t_first").cast("bigint").alias("t_first"),
    )
    return (
        seg.join(nt2, "g1")
        .join(ev, "g1")
        .select(
            F.col("g1").alias("segment_group"),
            F.col("n0").alias("n_subjects"),
            "n_events",
            (
                F.lit(1000000)
                * F.least(F.col("t_first"), F.lit(_RMST_TAU))
                + F.col("tail_micro")
            )
            .cast("bigint")
            .alias(f"rmst{_RMST_TAU}_day_micro"),
        )
        .orderBy("segment_group")
    )


# ---------------------------------------------------------------------------
# Round-10: binary-segmentation changepoints (two-level).
# ---------------------------------------------------------------------------

#: shared argmax objective: the between-segment SSE reduction of a
#: mean-shift split at k inside (lo, hi], written once for both engines.
_BSEG_T = (
    "CAST(round((pow(CAST(sk AS DOUBLE) - slo, 2) / (CAST(k AS DOUBLE) - lo)"
    " + pow(CAST(shi AS DOUBLE) - sk, 2) / (CAST(hi AS DOUBLE) - k)"
    " - pow(CAST(shi AS DOUBLE) - slo, 2) / (CAST(hi AS DOUBLE) - lo))"
    " / 1000000E0, 0) AS BIGINT)"
)


@register(
    "binary_segmentation_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS i, day, x,
             CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS ps
      FROM daily),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS stot FROM idx),
    t0 AS (
      SELECT i, day, {_BSEG_T.replace("sk", "idx.ps")
                              .replace("slo", "0E0")
                              .replace("shi", "nn.stot")
                              .replace("CAST(k AS DOUBLE) - lo", "CAST(i AS DOUBLE)")
                              .replace("CAST(hi AS DOUBLE) - k", "CAST(nn.n AS DOUBLE) - i")
                              .replace("CAST(hi AS DOUBLE) - lo", "CAST(nn.n AS DOUBLE)")}
               AS t_milli
      FROM idx, nn WHERE i < nn.n),
    k0 AS (SELECT i, day, t_milli FROM t0
           ORDER BY t_milli DESC, i LIMIT 1),
    tl AS (
      SELECT idx.i, idx.day, {_BSEG_T.replace("sk", "idx.ps")
                              .replace("slo", "0E0")
                              .replace("shi", "CAST((SELECT ps FROM idx WHERE i = (SELECT i FROM k0)) AS DOUBLE)")
                              .replace("CAST(k AS DOUBLE) - lo", "CAST(idx.i AS DOUBLE)")
                              .replace("CAST(hi AS DOUBLE) - k", "CAST((SELECT i FROM k0) AS DOUBLE) - idx.i")
                              .replace("CAST(hi AS DOUBLE) - lo", "CAST((SELECT i FROM k0) AS DOUBLE)")}
               AS t_milli
      FROM idx WHERE idx.i < (SELECT i FROM k0)),
    k1 AS (SELECT i, day, t_milli FROM tl
           ORDER BY t_milli DESC, i LIMIT 1),
    tr AS (
      SELECT idx.i, idx.day, {_BSEG_T.replace("sk", "idx.ps")
                              .replace("slo", "CAST((SELECT ps FROM idx WHERE i = (SELECT i FROM k0)) AS DOUBLE)")
                              .replace("shi", "CAST((SELECT stot FROM nn) AS DOUBLE)")
                              .replace("CAST(k AS DOUBLE) - lo", "CAST(idx.i AS DOUBLE) - (SELECT i FROM k0)")
                              .replace("CAST(hi AS DOUBLE) - k", "CAST((SELECT n FROM nn) AS DOUBLE) - idx.i")
                              .replace("CAST(hi AS DOUBLE) - lo", "CAST((SELECT n FROM nn) AS DOUBLE) - (SELECT i FROM k0)")}
               AS t_milli
      FROM idx
      WHERE idx.i > (SELECT i FROM k0) AND idx.i < (SELECT n FROM nn)),
    k2 AS (SELECT i, day, t_milli FROM tr
           ORDER BY t_milli DESC, i LIMIT 1)
    SELECT 'root' AS segment, i AS split_index, day AS split_day, t_milli
    FROM k0
    UNION ALL SELECT 'left', i, day, t_milli FROM k1
    UNION ALL SELECT 'right', i, day, t_milli FROM k2
    ORDER BY segment
    """,
)
def binary_segmentation_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-level binary segmentation of the daily-revenue series: the
    mean-shift split maximizing the SSE reduction over the whole
    series (root), then the best split of each resulting half — the
    classical changepoint DETECTION tree where pettitt/chow test ONE
    hypothesized break. Three points sketch the series' regime
    structure; the t_milli objective values say how decisive each
    split is (a near-zero child split = that half is homogeneous).

    Exactness: prefix sums are exact integer cents (< 2^53 at the
    tested SFs, noted for larger); the objective T(k) — the standard
    between-SSE identity (S_L²/w_L + S_R²/w_R − S²/w) — is ONE shared
    expression string instantiated per level in both engines, and the
    ARGMAX orders on (quantized t_milli, k) so knife-edge plateaus
    break deterministically.

    Scale: the series reduces to the |days| grain; each level is one
    window pass + a TakeOrderedAndProject(1); levels are data-
    dependent scalars, so the oracle chains them as scalar subqueries
    and Spark as three 1-row bounded lookups (the kcore count budget
    class).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    w = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w).cast("bigint").alias("i"),
        "day",
        F.sum("x")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("ps"),
    ).localCheckpoint()  # |days| grain; read once per level
    nn = idx.agg(
        F.max("i").cast("bigint").alias("n"),
        F.max("ps").cast("bigint").alias("stot"),
    )
    n, stot = nn.collect()[0]

    def argmax(lo_i: int, lo_s: int, hi_i: int, hi_s: int):
        # Degenerate child (root split at the series edge): the
        # candidate set lo < i < hi is empty. Mirror the oracle, whose
        # empty k1/k2 CTE simply drops that segment's UNION ALL row.
        if hi_i - lo_i <= 1:
            return None
        t = _BSEG_T.replace("sk", "ps").replace("slo", f"{lo_s}E0")
        t = t.replace("shi", f"{hi_s}E0")
        t = t.replace(
            "CAST(k AS DOUBLE) - lo", f"CAST(i AS DOUBLE) - {lo_i}"
        )
        t = t.replace(
            "CAST(hi AS DOUBLE) - k", f"CAST({hi_i} AS DOUBLE) - i"
        )
        t = t.replace(
            "CAST(hi AS DOUBLE) - lo", f"CAST({hi_i} AS DOUBLE) - {lo_i}"
        )
        rows = (
            idx.filter((F.col("i") > lo_i) & (F.col("i") < hi_i))
            .select("i", "day", "ps", F.expr(t).alias("t_milli"))
            .orderBy(F.desc("t_milli"), "i")
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    k0 = argmax(0, 0, n, stot)
    k1 = argmax(0, 0, k0.i, k0.ps) if k0 is not None else None
    k2 = argmax(k0.i, k0.ps, n, stot) if k0 is not None else None
    return spark.createDataFrame(
        [
            (name, k.i, k.day, k.t_milli)
            for name, k in (("root", k0), ("left", k1), ("right", k2))
            if k is not None
        ],
        "segment string, split_index bigint, split_day date,"
        " t_milli bigint",
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Round-10: Holm step-down / Hochberg step-up — the FWER companions of
# the BH/BY false-discovery shelf, on the same nation-screening grain.
# ---------------------------------------------------------------------------


@register(
    "holm_hochberg_screening",
    oracle=f"""
    WITH pn AS (
      SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
               THEN 1 ELSE 0 END) AS BIGINT) AS u
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    t AS (
      SELECT pn.*, CAST(SUM(n) OVER () AS BIGINT) AS tn,
             CAST(SUM(u) OVER () AS BIGINT) AS tu
      FROM pn),
    z AS (
      SELECT nk, n, u,
             abs((CAST(u AS DOUBLE) / n - CAST(tu AS DOUBLE) / tn)
               / sqrt((CAST(tu AS DOUBLE) / tn)
                 * (1 - CAST(tu AS DOUBLE) / tn) / n)) AS az
      FROM t),
    p AS (
      SELECT nk, n, u,
             CAST(round(2 * ({_PHI_TAIL}) * 1000000000, 0) AS BIGINT)
               AS p_nano
      FROM z),
    r AS (
      SELECT p.*, ROW_NUMBER() OVER (ORDER BY p_nano, nk) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p),
    f AS (
      SELECT r.*,
             CASE WHEN p_nano * (m - rk + 1) > {_FDR_ALPHA_NANO}
               THEN rk ELSE NULL END AS fail_rk,
             CASE WHEN p_nano * (m - rk + 1) <= {_FDR_ALPHA_NANO}
               THEN rk ELSE 0 END AS ok_rk
      FROM r),
    g AS (
      SELECT f.*,
             CAST(COALESCE(MIN(fail_rk) OVER (), m + 1) AS BIGINT)
               AS first_fail,
             CAST(MAX(ok_rk) OVER () AS BIGINT) AS last_ok
      FROM f)
    SELECT nk AS nationkey, n AS n_orders, u AS n_urgent, p_nano,
           rk AS p_rank,
           CAST(CASE WHEN rk < first_fail THEN 1 ELSE 0 END AS BIGINT)
             AS holm_significant,
           CAST(CASE WHEN rk <= last_ok THEN 1 ELSE 0 END AS BIGINT)
             AS hochberg_significant
    FROM g ORDER BY p_rank
    """,
)
def holm_hochberg_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down and Hochberg step-up on the same 25-nation
    URGENT-share screen as fdr_bh_screening — the FAMILY-WISE error
    companions: BH bounds the expected FRACTION of false discoveries
    (dashboard triage), Holm bounds the probability of ANY false
    discovery with no assumptions (the referee's standard), and
    Hochberg is the uniformly-more-powerful step-up valid under
    non-negative dependence. Running all three columns side by side
    shows exactly which segments survive which severity of correction
    — Holm ⊆ Hochberg ⊆ BH by construction (pinned in tests).

    Exactness: shares the A&S normal-tail text and nano-quantized
    p-values with the BH op; BOTH decisions are exact integer
    comparisons p*(m-rank+1) vs alpha — step-down takes everything
    before the FIRST failure, step-up everything up to the LAST
    success; no float decides.

    Scale: one fact reduction to |nations| rows; windows on the
    bounded table.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pn = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("u"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = pn.select(
        "*",
        F.sum("n").over(wall).cast("bigint").alias("tn"),
        F.sum("u").over(wall).cast("bigint").alias("tu"),
    )
    z = t.select(
        "nk",
        "n",
        "u",
        F.expr(
            "abs((CAST(u AS DOUBLE) / n - CAST(tu AS DOUBLE) / tn)"
            " / sqrt((CAST(tu AS DOUBLE) / tn)"
            "   * (1 - CAST(tu AS DOUBLE) / tn) / n))"
        ).alias("az"),
    )
    p = z.select(
        "nk",
        "n",
        "u",
        F.expr(
            f"CAST(round(2 * ({_PHI_TAIL}) * 1000000000, 0) AS BIGINT)"
        ).alias("p_nano"),
    )
    r = p.select(
        "*",
        F.row_number().over(Window.orderBy("p_nano", "nk")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"),
    )
    f = r.select(
        "*",
        F.expr(
            f"CASE WHEN p_nano * (m - rk + 1) > {_FDR_ALPHA_NANO}"
            " THEN rk ELSE NULL END"
        ).alias("fail_rk"),
        F.expr(
            f"CASE WHEN p_nano * (m - rk + 1) <= {_FDR_ALPHA_NANO}"
            " THEN rk ELSE 0 END"
        ).alias("ok_rk"),
    )
    g = f.select(
        "*",
        F.coalesce(F.min("fail_rk").over(wall), F.col("m") + 1)
        .cast("bigint")
        .alias("first_fail"),
        F.max("ok_rk").over(wall).cast("bigint").alias("last_ok"),
    )
    return g.select(
        F.col("nk").alias("nationkey"),
        F.col("n").alias("n_orders"),
        F.col("u").alias("n_urgent"),
        "p_nano",
        F.col("rk").alias("p_rank"),
        F.when(F.col("rk") < F.col("first_fail"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("holm_significant"),
        F.when(F.col("rk") <= F.col("last_ok"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("hochberg_significant"),
    ).orderBy("p_rank")


# ---------------------------------------------------------------------------
# Round-10: Kuiper circular-uniformity test on order day-of-week.
# ---------------------------------------------------------------------------


@register(
    "kuiper_dow_uniformity",
    oracle="""
    WITH d AS (
      SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow
      FROM orders),
    c AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY dow),
    cum AS (
      SELECT dow, c,
             CAST(SUM(c) OVER (ORDER BY dow) AS BIGINT) AS cum,
             CAST(SUM(c) OVER () AS BIGINT) AS n,
             CAST(ROW_NUMBER() OVER (ORDER BY dow) AS BIGINT) AS i
      FROM c),
    s AS (
      SELECT MAX(n) AS n,
             CAST(MAX(7 * cum - i * n) AS BIGINT) AS dplus7n,
             CAST(MAX(i * n - 7 * (cum - c)) AS BIGINT) AS dminus7n
      FROM cum)
    SELECT n AS n_orders,
           CAST((2 * 1000000 * (dplus7n + dminus7n) + 7 * n)
             // (2 * 7 * n) AS BIGINT) AS kuiper_v_micro,
           CAST(round((CAST(dplus7n AS DOUBLE) + dminus7n)
             / (7E0 * n) * (sqrt(CAST(n AS DOUBLE)) + 0.155E0
               + 0.24E0 / sqrt(CAST(n AS DOUBLE))) * 1000000E0, 0)
             AS BIGINT) AS kuiper_vstar_micro
    FROM s
    """,
)
def kuiper_dow_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's V test of day-of-week uniformity for order placement —
    the CIRCULAR Kolmogorov-Smirnov: V = D+ + D- is invariant to where
    the week is cut (a Monday-anchored KS can miss a weekend bump that
    straddles the Sunday/Monday origin; V sees it identically from any
    rotation), which is why Kuiper is the standard for periodic data
    (times of day, days of week, phases). Complements
    dow_consistency_histogram (descriptive) and
    rayleigh_uniformity_by_type (first-harmonic only: Rayleigh misses
    bimodal midweek+weekend patterns that V catches).

    Exactness: with 7 support points, D+ and D- are exact integer
    maxima of cross-multiplied forms (7*cum - i*n over the stepped
    ECDF); V quantizes by exact half-up integer division; only the
    Stephens-standardized V* (the tabulated form) is a mirrored
    double.

    Scale: one scan to 7 cells; everything else is arithmetic.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("dow")
    )
    c = d.groupBy("dow").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wv = Window.orderBy("dow").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "c",
        F.sum("c").over(wv).cast("bigint").alias("cum"),
        F.sum("c").over(wall).cast("bigint").alias("n"),
        F.row_number().over(Window.orderBy("dow")).cast("bigint").alias("i"),
    )
    s = cum.agg(
        F.max("n").alias("n"),
        F.max(7 * F.col("cum") - F.col("i") * F.col("n"))
        .cast("bigint")
        .alias("dplus7n"),
        F.max(F.col("i") * F.col("n") - 7 * (F.col("cum") - F.col("c")))
        .cast("bigint")
        .alias("dminus7n"),
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.expr(
            "CAST((2 * 1000000 * (dplus7n + dminus7n) + 7 * n)"
            " DIV (2 * 7 * n) AS BIGINT)"
        ).alias("kuiper_v_micro"),
        F.expr(
            "CAST(round((CAST(dplus7n AS DOUBLE) + dminus7n)"
            " / (7E0 * n) * (sqrt(CAST(n AS DOUBLE)) + 0.155E0"
            "   + 0.24E0 / sqrt(CAST(n AS DOUBLE))) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("kuiper_vstar_micro"),
    )


# ---------------------------------------------------------------------------
# Round-11: the remaining classical two-sample / scale shelf — Cucconi
# (joint location-scale via squared ranks), Rousseeuw-Croux Sn/Qn
# (robust scale as pairwise-difference order statistics on the bounded
# value grain), and Fligner-Killeen (normal-scores scale test, consuming
# the probit catalog SQL UDF).
# ---------------------------------------------------------------------------

#: Cucconi's shared double tail: U, V from exact wide-integer numerators,
#: rho from N alone, C the quadratic form — one token-identical text per
#: expression in both engines.
_CUC_SIG = (
    "sqrt(CAST(m AS DOUBLE) * (nn - m) * (nn + 1E0)"
    " * (2E0 * nn + 1) * (8E0 * nn + 11) / 5E0)"
)
_CUC_RHO = (
    "(2E0 * (CAST(nn AS DOUBLE) * nn - 4)"
    " / ((2E0 * nn + 1) * (8E0 * nn + 11)) - 1)"
)


@register(
    "cucconi_delay_location_scale",
    oracle=_DELAY_GRAIN_CTE.replace(_AB_FILTER_MARKER,
        _AB_FILTER_MARKER
        + " AND o.o_orderpriority IN ('1-URGENT', '5-LOW')")
    + f"""
    , vg AS (
      SELECT v,
             CAST(SUM(CASE WHEN pr = '1-URGENT' THEN c ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(SUM(c) AS BIGINT) AS c
      FROM c GROUP BY v),
    cum AS (
      SELECT v, ca, c,
             CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi,
             CAST(SUM(c) OVER (ORDER BY v) - c + 1 AS BIGINT) AS lo,
             CAST(SUM(c) OVER () AS BIGINT) AS nn,
             CAST(SUM(ca) OVER () AS BIGINT) AS m
      FROM vg),
    s AS (
      SELECT MAX(m) AS m, MAX(nn) AS nn,
             CAST(SUM(CAST(ca AS HUGEINT) * (lo + hi)) AS HUGEINT) AS a2,
             CAST(SUM(CAST(ca AS HUGEINT) * (lo + hi) * (lo + hi))
               AS HUGEINT) AS a4
      FROM cum),
    w AS (
      SELECT m, nn,
             3 * a4 - 2 * CAST(m AS HUGEINT) * (nn + 1) * (2 * nn + 1)
               AS nu,
             12 * CAST(m AS HUGEINT) * (nn + 1) * (nn + 1)
               - 12 * CAST(nn + 1 AS HUGEINT) * a2 + 3 * a4
               - 2 * CAST(m AS HUGEINT) * (nn + 1) * (2 * nn + 1) AS nv
      FROM s),
    z AS (
      SELECT m, nn,
             CAST(nu AS DOUBLE) / (2E0 * ({_CUC_SIG})) AS u,
             CAST(nv AS DOUBLE) / (2E0 * ({_CUC_SIG})) AS v,
             {_CUC_RHO} AS rho
      FROM w)
    SELECT m AS n_urgent, nn - m AS n_low,
           CAST(round(u * 1000000E0, 0) AS BIGINT) AS u_micro,
           CAST(round(v * 1000000E0, 0) AS BIGINT) AS v_micro,
           CAST(round((u * u + v * v - 2 * rho * u * v)
             / (2E0 * (1 - rho * rho)) * 1000E0, 0) AS BIGINT)
             AS cucconi_milli
    FROM z
    """,
)
def cucconi_delay_location_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cucconi's joint location-scale test between URGENT and LOW ship
    delays — the OTHER omnibus beside Lepage, and the older one (1968):
    where Lepage ADDS a location z and a scale z, Cucconi builds U from
    the squared ranks and V from the squared CONTRARY ranks of the
    URGENT sample and combines them through their exact correlation
    rho(N) in a bivariate quadratic form with chi-square(2)
    calibration. Squared ranks weight the extremes harder than
    Wilcoxon+Ansari do, so Cucconi and Lepage disagreeing flags a
    tail-shape (not center/spread) difference — worth both.

    Exactness: with midranks, Sum r^2 over a tie group is
    Sum ca*(lo+hi)^2 / 4 — so A2 = Sum ca*(lo+hi) and
    A4 = Sum ca*(lo+hi)^2 are EXACT integers (HUGEINT / decimal(38,0);
    A4 <= 4N^3, inside 1e38 until N ~ 2.9e12), and the U/V numerators
    NU = 3*A4 - 2m(N+1)(2N+1), NV = 12m(N+1)^2 - 12(N+1)*A2 + 3*A4
    - 2m(N+1)(2N+1) are exact by construction (both equal
    2*(6*Sum r^2 - m(N+1)(2N+1)) in the untied case). U, V, rho, C are
    single shared double texts over those integers.

    Scale: one value-grain window pass (<= ~125 rows after the
    (priority, delay, count) reduction), one-row output — the
    ansari/lepage budget exactly.
    """
    c = _delay_grain(spark, sf_dir).filter(
        F.col("pr").isin("1-URGENT", "5-LOW")
    )
    vg = c.groupBy("v").agg(
        F.sum(F.when(F.col("pr") == "1-URGENT", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum("c").cast("bigint").alias("c"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vg.select(
        "ca",
        "c",
        F.sum("c").over(wv).cast("bigint").alias("hi"),
        (F.sum("c").over(wv) - F.col("c") + 1).cast("bigint").alias("lo"),
        F.sum("c").over(wall).cast("bigint").alias("nn"),
        F.sum("ca").over(wall).cast("bigint").alias("m"),
    )
    s = cum.agg(
        F.max("m").alias("m"),
        F.max("nn").alias("nn"),
        F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * (lo + hi)")).alias("a2"),
        F.sum(
            F.expr("CAST(ca AS DECIMAL(38,0)) * (lo + hi) * (lo + hi)")
        ).alias("a4"),
    )
    w = s.select(
        "m",
        "nn",
        F.expr(
            "3 * a4 - 2 * CAST(m AS DECIMAL(38,0)) * (nn + 1)"
            " * (2 * nn + 1)"
        ).alias("nu"),
        F.expr(
            "12 * CAST(m AS DECIMAL(38,0)) * (nn + 1) * (nn + 1)"
            " - 12 * CAST(nn + 1 AS DECIMAL(38,0)) * a2 + 3 * a4"
            " - 2 * CAST(m AS DECIMAL(38,0)) * (nn + 1) * (2 * nn + 1)"
        ).alias("nv"),
    )
    z = w.select(
        "m",
        "nn",
        F.expr(f"CAST(nu AS DOUBLE) / (2E0 * ({_CUC_SIG}))").alias("u"),
        F.expr(f"CAST(nv AS DOUBLE) / (2E0 * ({_CUC_SIG}))").alias("v"),
        F.expr(_CUC_RHO).alias("rho"),
    )
    return z.select(
        F.col("m").alias("n_urgent"),
        (F.col("nn") - F.col("m")).alias("n_low"),
        F.expr("CAST(round(u * 1000000E0, 0) AS BIGINT)").alias("u_micro"),
        F.expr("CAST(round(v * 1000000E0, 0) AS BIGINT)").alias("v_micro"),
        F.expr(
            "CAST(round((u * u + v * v - 2 * rho * u * v)"
            " / (2E0 * (1 - rho * rho)) * 1000E0, 0) AS BIGINT)"
        ).alias("cucconi_milli"),
    )


@register(
    "sn_scale_delay_by_priority",
    oracle=_DELAY_GRAIN_CTE
    + """
    , mx AS (SELECT CAST(MAX(v) AS BIGINT) AS maxv FROM c),
    n AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
    dense AS (
      SELECT n.pr, t.t, CAST(COALESCE(c2.c, 0) AS BIGINT) AS ct
      FROM n CROSS JOIN (
        SELECT unnest(range(0, (SELECT maxv + 1 FROM mx))) AS t) t
      LEFT JOIN c c2 ON c2.pr = n.pr AND c2.v = t.t),
    cumday AS (
      SELECT pr, t,
             CAST(SUM(ct) OVER (PARTITION BY pr ORDER BY t) AS BIGINT)
               AS cum
      FROM dense),
    arr AS (SELECT pr, list(cum ORDER BY t) AS cums FROM cumday GROUP BY pr),
    inner_med AS (
      SELECT g.pr, g.v AS av, g.c AS ca,
             CAST(list_reduce(
               list_prepend(CAST(mx.maxv AS BIGINT), range(1, 14)),
               (acc, i) -> CASE
                 WHEN acc // 65536 >= acc % 65536 THEN acc
                 WHEN a.cums[CAST(least(g.v + ((acc // 65536 + acc % 65536) // 2), mx.maxv) + 1 AS BIGINT)] - CASE WHEN g.v - ((acc // 65536 + acc % 65536) // 2) > 0 THEN a.cums[CAST(g.v - ((acc // 65536 + acc % 65536) // 2) AS BIGINT)] ELSE 0 END >= n.n // 2 + 2
                 THEN (acc // 65536) * 65536 + ((acc // 65536 + acc % 65536) // 2)
                 ELSE (((acc // 65536 + acc % 65536) // 2) + 1) * 65536 + acc % 65536 END)
               % 65536 AS BIGINT) AS him
      FROM c g
      JOIN arr a ON a.pr = g.pr
      JOIN n ON n.pr = g.pr
      CROSS JOIN mx),
    outer_cum AS (
      SELECT i.pr, i.him,
             CAST(SUM(i.ca) OVER (PARTITION BY i.pr ORDER BY i.him, i.av)
               AS BIGINT) AS cc,
             n.n
      FROM inner_med i JOIN n ON n.pr = i.pr)
    SELECT pr AS priority, CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MIN(him) AS BIGINT) AS sn_days,
           CAST(round(1.1926E0 * MIN(him) * 1000000E0, 0) AS BIGINT)
             AS sn_micro
    FROM outer_cum WHERE cc >= (n + 1) // 2
    GROUP BY pr ORDER BY pr
    """,
)
def sn_scale_delay_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rousseeuw-Croux Sn robust scale of the ship delay, per priority:
    Sn = 1.1926 * lomed_i himed_{j!=i} |x_i - x_j| — the 58%-breakdown
    scale estimator that, unlike MAD, needs NO location estimate and
    stays efficient under asymmetry (MAD implicitly assumes symmetry
    around the median; delays are right-skewed, exactly MAD's bad
    case). himed = the (floor(n/2)+1)-th order statistic over the n-1
    pairwise distances from each point, lomed = the floor((n+1)/2)-th
    over points; 1.1926 is the asymptotic Gaussian consistency factor
    (finite-sample c_n corrections documented out).

    Exactness: FULLY integer until the one constant multiply — the
    inner himed for value a is min{d : ECDF-weight of [a-d, a+d]
    >= floor(n/2)+2} (the +2 excludes the point's own copy), a pure
    cumulative-count selection; the outer lomed is a weighted order
    statistic. No float ever ranks.

    Scale: the naive estimator is O(n^2) per group. The DENSE-DOMAIN
    ECDF device bounds it instead by the day DOMAIN: one per-priority
    cumulative array over calendar days (|days| entries), then each
    distinct value scans d = 0..|days| with O(1) array-index weight
    lookups inside a single JVM higher-order-function projection —
    |values| x |days| lambda steps, ZERO pairwise shuffle, independent
    of row count. (A first draft materialized the (value, distance)
    pair histogram and window-scanned it: 15M rows and ~100 s at
    sf0.01; this form is ~2 s. The pair grid is bounded by the value
    domain, not n, but the dense array turns quadratic rows into
    quadratic REGISTER work, which is the right side of the memory
    wall at 100 TB.)
    """
    c = _delay_grain(spark, sf_dir)
    mx = c.agg(F.max("v").cast("bigint").alias("maxv"))
    n = c.groupBy("pr").agg(F.sum("c").cast("bigint").alias("n"))
    dense = (
        n.crossJoin(F.broadcast(mx))
        .select("pr", F.explode(F.expr("sequence(0L, maxv)")).alias("t"))
        .join(
            c.select("pr", F.col("v").alias("t"), "c"), ["pr", "t"], "left"
        )
        .select("pr", "t", F.coalesce("c", F.lit(0)).alias("ct"))
    )
    wt = Window.partitionBy("pr").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    arr = (
        dense.select(
            "pr", "t", F.sum("ct").over(wt).cast("bigint").alias("cum")
        )
        .groupBy("pr")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("t", "cum"))),
                lambda x: x["cum"],
            ).alias("cums")
        )
    )
    inner = (
        c.join(F.broadcast(arr), "pr")
        .join(F.broadcast(n), "pr")
        .crossJoin(F.broadcast(mx))
        .select(
            "pr",
            F.col("v").alias("av"),
            F.col("c").alias("ca"),
            # 13-step binary search on d (2^13 > any day domain): the
            # invariant keeps hi feasible and lo-1 infeasible; (lo, hi)
            # pack into ONE bigint (lo*65536 + hi) so the fold
            # accumulator is a primitive in both engines. O(log days)
            # per value vs the linear scan's O(days) — the tail values
            # whose windows must stretch to the far side no longer pay
            # a full-domain scan (16 s -> ~1 s at sf0.1).
            F.expr(
                "CAST(aggregate(sequence(1, 13), CAST(maxv AS BIGINT),"
                " (acc, i) -> CASE"
                " WHEN acc DIV 65536 >= acc % 65536 THEN acc"
                " WHEN element_at(cums, CAST(least(v + ((acc DIV 65536 + acc % 65536) DIV 2), maxv) + 1 AS INT)) - CASE WHEN v - ((acc DIV 65536 + acc % 65536) DIV 2) > 0 THEN element_at(cums, CAST(v - ((acc DIV 65536 + acc % 65536) DIV 2) AS INT)) ELSE 0L END >= n DIV 2 + 2"
                " THEN (acc DIV 65536) * 65536 + ((acc DIV 65536 + acc % 65536) DIV 2)"
                " ELSE (((acc DIV 65536 + acc % 65536) DIV 2) + 1) * 65536 + acc % 65536 END)"
                " % 65536 AS BIGINT)"
            ).alias("him"),
        )
    )
    wo = Window.partitionBy("pr").orderBy("him", "av").rowsBetween(
        Window.unboundedPreceding, 0
    )
    oc = inner.join(F.broadcast(n), "pr").select(
        "pr", "him", "n",
        F.sum("ca").over(wo).cast("bigint").alias("cc"),
    )
    return (
        oc.filter(F.col("cc") >= F.expr("(n + 1) DIV 2"))
        .groupBy(F.col("pr").alias("priority"))
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.min("him").cast("bigint").alias("sn_days"),
            F.expr(
                "CAST(round(1.1926E0 * MIN(him) * 1000000E0, 0) AS BIGINT)"
            ).alias("sn_micro"),
        )
        .orderBy("priority")
    )


@register(
    "qn_scale_delay_by_priority",
    oracle=_DELAY_GRAIN_CTE
    + """
    , n AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
    pd AS (
      SELECT a.pr, abs(a.v - b.v) AS d,
             CAST(SUM(CASE WHEN a.v = b.v THEN a.c * (a.c - 1) // 2
                           WHEN a.v < b.v THEN a.c * b.c
                           ELSE 0 END) AS BIGINT) AS w
      FROM c a JOIN c b ON a.pr = b.pr AND a.v <= b.v
      GROUP BY 1, 2),
    cumd AS (
      SELECT pd.pr, d,
             CAST(SUM(w) OVER (PARTITION BY pd.pr ORDER BY d) AS BIGINT)
               AS cw,
             n.n
      FROM pd JOIN n ON n.pr = pd.pr)
    SELECT pr AS priority, CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MIN(d) AS BIGINT) AS qn_days,
           CAST(round(2.2219E0 * MIN(d) * 1000000E0, 0) AS BIGINT)
             AS qn_micro
    FROM cumd
    WHERE cw >= ((n // 2 + 1) * (n // 2)) // 2
    GROUP BY pr ORDER BY pr
    """,
)
def qn_scale_delay_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rousseeuw-Croux Qn robust scale of the ship delay, per priority:
    Qn = 2.2219 * {|x_i - x_j|; i < j}_(k) with k = C(h,2),
    h = floor(n/2)+1 — the 50%-breakdown, 82%-efficient companion of
    Sn (Sn trades efficiency for the nested-median structure; Qn is a
    single order statistic over all C(n,2) pairwise distances and is
    the better default when efficiency matters). Reading Sn, Qn, MAD
    side by side on the same grain separates skew effects (MAD low)
    from tail effects (Qn high).

    Exactness: FULLY integer until the consistency constant. The
    number of pairs at distance <= d is
    T0 + Sum_a ca * (cum(a + d) - cum(a)) over the dense day ECDF
    (T0 = Sum C(ca, 2) same-value pairs) — exact counts; the k-th
    order statistic is the minimal feasible d found by a 13-step
    binary search (2^13 > day domain) whose (lo, hi) state packs into
    one bigint. The DuckDB oracle deliberately takes a DIFFERENT
    route (the explicit difference histogram + cumulative selection —
    DuckDB lambdas cannot close over an outer lambda's accumulator),
    so the hash match is a two-algorithm agreement, stronger than a
    mirrored-text check; exactness is unaffected because every
    quantity on both routes is an integer count. Pair counts stay
    inside int64 for n < ~3e9 rows per group (documented bound).

    Scale: the naive Qn is O(n^2); a first draft materialized the
    |values|^2/2 difference histogram (~14M rows, 4.9 s at sf0.1).
    This form is ONE row per priority — binary search x O(|values|)
    register work inside a single projection, no pair table, no
    shuffle beyond the value-grain reduction (~2 s, n-independent).
    """
    c = _delay_grain(spark, sf_dir)
    mx = c.agg(F.max("v").cast("bigint").alias("maxv"))
    n = c.groupBy("pr").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("c * (c - 1) DIV 2")).cast("bigint").alias("t0"),
    )
    dense = (
        n.crossJoin(F.broadcast(mx))
        .select("pr", F.explode(F.expr("sequence(0L, maxv)")).alias("t"))
        .join(
            c.select("pr", F.col("v").alias("t"), "c"), ["pr", "t"], "left"
        )
        .select("pr", "t", F.coalesce("c", F.lit(0)).alias("ct"))
    )
    wt = Window.partitionBy("pr").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    arr = (
        dense.select(
            "pr", "t", F.sum("ct").over(wt).cast("bigint").alias("cum")
        )
        .groupBy("pr")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("t", "cum"))),
                lambda x: x["cum"],
            ).alias("cums")
        )
    )
    vals = c.groupBy("pr").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("v", "c"))),
            lambda x: x["v"].cast("bigint"),
        ).alias("vs"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("v", "c"))),
            lambda x: x["c"].cast("bigint"),
        ).alias("cs"),
    )
    t = n.join(arr, "pr").join(vals, "pr").crossJoin(F.broadcast(mx))
    return t.select(
        F.col("pr").alias("priority"),
        F.col("n").cast("bigint").alias("n_lines"),
        F.expr("CAST(aggregate(sequence(1, 13), CAST(maxv AS BIGINT), (acc, i) -> CASE WHEN acc DIV 65536 >= acc % 65536 THEN acc WHEN t0 + aggregate(sequence(1, CAST(size(vs) AS INT)), 0L, (sa, j) -> sa + cs[j - 1] * (element_at(cums, CAST(least(vs[j - 1] + ((acc DIV 65536 + acc % 65536) DIV 2), maxv) + 1 AS INT)) - element_at(cums, CAST(vs[j - 1] + 1 AS INT)))) >= ((n DIV 2 + 1) * (n DIV 2)) DIV 2 THEN (acc DIV 65536) * 65536 + ((acc DIV 65536 + acc % 65536) DIV 2) ELSE (((acc DIV 65536 + acc % 65536) DIV 2) + 1) * 65536 + acc % 65536 END) % 65536 AS BIGINT)").alias("qn_days"),
        F.expr(
            "CAST(round(2.2219E0 * (aggregate(sequence(1, 13), CAST(maxv AS BIGINT), (acc, i) -> CASE WHEN acc DIV 65536 >= acc % 65536 THEN acc WHEN t0 + aggregate(sequence(1, CAST(size(vs) AS INT)), 0L, (sa, j) -> sa + cs[j - 1] * (element_at(cums, CAST(least(vs[j - 1] + ((acc DIV 65536 + acc % 65536) DIV 2), maxv) + 1 AS INT)) - element_at(cums, CAST(vs[j - 1] + 1 AS INT)))) >= ((n DIV 2 + 1) * (n DIV 2)) DIV 2 THEN (acc DIV 65536) * 65536 + ((acc DIV 65536 + acc % 65536) DIV 2) ELSE (((acc DIV 65536 + acc % 65536) DIV 2) + 1) * 65536 + acc % 65536 END) % 65536) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("qn_micro"),
    ).orderBy("priority")


#: Acklam's rational approximation of the inverse normal CDF — ONE
#: fixed-order expression text, registered as a catalog SQL function in
#: Spark and a MACRO in DuckDB (the round-11 SQL-UDF axis), so both
#: engines evaluate the identical polynomial. Relative error < 1.15e-9
#: over (0,1); the engine consumes it only through nano quantization.
_PROBIT_BODY = (
    "CASE WHEN p < 0.02425E0 THEN"
    " (((((-7.784894002430293E-03 * sqrt(-2 * ln(p))"
    "  - 3.223964580411365E-01) * sqrt(-2 * ln(p))"
    "  - 2.400758277161838E0) * sqrt(-2 * ln(p))"
    "  - 2.549732539343734E0) * sqrt(-2 * ln(p))"
    "  + 4.374664141464968E0) * sqrt(-2 * ln(p))"
    "  + 2.938163982698783E0)"
    " / ((((7.784695709041462E-03 * sqrt(-2 * ln(p))"
    "  + 3.224671290700398E-01) * sqrt(-2 * ln(p))"
    "  + 2.445134137142996E0) * sqrt(-2 * ln(p))"
    "  + 3.754408661907416E0) * sqrt(-2 * ln(p)) + 1)"
    " WHEN p > 0.97575E0 THEN"
    " -((((( -7.784894002430293E-03 * sqrt(-2 * ln(1 - p))"
    "  - 3.223964580411365E-01) * sqrt(-2 * ln(1 - p))"
    "  - 2.400758277161838E0) * sqrt(-2 * ln(1 - p))"
    "  - 2.549732539343734E0) * sqrt(-2 * ln(1 - p))"
    "  + 4.374664141464968E0) * sqrt(-2 * ln(1 - p))"
    "  + 2.938163982698783E0)"
    " / ((((7.784695709041462E-03 * sqrt(-2 * ln(1 - p))"
    "  + 3.224671290700398E-01) * sqrt(-2 * ln(1 - p))"
    "  + 2.445134137142996E0) * sqrt(-2 * ln(1 - p))"
    "  + 3.754408661907416E0) * sqrt(-2 * ln(1 - p)) + 1)"
    " ELSE"
    " (((((-3.969683028665376E+01 * ((p - 0.5E0) * (p - 0.5E0))"
    "  + 2.209460984245205E+02) * ((p - 0.5E0) * (p - 0.5E0))"
    "  - 2.759285104469687E+02) * ((p - 0.5E0) * (p - 0.5E0))"
    "  + 1.383577518672690E+02) * ((p - 0.5E0) * (p - 0.5E0))"
    "  - 3.066479806614716E+01) * ((p - 0.5E0) * (p - 0.5E0))"
    "  + 2.506628277459239E0) * (p - 0.5E0)"
    " / (((((-5.447609879822406E+01 * ((p - 0.5E0) * (p - 0.5E0))"
    "  + 1.615858368580409E+02) * ((p - 0.5E0) * (p - 0.5E0))"
    "  - 1.556989798598866E+02) * ((p - 0.5E0) * (p - 0.5E0))"
    "  + 6.680131188771972E+01) * ((p - 0.5E0) * (p - 0.5E0))"
    "  - 1.328068155288572E+01) * ((p - 0.5E0) * (p - 0.5E0)) + 1)"
    " END"
)


@register(
    "fligner_killeen_delay_scale",
    oracle="CREATE OR REPLACE MACRO probit(p) AS (" + _PROBIT_BODY + "); "
    + _DELAY_GRAIN_CTE
    + """
    , n AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
    cumv AS (
      SELECT c.pr, c.v, c.c, n.n,
             CAST(SUM(c.c) OVER (PARTITION BY c.pr ORDER BY c.v)
               AS BIGINT) AS cum
      FROM c JOIN n ON n.pr = c.pr),
    med AS (
      SELECT pr,
             CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
               AS BIGINT) AS vlo,
             CAST(MIN(CASE WHEN cum >= n // 2 + 1 THEN v END)
               AS BIGINT) AS vhi
      FROM cumv GROUP BY pr),
    u AS (
      SELECT c.pr, abs(2 * c.v - (m.vlo + m.vhi)) AS u,
             CAST(SUM(c.c) AS BIGINT) AS c
      FROM c JOIN med m ON m.pr = c.pr GROUP BY 1, 2),
    ug AS (SELECT u.u, CAST(SUM(c) AS BIGINT) AS ct FROM u GROUP BY 1),
    rk AS (
      SELECT u,
             CAST(SUM(ct) OVER (ORDER BY u) AS BIGINT) AS hi,
             CAST(SUM(ct) OVER (ORDER BY u) - ct + 1 AS BIGINT) AS lo,
             CAST(SUM(ct) OVER () AS BIGINT) AS nn
      FROM ug),
    an AS (
      SELECT u,
             CAST(round(probit(0.5E0 + (CAST(lo + hi AS DOUBLE) / 4)
               / (nn + 1)) * 1000000000, 0) AS BIGINT) AS a_nano,
             nn
      FROM rk),
    gs AS (
      SELECT u.pr,
             CAST(SUM(u.c) AS BIGINT) AS ng,
             CAST(SUM(u.c * an.a_nano) AS BIGINT) AS sg,
             CAST(SUM(CAST(u.c AS HUGEINT) * an.a_nano * an.a_nano)
               AS HUGEINT) AS ssg,
             MAX(an.nn) AS nn
      FROM u JOIN an ON an.u = u.u
      GROUP BY u.pr),
    fold AS (
      SELECT CAST(SUM(sg) AS BIGINT) AS s,
             CAST(SUM(ssg) AS HUGEINT) AS ss,
             MAX(nn) AS nn,
             list(CAST(sg AS DOUBLE) ORDER BY pr) AS sgs,
             list(CAST(ng AS DOUBLE) ORDER BY pr) AS ngs,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM gs),
    num AS (
      SELECT nn, k,
             list_reduce(
               list_transform(range(1, k + 1),
                 i -> (sgs[i] - ngs[i] * (CAST(s AS DOUBLE) / nn))
                      * (sgs[i] - ngs[i] * (CAST(s AS DOUBLE) / nn))
                      / ngs[i]),
               (acc, x) -> acc + x) AS numer,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nn)
               / (nn - 1) AS vv
      FROM fold)
    SELECT nn AS n_lines, k AS n_groups,
           CAST(round(numer / vv * 1000E0, 0) AS BIGINT) AS fk_chi2_milli
    FROM num
    """,
)
def fligner_killeen_delay_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fligner-Killeen test of scale homogeneity across ALL FIVE order
    priorities — the robust k-sample spread test (the one R's
    ``fligner.test`` ships as the default): absolute deviations from
    each group's MEDIAN, pooled-midranked, transformed through normal
    scores a_i = probit(1/2 + r_i/(2(N+1))), then the between-group
    chi-square over those scores. Levene/Bartlett (present upstream)
    lose badly under heavy tails; FK keeps its level — reading the
    three side by side separates variance drift from tail drift.

    The probit rides the round-11 CATALOG SQL UDF axis: Acklam's
    rational approximation registered once per session as ``probit(p)``
    (DuckDB twin: the same body as a MACRO), analyzer-inlined — the
    third catalog-function consumer beside the A&S tail and the Cramer
    solve.

    Exactness: group medians are exact doubled-integers 2*med
    (lo/hi order statistics summed, so even-n averaging stays
    integer); |2v - m2| is integer, comparable across groups; pooled
    midranks keep (lo+hi) integer; every normal score is quantized to
    integer NANO before any sum (the langid-kappa device), so the
    group sums S_g, SS_g are exact — the chi-square assembles from a
    k-element ORDERED list fold (both engines fold in priority order,
    bit-identical doubles).

    Scale: one fact-grain reduction to the (priority, delay) grain,
    one pooled rank pass on the |deviation| grain, a 5-row fold — the
    levene budget plus one broadcast join.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION probit(p DOUBLE) "
        f"RETURNS DOUBLE RETURN {_PROBIT_BODY}"
    )
    c = _delay_grain(spark, sf_dir)
    n = c.groupBy("pr").agg(F.sum("c").cast("bigint").alias("n"))
    wv = Window.partitionBy("pr").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumv = c.join(F.broadcast(n), "pr").select(
        "pr", "v", "c", "n",
        F.sum("c").over(wv).cast("bigint").alias("cum"),
    )
    med = (
        cumv.groupBy("pr")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("v")
                )
            ).cast("bigint").alias("vlo"),
            F.min(
                F.when(F.col("cum") >= F.expr("n DIV 2 + 1"), F.col("v"))
            ).cast("bigint").alias("vhi"),
        )
    )
    u = (
        c.join(F.broadcast(med), "pr")
        .groupBy(
            "pr",
            F.abs(2 * F.col("v") - (F.col("vlo") + F.col("vhi"))).alias("u"),
        )
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    ug = u.groupBy("u").agg(F.sum("c").cast("bigint").alias("ct"))
    wu = Window.orderBy("u").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = ug.select(
        "u",
        F.sum("ct").over(wu).cast("bigint").alias("hi"),
        (F.sum("ct").over(wu) - F.col("ct") + 1).cast("bigint").alias("lo"),
        F.sum("ct").over(wall).cast("bigint").alias("nn"),
    )
    an = rk.select(
        "u",
        F.expr(
            "CAST(round(probit(0.5E0 + (CAST(lo + hi AS DOUBLE) / 4)"
            " / (nn + 1)) * 1000000000, 0) AS BIGINT)"
        ).alias("a_nano"),
        "nn",
    )
    gs = (
        u.join(an, "u")
        .groupBy("pr")
        .agg(
            F.sum("c").cast("bigint").alias("ng"),
            F.sum(F.col("c") * F.col("a_nano")).cast("bigint").alias("sg"),
            F.sum(
                F.expr("CAST(c AS DECIMAL(38,0)) * a_nano * a_nano")
            ).alias("ssg"),
            F.max("nn").alias("nn"),
        )
    )
    fold = gs.agg(
        F.sum("sg").cast("bigint").alias("s"),
        F.sum("ssg").alias("ss"),
        F.max("nn").alias("nn"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pr", "sg"))),
            lambda x: x["sg"].cast("double"),
        ).alias("sgs"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pr", "ng"))),
            lambda x: x["ng"].cast("double"),
        ).alias("ngs"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    num = fold.select(
        "nn",
        "k",
        F.expr(
            "aggregate(transform(sequence(1, CAST(k AS INT)),"
            " i -> (sgs[i - 1] - ngs[i - 1] * (CAST(s AS DOUBLE) / nn))"
            "      * (sgs[i - 1] - ngs[i - 1] * (CAST(s AS DOUBLE) / nn))"
            "      / ngs[i - 1]),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("numer"),
        F.expr(
            "(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nn) / (nn - 1)"
        ).alias("vv"),
    )
    return num.select(
        F.col("nn").alias("n_lines"),
        F.col("k").alias("n_groups"),
        F.expr(
            "CAST(round(numer / vv * 1000E0, 0) AS BIGINT)"
        ).alias("fk_chi2_milli"),
    )


@register(
    "weighted_kappa_priority_delay",
    oracle=_DELAY_GRAIN_CTE
    + """
    , n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
    vg AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM c GROUP BY v),
    cum AS (
      SELECT v,
             CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS hi,
             CAST(SUM(cv) OVER (ORDER BY v) - cv AS BIGINT) AS lo0
      FROM vg),
    split AS (
      SELECT c.pr, cum.v, j.j, c.c, n.n,
             CAST(least(cum.hi, (j.j * n.n) // 5)
               - greatest(cum.lo0, ((j.j - 1) * n.n) // 5) AS BIGINT)
               AS span,
             CAST(cum.hi - cum.lo0 AS BIGINT) AS width
      FROM c
      JOIN cum ON cum.v = c.v
      CROSS JOIN n
      CROSS JOIN (SELECT unnest(range(1, 6)) AS j) j),
    cells AS (
      SELECT CAST(substr(pr, 1, 1) AS BIGINT) AS i, j,
             CAST(SUM((c * greatest(span, 0)) // width) AS BIGINT) AS o
      FROM split
      GROUP BY 1, 2),
    rc AS (
      SELECT i, j, o,
             CAST(SUM(o) OVER (PARTITION BY i) AS BIGINT) AS ri,
             CAST(SUM(o) OVER (PARTITION BY j) AS BIGINT) AS cj,
             CAST(SUM(o) OVER () AS BIGINT) AS m
      FROM cells),
    agg AS (
      SELECT MAX(m) AS m,
             CAST(SUM(abs(i - j) * o) AS BIGINT) AS dol,
             CAST(SUM((i - j) * (i - j) * o) AS BIGINT) AS doq,
             CAST(SUM(abs(i - j) * CAST(ri AS HUGEINT) * cj) AS HUGEINT)
               AS del,
             CAST(SUM((i - j) * (i - j) * CAST(ri AS HUGEINT) * cj)
               AS HUGEINT) AS deq
      FROM rc)
    SELECT m AS n_lines,
           CAST(round((1 - CAST(m AS DOUBLE) * dol / CAST(del AS DOUBLE))
             * 1000000, 0) AS BIGINT) AS kappa_linear_micro,
           CAST(round((1 - CAST(m AS DOUBLE) * doq / CAST(deq AS DOUBLE))
             * 1000000, 0) AS BIGINT) AS kappa_quadratic_micro
    FROM agg
    """,
)
def weighted_kappa_priority_delay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted Cohen's kappa between the ORDINAL order priority (1-5)
    and the ship-delay QUINTILE (1-5) — "does stated urgency agree
    with realized speed", scored as an ordinal-ordinal agreement where
    plain kappa would treat priority 1 vs 2 the same as 1 vs 5. Both
    classic kernels: linear |i-j| and quadratic (i-j)^2 (quadratic
    weighted kappa equals the ICC asymptotically — the bridge between
    agreement and correlation views).

    Exactness: quintile boundaries are the exact integer rank cuts
    floor(j*n/5); a delay value whose rank span [lo, hi) crosses a cut
    splits its per-priority count PROPORTIONALLY by integer floor
    division ((c * span) DIV width) — deterministic in both engines,
    no row-level ntile needed; disagreement sums D_o (int64) and
    D_e = Sum w * row_i * col_j (HUGEINT / decimal(38,0)) are exact,
    kappa_w = 1 - m*D_o/D_e is one mirrored double per kernel.

    Scale: the fact table reduces to the (priority, delay) grain; the
    quintile split is a 5-way broadcast fan-out of that grain; the
    contingency is 25 cells. No global sort — ranks come from the
    value-grain cumulative.
    """
    c = _delay_grain(spark, sf_dir)
    n = c.agg(F.sum("c").cast("bigint").alias("n"))
    vg = c.groupBy("v").agg(F.sum("c").cast("bigint").alias("cv"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vg.select(
        "v",
        F.sum("cv").over(wv).cast("bigint").alias("hi"),
        (F.sum("cv").over(wv) - F.col("cv")).cast("bigint").alias("lo0"),
    )
    j = spark.range(1, 6).select(F.col("id").alias("j"))
    split = (
        c.join(cum, "v")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(j))
        .select(
            "pr",
            "c",
            F.expr(
                "CAST(least(hi, (j * n) DIV 5)"
                " - greatest(lo0, ((j - 1) * n) DIV 5) AS BIGINT)"
            ).alias("span"),
            (F.col("hi") - F.col("lo0")).cast("bigint").alias("width"),
            "j",
        )
    )
    cells = split.groupBy(
        F.expr("CAST(substr(pr, 1, 1) AS BIGINT)").alias("i"), "j"
    ).agg(
        F.sum(F.expr("(c * greatest(span, 0)) DIV width"))
        .cast("bigint")
        .alias("o")
    )
    wi = Window.partitionBy("i")
    wj = Window.partitionBy("j")
    wall = Window.partitionBy()
    rc = cells.select(
        "i", "j", "o",
        F.sum("o").over(wi).cast("bigint").alias("ri"),
        F.sum("o").over(wj).cast("bigint").alias("cj"),
        F.sum("o").over(wall).cast("bigint").alias("m"),
    )
    agg = rc.agg(
        F.max("m").alias("m"),
        F.sum(F.expr("abs(i - j) * o")).cast("bigint").alias("dol"),
        F.sum(F.expr("(i - j) * (i - j) * o")).cast("bigint").alias("doq"),
        F.sum(
            F.expr("abs(i - j) * CAST(ri AS DECIMAL(38,0)) * cj")
        ).alias("del"),
        F.sum(
            F.expr("(i - j) * (i - j) * CAST(ri AS DECIMAL(38,0)) * cj")
        ).alias("deq"),
    )
    return agg.select(
        F.col("m").alias("n_lines"),
        F.expr(
            "CAST(round((1 - CAST(m AS DOUBLE) * dol / CAST(del AS DOUBLE))"
            " * 1000000, 0) AS BIGINT)"
        ).alias("kappa_linear_micro"),
        F.expr(
            "CAST(round((1 - CAST(m AS DOUBLE) * doq / CAST(deq AS DOUBLE))"
            " * 1000000, 0) AS BIGINT)"
        ).alias("kappa_quadratic_micro"),
    )


# ---------------------------------------------------------------------------
# Round-11: the residual-diagnostics completion of the daily-trend
# econometrics shelf — ARCH LM (volatility clustering), White's test
# (general heteroscedasticity), Ramsey RESET (functional form), and
# Prais-Winsten (AR(1)-corrected trend), all on the exact unit-grain
# residual device breusch_pagan/durbin_watson established.
# ---------------------------------------------------------------------------


@register(
    "arch_lm_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (SELECT t.t, {_BP_RESID} AS eu FROM t, g),
    y AS (
      SELECT t, CAST(eu AS HUGEINT) * eu AS y2,
             LAG(CAST(eu AS HUGEINT) * eu) OVER (ORDER BY t) AS y2l
      FROM e),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y2l) AS HUGEINT) AS sx,
             CAST(SUM(y2) AS HUGEINT) AS sy,
             CAST(SUM(y2l * y2) AS HUGEINT) AS sxy,
             CAST(SUM(y2l * y2l) AS HUGEINT) AS sxx,
             CAST(SUM(y2 * y2) AS HUGEINT) AS syy
      FROM y WHERE y2l IS NOT NULL)
    SELECT n AS n_pairs,
           CAST(round(CAST(n AS DOUBLE)
             * pow((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)), 2)
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS lm_micro,
           CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000E0, 0) AS BIGINT) AS rho1_micro
    FROM s
    """,
)
def arch_lm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (one lag) on the daily-revenue trend
    residuals: regress e_t^2 on e_{t-1}^2, LM = n*R^2 ~ chi2(1) —
    detects VOLATILITY CLUSTERING, the serial dependence of the
    variance that breusch_pagan (variance vs TIME) and durbin_watson
    (level vs level) both miss. A significant LM here says the EWMA
    control chart's fixed sigma understates risk right after a shock —
    the practical trigger for switching to a GARCH-style adaptive
    band. rho1 gives the sign/strength of the clustering.

    Exactness: residuals are the shared exact unit-grain device
    (_BP_RESID); squared-residual sums and their lag cross-products
    ride HUGEINT/decimal(38,0) (fourth powers of unit-grain residuals,
    same width budget breusch_pagan certified at sf1); LM and rho are
    mirrored single-row doubles.

    Scale: day-grain series; one window lag; one-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t", F.expr(_BP_RESID).alias("eu")
    )
    wl = Window.orderBy("t")
    y = e.select(
        "t",
        F.expr("CAST(eu AS DECIMAL(38,0)) * eu").alias("y2"),
    ).select("t", "y2", F.lag("y2").over(wl).alias("y2l"))
    s = y.filter(F.col("y2l").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y2l").alias("sx"),
        F.sum("y2").alias("sy"),
        F.sum(F.expr("y2l * y2")).alias("sxy"),
        F.sum(F.expr("y2l * y2l")).alias("sxx"),
        F.sum(F.expr("y2 * y2")).alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.expr(
            "CAST(round(CAST(n AS DOUBLE)"
            " * pow((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            "     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)), 2)"
            " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            "       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("lm_micro"),
        F.expr(
            "CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            "   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            "      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("rho1_micro"),
    )


from ai_etl_studio_spark.operators.extended import (  # noqa: E402
    _QUAD_D,
    _QUAD_DA,
    _QUAD_DB,
    _QUAD_DC,
)

#: White-test auxiliary R^2: SSE of the quadratic fit of y on (t, t^2)
#: via the normal-equations identity SSE = syy - (a*sy + b*sxy + c*sx2y)
#: with (a,b,c) from the shared Cramer texts — one fixed-order double.
_WHITE_R2 = (
    f"(1 - (CAST(syy AS DOUBLE) - (({_QUAD_DA}) * sy + ({_QUAD_DB}) * sxy"
    f" + ({_QUAD_DC}) * sx2y) / ({_QUAD_D}))"
    " / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))"
)


@register(
    "white_het_test_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (SELECT t.t, {_BP_RESID} AS eu FROM t, g),
    y AS (SELECT t, CAST(eu AS HUGEINT) * eu AS y2 FROM e),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(t) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(t AS HUGEINT) * t) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(t AS HUGEINT) * t * t) AS DOUBLE) AS sx3,
             CAST(SUM(CAST(t AS HUGEINT) * t * t * t) AS DOUBLE) AS sx4,
             CAST(SUM(y2) AS DOUBLE) AS sy,
             CAST(SUM(t * y2) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(t AS HUGEINT) * t * y2) AS DOUBLE) AS sx2y,
             CAST(SUM(y2 * y2) AS DOUBLE) AS syy,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM y)
    SELECT n_days,
           CAST(round(n * ({_WHITE_R2}) * 1000000E0, 0) AS BIGINT)
             AS lm_micro,
           CAST(round(({_WHITE_R2}) * 1000000E0, 0) AS BIGINT)
             AS r2_micro
    FROM s
    """,
)
def white_het_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """White's general heteroscedasticity test on the daily-revenue
    trend residuals: regress e^2 on (t, t^2), LM = n*R^2 ~ chi2(2) —
    the specification-free companion of breusch_pagan (BP tests a
    LINEAR variance drift and misses U-shaped / saturating patterns;
    White's quadratic auxiliary catches any smooth form in t). BP
    significant + White not = linear variance growth; White
    significant + BP not = curvature, e.g. variance that rose and
    plateaued.

    Exactness: the shared exact unit-grain residual device feeds
    integer power sums (t-powers in int64/int128, y-weighted sums and
    Sum y^2 in HUGEINT/decimal(38,0)); the auxiliary R^2 assembles
    through the SAME Cramer determinant texts as the quad-fit catalog
    function (_QUAD_*), SSE via the normal-equations identity — one
    fixed-order double, no second data pass.

    Scale: day-grain reduction, one-row sufficient statistics, one-row
    output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t", F.expr(_BP_RESID).alias("eu")
    )
    y = e.select("t", F.expr("CAST(eu AS DECIMAL(38,0)) * eu").alias("y2"))
    s = y.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").cast("double").alias("sx1"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t")).cast("double").alias("sx2"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t * t")).cast("double").alias("sx3"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t * t * t")).cast("double").alias("sx4"),
        F.sum("y2").cast("double").alias("sy"),
        F.sum(F.expr("t * y2")).cast("double").alias("sxy"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t * y2")).cast("double").alias("sx2y"),
        F.sum(F.expr("y2 * y2")).cast("double").alias("syy"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return s.select(
        "n_days",
        F.expr(
            f"CAST(round(n * ({_WHITE_R2}) * 1000000E0, 0) AS BIGINT)"
        ).alias("lm_micro"),
        F.expr(
            f"CAST(round(({_WHITE_R2}) * 1000000E0, 0) AS BIGINT)"
        ).alias("r2_micro"),
    )


#: General symmetric 3x3 Cramer texts for regressors (1, r1, r2) —
#: matrix [n s1 s2; s1 s11 s12; s2 s12 s22], RHS (sy, s1y, s2y). The
#: _QUAD_* texts are the Hankel special case r2 = r1^2; RESET needs the
#: general form because its second regressor is the squared fit.
_SYM3_D = (
    "(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_SYM3_DA = (
    "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_SYM3_DB = (
    "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_SYM3_DC = (
    "(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)

#: RESET F: restricted SSE from the exact residual squares; unrestricted
#: SSE via the normal-equations identity on the (t, fit^2) regression.
_RESET_F = (
    f"(((sser - (syy - (({_SYM3_DA}) * sy + ({_SYM3_DB}) * s1y"
    f" + ({_SYM3_DC}) * s2y) / ({_SYM3_D}))))"
    f" / ((syy - (({_SYM3_DA}) * sy + ({_SYM3_DB}) * s1y"
    f" + ({_SYM3_DC}) * s2y) / ({_SYM3_D})) / (n - 3)))"
)


@register(
    "reset_test_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    f AS (
      SELECT t.t, t.x, {_BP_RESID} AS eu,
             CAST(t.x - {_BP_RESID} AS BIGINT) AS h
      FROM t, g),
    q AS (SELECT t, x, eu, CAST(h AS HUGEINT) * h AS h2 FROM f),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(t) AS DOUBLE) AS s1,
             CAST(SUM(h2) AS DOUBLE) AS s2,
             CAST(SUM(CAST(t AS HUGEINT) * t) AS DOUBLE) AS s11,
             CAST(SUM(t * h2) AS DOUBLE) AS s12,
             CAST(SUM(h2 * h2) AS DOUBLE) AS s22,
             CAST(SUM(x) AS DOUBLE) AS sy,
             CAST(SUM(CAST(t AS HUGEINT) * x) AS DOUBLE) AS s1y,
             CAST(SUM(h2 * x) AS DOUBLE) AS s2y,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS syy,
             CAST(SUM(CAST(eu AS HUGEINT) * eu) AS DOUBLE) AS sser,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM q)
    SELECT n_days,
           CAST(round(({_RESET_F}) * 1000E0, 0) AS BIGINT)
             AS reset_f_milli
    FROM s
    """,
)
def reset_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ramsey's RESET test (power 2) on the daily-revenue trend: does
    adding the SQUARED FITTED VALUE to the linear trend regression
    significantly cut the residual sum of squares? F(1, n-3) — the
    functional-form misspecification test: a significant RESET says
    the "linear trend + noise" model every downstream residual
    diagnostic (BP/White/ARCH/DW) conditions on is itself wrong —
    run it FIRST; the others assume it passed.

    Exactness: the fitted value h = x - e is an exact integer because
    the residual device quantizes to unit grain; h^2 and all nine
    normal-equation sums are exact HUGEINT/decimal(38,0); the
    unrestricted SSE comes from the normal-equations identity via the
    general symmetric 3x3 Cramer texts (_SYM3_*), the restricted SSE
    from the exact residual squares — the F assembles as ONE mirrored
    fixed-order double.

    Scale: day-grain reduction, one-row sufficient statistics.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    f = t.crossJoin(F.broadcast(g)).select(
        "t", "x",
        F.expr(_BP_RESID).alias("eu"),
        F.expr(f"CAST(x - {_BP_RESID} AS BIGINT)").alias("h"),
    )
    q = f.select(
        "t", "x", "eu", F.expr("CAST(h AS DECIMAL(38,0)) * h").alias("h2")
    )
    s = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").cast("double").alias("s1"),
        F.sum("h2").cast("double").alias("s2"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t")).cast("double").alias("s11"),
        F.sum(F.expr("t * h2")).cast("double").alias("s12"),
        F.sum(F.expr("h2 * h2")).cast("double").alias("s22"),
        F.sum("x").cast("double").alias("sy"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * x")).cast("double").alias("s1y"),
        F.sum(F.expr("h2 * x")).cast("double").alias("s2y"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("double").alias("syy"),
        F.sum(F.expr("CAST(eu AS DECIMAL(38,0)) * eu")).cast("double").alias("sser"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return s.select(
        "n_days",
        F.expr(
            f"CAST(round(({_RESET_F}) * 1000E0, 0) AS BIGINT)"
        ).alias("reset_f_milli"),
    )


@register(
    "prais_winsten_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(t * x) AS BIGINT) AS stx,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM t),
    e AS (SELECT t.t, t.x, {_BP_RESID} AS eu FROM t, g),
    l AS (
      SELECT t, x, eu,
             LAG(eu) OVER (ORDER BY t) AS eul,
             LAG(x) OVER (ORDER BY t) AS xl
      FROM e),
    r AS (
      SELECT CAST(SUM(CAST(eu AS HUGEINT) * eul) AS DOUBLE)
               / CAST(SUM(CAST(eul AS HUGEINT) * eul) AS DOUBLE) AS rho
      FROM l WHERE eul IS NOT NULL),
    tr AS (
      SELECT l.t,
             CASE WHEN l.xl IS NULL THEN
               CAST(round(l.x * sqrt(1 - r.rho * r.rho) * 1000, 0)
                 AS BIGINT)
             ELSE CAST(round((l.x - r.rho * l.xl) * 1000, 0) AS BIGINT)
             END AS xq,
             CASE WHEN l.xl IS NULL THEN 0
             ELSE CAST(round((l.t - r.rho * (l.t - 1)) * 1000, 0)
               AS BIGINT) END AS tq,
             CASE WHEN l.xl IS NULL THEN
               CAST(round(sqrt(1 - r.rho * r.rho) * 1000, 0) AS BIGINT)
             ELSE CAST(round((1 - r.rho) * 1000, 0) AS BIGINT)
             END AS cq
      FROM l, r),
    s AS (
      SELECT CAST(SUM(CAST(cq AS HUGEINT) * cq) AS DOUBLE) AS scc,
             CAST(SUM(CAST(cq AS HUGEINT) * tq) AS DOUBLE) AS sct,
             CAST(SUM(CAST(tq AS HUGEINT) * tq) AS DOUBLE) AS stt2,
             CAST(SUM(CAST(cq AS HUGEINT) * xq) AS DOUBLE) AS scx,
             CAST(SUM(CAST(tq AS HUGEINT) * xq) AS DOUBLE) AS stx2,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM tr),
    o AS (SELECT CAST(round(({_OLS_SLOPE}) * 1000000E0, 0) AS BIGINT)
            AS slope_ols_micro FROM g)
    SELECT s.n_days,
           CAST(round((SELECT rho FROM r) * 1000000E0, 0) AS BIGINT)
             AS rho_micro,
           o.slope_ols_micro,
           CAST(round((s.scc * s.stx2 - s.sct * s.scx)
             / (s.scc * s.stt2 - s.sct * s.sct) * 1000000E0, 0)
             AS BIGINT) AS slope_pw_micro
    FROM s, o
    """,
)
def prais_winsten_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prais-Winsten AR(1)-corrected trend of daily revenue: estimate
    rho from the OLS residual lag-1 autocorrelation, quasi-difference
    the data (x_t - rho*x_{t-1}, keeping the first observation scaled
    by sqrt(1-rho^2) — the step Cochrane-Orcutt throws away), and
    re-fit the trend by the transformed two-column regression. When
    durbin_watson flags serial correlation, the OLS slope is still
    unbiased but its placement is inefficient and its SE is a lie;
    the PW slope is the feasible-GLS repair. slope_pw vs slope_ols is
    the size of that repair in revenue-per-day terms.

    Exactness: rho is one double from exact integer residual products;
    every TRANSFORMED row is quantized to integer milli-units BEFORE
    the second regression (the langid-kappa quantize-then-sum device),
    so both engines sum identical integers in any order; both slopes
    are mirrored fixed-order doubles.

    Scale: day-grain series, one window lag, two one-row reductions.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("stx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    e = t.crossJoin(F.broadcast(g)).select(
        "t", "x", F.expr(_BP_RESID).alias("eu")
    )
    wl = Window.orderBy("t")
    lagged = e.select(
        "t", "x", "eu",
        F.lag("eu").over(wl).alias("eul"),
        F.lag("x").over(wl).alias("xl"),
    )
    r = lagged.filter(F.col("eul").isNotNull()).agg(
        (
            F.sum(F.expr("CAST(eu AS DECIMAL(38,0)) * eul")).cast("double")
            / F.sum(F.expr("CAST(eul AS DECIMAL(38,0)) * eul")).cast(
                "double"
            )
        ).alias("rho")
    )
    tr = lagged.crossJoin(F.broadcast(r)).select(
        "t",
        F.expr(
            "CASE WHEN xl IS NULL THEN"
            " CAST(round(x * sqrt(1 - rho * rho) * 1000, 0) AS BIGINT)"
            " ELSE CAST(round((x - rho * xl) * 1000, 0) AS BIGINT) END"
        ).alias("xq"),
        F.expr(
            "CASE WHEN xl IS NULL THEN 0"
            " ELSE CAST(round((t - rho * (t - 1)) * 1000, 0) AS BIGINT)"
            " END"
        ).alias("tq"),
        F.expr(
            "CASE WHEN xl IS NULL THEN"
            " CAST(round(sqrt(1 - rho * rho) * 1000, 0) AS BIGINT)"
            " ELSE CAST(round((1 - rho) * 1000, 0) AS BIGINT) END"
        ).alias("cq"),
    )
    s = tr.agg(
        F.sum(F.expr("CAST(cq AS DECIMAL(38,0)) * cq")).cast("double").alias("scc"),
        F.sum(F.expr("CAST(cq AS DECIMAL(38,0)) * tq")).cast("double").alias("sct"),
        F.sum(F.expr("CAST(tq AS DECIMAL(38,0)) * tq")).cast("double").alias("stt2"),
        F.sum(F.expr("CAST(cq AS DECIMAL(38,0)) * xq")).cast("double").alias("scx"),
        F.sum(F.expr("CAST(tq AS DECIMAL(38,0)) * xq")).cast("double").alias("stx2"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    o = g.select(
        F.expr(
            f"CAST(round(({_OLS_SLOPE}) * 1000000E0, 0) AS BIGINT)"
        ).alias("slope_ols_micro")
    )
    return (
        s.crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(o))
        .select(
            "n_days",
            F.expr(
                "CAST(round(rho * 1000000E0, 0) AS BIGINT)"
            ).alias("rho_micro"),
            "slope_ols_micro",
            F.expr(
                "CAST(round((scc * stx2 - sct * scx)"
                " / (scc * stt2 - sct * sct) * 1000000E0, 0) AS BIGINT)"
            ).alias("slope_pw_micro"),
        )
    )


@register(
    "deming_ccc_monthly",
    oracle="""
    WITH m AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
               + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
             CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0)
               AS BIGINT)) AS DOUBLE) / 100000, 0) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT LAG(x) OVER (ORDER BY mi) AS xp, x AS yc FROM m),
    p AS (SELECT xp, yc FROM pairs WHERE xp IS NOT NULL),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xp) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
             CAST(SUM(CAST(xp AS HUGEINT) * xp) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS syy,
             CAST(SUM(CAST(xp AS HUGEINT) * yc) AS HUGEINT) AS sxy
      FROM p),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * sx AS cxx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * sy AS cyy,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * sy AS cxy,
             CAST(sx - sy AS DOUBLE) AS dxy
      FROM s)
    SELECT n AS n_pairs,
           CAST(round(((cyy - cxx) + sqrt((cyy - cxx) * (cyy - cxx)
               + 4 * cxy * cxy)) / (2 * cxy) * 1000000E0, 0) AS BIGINT)
             AS deming_slope_micro,
           CAST(round(2 * cxy / (cxx + cyy + dxy * dxy) * 1000000E0, 0)
             AS BIGINT) AS ccc_micro,
           CAST(round(cxy / sqrt(cxx * cyy) * 1000000E0, 0) AS BIGINT)
             AS pearson_micro
    FROM c
    """,
)
def deming_ccc_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming regression + Lin's concordance correlation between
    consecutive months' revenue (x = last month, y = this month, same
    units): the errors-in-variables view of month-over-month
    persistence. OLS of y on x is attenuated toward zero because the
    REGRESSOR is itself a noisy measurement of the latent level;
    Deming (delta = 1, equal error variances — justified here because
    both coordinates are draws of the same quantity) is the fit that
    treats both axes symmetrically, and Lin's CCC scores agreement
    with the 45-degree line (precision x accuracy), which Pearson
    alone cannot: r measures linearity, CCC additionally penalizes
    location/scale shift — CCC < r is a drifting level.

    Exactness: 1k-unit monthly revenue keeps all five sufficient sums
    exact (HUGEINT/decimal(38,0)); the n-scaled central moments feed
    three mirrored fixed-order doubles (Deming's quadratic root, CCC,
    Pearson).

    Scale: month-grain reduction (~80 rows), one lag, one-row output.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.expr(
            "CAST(year(CAST(o_orderdate AS DATE)) * 12"
            " + month(CAST(o_orderdate AS DATE)) AS BIGINT)"
        ).alias("mi")
    ).agg(
        F.expr(
            "CAST(round(CAST(SUM(CAST(round(o_totalprice * 100, 0)"
            " AS BIGINT)) AS DOUBLE) / 100000, 0) AS BIGINT)"
        ).alias("x")
    )
    wl = Window.orderBy("mi")
    p = (
        m.select(F.lag("x").over(wl).alias("xp"), F.col("x").alias("yc"))
        .filter(F.col("xp").isNotNull())
    )
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xp").cast("bigint").alias("sx"),
        F.sum("yc").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(xp AS DECIMAL(38,0)) * xp")).alias("sxx"),
        F.sum(F.expr("CAST(yc AS DECIMAL(38,0)) * yc")).alias("syy"),
        F.sum(F.expr("CAST(xp AS DECIMAL(38,0)) * yc")).alias("sxy"),
    )
    c = s.select(
        "n",
        F.expr(
            "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * sx"
        ).alias("cxx"),
        F.expr(
            "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * sy"
        ).alias("cyy"),
        F.expr(
            "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * sy"
        ).alias("cxy"),
        F.expr("CAST(sx - sy AS DOUBLE)").alias("dxy"),
    )
    return c.select(
        F.col("n").alias("n_pairs"),
        F.expr(
            "CAST(round(((cyy - cxx) + sqrt((cyy - cxx) * (cyy - cxx)"
            " + 4 * cxy * cxy)) / (2 * cxy) * 1000000E0, 0) AS BIGINT)"
        ).alias("deming_slope_micro"),
        F.expr(
            "CAST(round(2 * cxy / (cxx + cyy + dxy * dxy) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("ccc_micro"),
        F.expr(
            "CAST(round(cxy / sqrt(cxx * cyy) * 1000000E0, 0) AS BIGINT)"
        ).alias("pearson_micro"),
    )


#: shared (nation, customer, cents) revenue grain for the
#: concentration family — CR4's CTE verbatim.
_NATION_CUST_CTE = """
    WITH cr AS (
      SELECT n.n_name AS nation, o.o_custkey AS ck,
             CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS cents
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2)
"""


def _nation_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_NATION_CUST_CTE``."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(n, cu.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.col("o_custkey").alias("ck")
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("cents"))
    )


@register(
    "rosenbluth_kwoka_by_nation",
    oracle=_NATION_CUST_CTE
    + """
    , r AS (
      SELECT nation, cents,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents DESC, ck) AS rn,
             LEAD(cents) OVER (PARTITION BY nation
                               ORDER BY cents DESC, ck) AS nxt,
             CAST(SUM(cents) OVER (PARTITION BY nation) AS BIGINT) AS tot,
             CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS n_cust
      FROM cr),
    s AS (
      SELECT nation, MAX(n_cust) AS n_customers, MAX(tot) AS tot,
             CAST(SUM(CAST(rn AS HUGEINT) * cents) AS HUGEINT) AS sic,
             CAST(SUM(CAST(cents - COALESCE(nxt, 0) AS HUGEINT)
               * (cents - COALESCE(nxt, 0))) AS HUGEINT) AS sd2
      FROM r GROUP BY nation)
    SELECT nation, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(CAST(tot AS HUGEINT) * 1000000
             // (2 * sic - tot) AS BIGINT) AS rosenbluth_micro,
           CAST(CAST(sd2 AS HUGEINT) * 1000000
             // (CAST(tot AS HUGEINT) * tot) AS BIGINT) AS kwoka_micro
    FROM s ORDER BY nation
    """,
)
def rosenbluth_kwoka_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rosenbluth (Hall-Tideman) and Kwoka dominance indices of
    customer revenue concentration per nation — the two
    rank-structure-sensitive members the CR4/HHI pair misses:
    Rosenbluth HT = 1/(2*Sum i*s_i - 1) weights firms by RANK (a long
    tail of minnows lowers it where HHI barely moves), and Kwoka
    D = Sum (s_i - s_{i+1})^2 reads the GAPS between adjacent ranked
    shares (dominance = a big step down after the leaders). HHI high +
    Kwoka low = several comparable whales; HHI high + Kwoka high =
    one dominant firm — different antitrust stories.

    Exactness: integer cents; Sum i*cents and the squared adjacent
    gaps ride HUGEINT/decimal(38,0); both indices emerge as exact
    integer-micro floor divisions (the CR4 device) — no doubles at
    all.

    Scale: reduces to the (nation, customer) grain; two windows on the
    low-cardinality nation key; 25-row output.
    """
    cr = _nation_cust(spark, sf_dir)
    wn = Window.partitionBy("nation")
    wr = Window.partitionBy("nation").orderBy(F.desc("cents"), "ck")
    r = cr.select(
        "nation",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.lead("cents").over(wr).alias("nxt"),
        F.sum("cents").over(wn).cast("bigint").alias("tot"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n_cust"),
    )
    s = r.groupBy("nation").agg(
        F.max("n_cust").alias("n_customers"),
        F.max("tot").alias("tot"),
        F.sum(F.expr("CAST(rn AS DECIMAL(38,0)) * cents")).alias("sic"),
        F.sum(
            F.expr(
                "CAST(cents - COALESCE(nxt, 0) AS DECIMAL(38,0))"
                " * (cents - COALESCE(nxt, 0))"
            )
        ).alias("sd2"),
    )
    return s.select(
        "nation",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(CAST(tot AS DECIMAL(38,0)) * 1000000"
            " DIV (2 * sic - tot) AS BIGINT)"
        ).alias("rosenbluth_micro"),
        F.expr(
            "CAST(CAST(sd2 AS DECIMAL(38,0)) * 1000000"
            " DIV (CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)"
        ).alias("kwoka_micro"),
    ).orderBy("nation")


@register(
    "bonferroni_zenga_by_nation",
    oracle=_NATION_CUST_CTE
    + """
    , r AS (
      SELECT nation, cents,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents, ck) AS i,
             CAST(SUM(cents) OVER (PARTITION BY nation
                                   ORDER BY cents, ck) AS BIGINT) AS cum,
             CAST(SUM(cents) OVER (PARTITION BY nation) AS BIGINT) AS tot,
             CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS n
      FROM cr),
    terms AS (
      SELECT nation, n, tot,
             CASE WHEN i < n THEN
               CAST(CAST(cum AS HUGEINT) * n * 1000000
                 // (CAST(i AS HUGEINT) * tot) AS BIGINT)
             ELSE NULL END AS lp_micro,
             CASE WHEN i < n THEN
               CAST(1000000 - CAST(CAST(cum AS HUGEINT) * (n - i)
                 * 1000000 // (CAST(i AS HUGEINT) * (tot - cum))
                 AS BIGINT) AS BIGINT)
             ELSE NULL END AS z_micro
      FROM r),
    s AS (
      SELECT nation, MAX(n) AS n_customers,
             CAST(SUM(lp_micro) AS BIGINT) AS slp,
             CAST(SUM(z_micro) AS BIGINT) AS sz
      FROM terms WHERE lp_micro IS NOT NULL GROUP BY nation)
    SELECT nation, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(1000000 - slp // (n_customers - 1) AS BIGINT)
             AS bonferroni_micro,
           CAST(sz // (n_customers - 1) AS BIGINT) AS zenga_micro
    FROM s ORDER BY nation
    """,
)
def bonferroni_zenga_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bonferroni and Zenga inequality indices of customer revenue per
    nation — the two Lorenz relatives that weight the POOR tail where
    Gini is most insensitive: Bonferroni B = 1 - mean_i(L_i/p_i)
    averages the lower-mean-to-overall-mean ratio across the whole
    distribution (each i compares the bottom i customers' mean to the
    global mean), and Zenga's point measure Z_i = 1 - (lower mean /
    UPPER mean) contrasts the bottom i against the top n-i directly —
    Z reacts to polarization (hollowed middle) that leaves Gini flat.
    Reported as the curve means over i = 1..n-1.

    Exactness: each curve point is a ratio of exact integer cents
    partial sums, quantized to integer micro PER TERM by floor
    division (identical in both engines) before the integer sum —
    the per-term-quantize device, no float accumulates.

    Scale: one (nation, customer) reduction, one ordered window per
    nation, 25-row output. The i < n guard also keeps the Zenga
    denominator tot - cum nonzero.
    """
    cr = _nation_cust(spark, sf_dir)
    wn = Window.partitionBy("nation")
    wa = Window.partitionBy("nation").orderBy("cents", "ck")
    r = cr.select(
        "nation",
        F.row_number().over(wa).alias("i"),
        F.sum("cents")
        .over(wa.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("cents").over(wn).cast("bigint").alias("tot"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    terms = r.select(
        "nation",
        "n",
        F.expr(
            "CASE WHEN i < n THEN"
            " CAST(CAST(cum AS DECIMAL(38,0)) * n * 1000000"
            " DIV (CAST(i AS DECIMAL(38,0)) * tot) AS BIGINT)"
            " ELSE NULL END"
        ).alias("lp_micro"),
        F.expr(
            "CASE WHEN i < n THEN"
            " CAST(1000000 - CAST(CAST(cum AS DECIMAL(38,0)) * (n - i)"
            " * 1000000 DIV (CAST(i AS DECIMAL(38,0)) * (tot - cum))"
            " AS BIGINT) AS BIGINT)"
            " ELSE NULL END"
        ).alias("z_micro"),
    )
    s = (
        terms.filter(F.col("lp_micro").isNotNull())
        .groupBy("nation")
        .agg(
            F.max("n").alias("n_customers"),
            F.sum("lp_micro").cast("bigint").alias("slp"),
            F.sum("z_micro").cast("bigint").alias("sz"),
        )
    )
    return s.select(
        "nation",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.expr(
            "CAST(1000000 - slp DIV (n_customers - 1) AS BIGINT)"
        ).alias("bonferroni_micro"),
        F.expr("CAST(sz DIV (n_customers - 1) AS BIGINT)").alias(
            "zenga_micro"
        ),
    ).orderBy("nation")


#: Nelson-rules flag predicates over the micro-z series zq and the
#: step-sign d — shared text fragments; each rule guards on having a
#: full window (rn >= length).
_NELSON_RULES = (
    ("r1_beyond_3s", "abs(zq) > 3000000"),
    ("r2_nine_one_side",
     "rn >= 9 AND (s_pos9 = 9 OR s_neg9 = 9)"),
    ("r3_six_trending",
     "rn >= 6 AND (s_up5 = 5 OR s_dn5 = 5)"),
    ("r4_fourteen_alternating",
     "rn >= 14 AND s_alt12 = 12"),
    ("r5_two_of_three_beyond_2s",
     "rn >= 3 AND (s_p2 >= 2 OR s_n2 >= 2)"),
    ("r6_four_of_five_beyond_1s",
     "rn >= 5 AND (s_p1 >= 4 OR s_n1 >= 4)"),
    ("r7_fifteen_within_1s",
     "rn >= 15 AND s_in15 = 15"),
    ("r8_eight_beyond_1s",
     "rn >= 8 AND s_out8 = 8"),
)


@register(
    "nelson_rules_daily",
    oracle=_DAILY_1K_CTE
    + f"""
    , g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM t),
    z AS (
      SELECT t.t,
             CAST(round((CAST(t.x AS DOUBLE) - CAST(g.s1 AS DOUBLE) / g.n)
               / sqrt((CAST(g.s2 AS DOUBLE)
                       - CAST(g.s1 AS DOUBLE) * g.s1 / g.n) / (g.n - 1))
               * 1000000E0, 0) AS BIGINT) AS zq
      FROM t, g),
    d AS (
      SELECT t, zq,
             ROW_NUMBER() OVER (ORDER BY t) AS rn,
             CASE WHEN zq > LAG(zq) OVER (ORDER BY t) THEN 1
                  WHEN zq < LAG(zq) OVER (ORDER BY t) THEN -1
                  ELSE 0 END AS stp
      FROM z),
    e AS (
      SELECT d.*, stp * LAG(stp) OVER (ORDER BY t) AS alt FROM d),
    w AS (
      SELECT rn, zq,
             SUM(CASE WHEN zq > 0 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
               AS s_pos9,
             SUM(CASE WHEN zq < 0 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
               AS s_neg9,
             SUM(CASE WHEN stp = 1 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS s_up5,
             SUM(CASE WHEN stp = -1 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS s_dn5,
             SUM(CASE WHEN alt = -1 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
               AS s_alt12,
             SUM(CASE WHEN zq > 2000000 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS s_p2,
             SUM(CASE WHEN zq < -2000000 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS s_n2,
             SUM(CASE WHEN zq > 1000000 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS s_p1,
             SUM(CASE WHEN zq < -1000000 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS s_n1,
             SUM(CASE WHEN abs(zq) < 1000000 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
               AS s_in15,
             SUM(CASE WHEN abs(zq) > 1000000 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS s_out8
      FROM e),
    agg AS (
      SELECT
        {", ".join(
            f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS {name}"
            for name, pred in _NELSON_RULES
        )}
      FROM w)
    {" UNION ALL ".join(
        f"SELECT '{name}' AS rule, {name} AS n_flagged FROM agg"
        for name, _ in _NELSON_RULES
    )}
    ORDER BY rule
    """,
)
def nelson_rules_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All eight Nelson SPC rules over the daily-revenue control chart
    (flagged-day count per rule): beyond-3-sigma spikes (R1), nine on
    one side (R2, sustained shift), six trending (R3, drift), fourteen
    alternating (R4, systematic oscillation — two interleaved
    processes), 2-of-3 beyond 2-sigma (R5) and 4-of-5 beyond 1-sigma
    (R6, early shift warnings), fifteen inside 1-sigma (R7,
    stratification/variance collapse — the rule people forget exists),
    and eight beyond 1-sigma (R8, mixture). The single-rule ops
    upstream (ewma/cusum/grubbs) each chase one alternative; the
    Nelson panel is the standard all-causes screen, and WHICH rule
    fires is the diagnosis.

    Exactness: each day's z-score quantizes to integer MICRO through
    one mirrored double (exact integer sufficient statistics for mean
    and the n-1 sigma); every rule is then pure integer window
    counting on zq and the step sign — knife-edge days sit at exact
    integer comparisons, identical in both engines.

    Scale: day-grain series; one ordered window pass computes all
    eight rule counters simultaneously; 8-row output.
    """
    t = _daily_1k(spark, sf_dir).localCheckpoint()
    g = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("s2"),
    )
    z = t.crossJoin(F.broadcast(g)).select(
        "t",
        F.expr(
            "CAST(round((CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / n)"
            " / sqrt((CAST(s2 AS DOUBLE)"
            "         - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("zq"),
    )
    wo = Window.orderBy("t")
    d = z.select(
        "t", "zq",
        F.row_number().over(wo).alias("rn"),
        F.expr(
            "CASE WHEN zq > LAG(zq) OVER (ORDER BY t) THEN 1"
            " WHEN zq < LAG(zq) OVER (ORDER BY t) THEN -1 ELSE 0 END"
        ).alias("stp"),
    )
    e = d.select("*", (F.col("stp") * F.lag("stp").over(wo)).alias("alt"))

    def trail(pred: str, k: int, name: str):
        w = wo.rowsBetween(-(k - 1), 0)
        return F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END")).over(
            w
        ).alias(name)

    w = e.select(
        "rn", "zq",
        trail("zq > 0", 9, "s_pos9"),
        trail("zq < 0", 9, "s_neg9"),
        trail("stp = 1", 5, "s_up5"),
        trail("stp = -1", 5, "s_dn5"),
        trail("alt = -1", 12, "s_alt12"),
        trail("zq > 2000000", 3, "s_p2"),
        trail("zq < -2000000", 3, "s_n2"),
        trail("zq > 1000000", 5, "s_p1"),
        trail("zq < -1000000", 5, "s_n1"),
        trail("abs(zq) < 1000000", 15, "s_in15"),
        trail("abs(zq) > 1000000", 8, "s_out8"),
    )
    agg = w.agg(
        *[
            F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(name)
            for name, pred in _NELSON_RULES
        ]
    )
    stack = ", ".join(
        f"'{name}', {name}" for name, _ in _NELSON_RULES
    )
    return (
        agg.selectExpr(
            f"stack({len(_NELSON_RULES)}, {stack}) AS (rule, n_flagged)"
        )
        .orderBy("rule")
    )


@register(
    "capability_cpk_delay",
    oracle=_DELAY_GRAIN_CTE
    + """
    , s AS (
      SELECT pr, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * v) AS BIGINT) AS s1,
             CAST(SUM(CAST(c AS HUGEINT) * v * v) AS HUGEINT) AS s2,
             CAST(SUM(CASE WHEN v > 60 THEN c ELSE 0 END) AS BIGINT)
               AS n_over
      FROM c GROUP BY pr)
    SELECT pr AS priority, n AS n_lines,
           CAST(round(60E0 / (6 * sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))) * 1000000E0, 0)
             AS BIGINT) AS cp_micro,
           CAST(round(least(60E0 - CAST(s1 AS DOUBLE) / n,
               CAST(s1 AS DOUBLE) / n)
             / (3 * sqrt((CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)))
             * 1000000E0, 0) AS BIGINT) AS cpk_micro,
           CAST(n_over * 1000000 // n AS BIGINT) AS observed_over_ppm
    FROM s ORDER BY pr
    """,
)
def capability_cpk_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cp / Cpk of the ship delay per
    priority against the spec window [0, 60] days — the SPC summary
    that converts 'how variable' into 'does the process FIT the
    promise': Cp compares spread to the spec width assuming perfect
    centering; Cpk penalizes off-center location (Cpk << Cp = the
    process could fit but sits near a limit). The exact observed
    over-spec ppm sits beside them as the model-free check — a large
    gap between Cpk-implied and observed ppm flags non-normal tails
    (which the delay's right skew guarantees; that tension is the
    point of showing both).

    Exactness: mean and n-1 sigma assemble from exact value-grain
    sums (HUGEINT/decimal(38,0) squares); Cp/Cpk are mirrored
    fixed-order doubles; the observed ppm is an exact integer floor
    division.

    Scale: the (priority, delay, count) grain; 5-row output.
    """
    c = _delay_grain(spark, sf_dir)
    s = c.groupBy("pr").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("c * v")).cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * v * v")).alias("s2"),
        F.sum(F.when(F.col("v") > 60, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_over"),
    )
    return s.select(
        F.col("pr").alias("priority"),
        F.col("n").alias("n_lines"),
        F.expr(
            "CAST(round(60E0 / (6 * sqrt((CAST(s2 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))) * 1000000E0, 0)"
            " AS BIGINT)"
        ).alias("cp_micro"),
        F.expr(
            "CAST(round(least(60E0 - CAST(s1 AS DOUBLE) / n,"
            " CAST(s1 AS DOUBLE) / n)"
            " / (3 * sqrt((CAST(s2 AS DOUBLE)"
            "     - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)))"
            " * 1000000E0, 0) AS BIGINT)"
        ).alias("cpk_micro"),
        F.expr("CAST(n_over * 1000000 DIV n AS BIGINT)").alias(
            "observed_over_ppm"
        ),
    ).orderBy("priority")
