"""Core relational query surface (SURVEY.md §2B — the SQL dialect the
reference's generated queries are specified to use, prompts.py:1-132).

Every function is the Spark-native implementation of one operator row from
the §2B inventory, written DataFrame-first so Catalyst owns the physical
plan (broadcast-vs-SMJ choice, partial aggregation, pushdown). The oracle
strings are the DuckDB-runnable twins used by the correctness gate.

Determinism rules (SURVEY.md §7 hard-points 2-3):
- money aggregates use exact integer-cents arithmetic (functions/exact.py);
- every LIMIT query carries a total-order ORDER BY (key tie-breaks);
- no current_date in oracle-matched queries (fixed anchor dates instead).

Scale notes appear per-operator; the common ones:
- dimension tables (region/nation/supplier/part at TPC-H ratios) are
  broadcast — no shuffle for the fact side;
- fact-fact joins (lineitem ⋈ orders) shuffle on the join key once and
  AQE coalesces/splits partitions at runtime;
- aggregates are hash-based with map-side partial aggregation (free from
  Catalyst), so shuffled bytes are proportional to group cardinality,
  not input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_etl_studio_spark import engine
from ai_etl_studio_spark.catalog import load_table
from ai_etl_studio_spark.functions.exact import (
    SQL_NET_CENTS,
    csum,
    davg,
    dsum,
    net_cents,
    sql_csum,
    sql_davg,
    sql_dsum,
)
from ai_etl_studio_spark.operators import register

# DuckDB-side twin of functions/exact.py's net_cents (kept as one fragment
# so every oracle uses the identical integer-cents arithmetic).
NET = SQL_NET_CENTS


# ---------------------------------------------------------------------------
# Scans / projections / filters  (prompts.py:9-11, 28, 34-42)
# ---------------------------------------------------------------------------


@register(
    "top_products",
    oracle=f"""
    SELECT p_name, CAST(SUM({NET}) AS DOUBLE) / 100 AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_name
    ORDER BY revenue DESC, p_name
    LIMIT 10
    """,
)
def top_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 'top 10 products by sales' (the reference's own canonical
    example, app.py:281). Scan → join → hash agg → top-k.

    Scale: part is SF-linear (200k·SF) so the join is HINT-FREE — AQE's
    dynamic switch broadcasts it at every SF where it fits and degrades
    to shuffle join (never OOM) when it doesn't; the agg shuffles only
    |part| groups. The final sort is TakeOrderedAndProject (no global
    sort).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(csum(net_cents()).alias("revenue"))
        .orderBy(F.desc("revenue"), "p_name")
        .limit(10)
    )


@register(
    "projection_alias",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST({NET} AS DOUBLE) / 100 AS net_price,
           CAST(CAST(round(l_extendedprice * l_tax * 100, 0) AS BIGINT) AS DOUBLE) / 100 AS tax_amount
    FROM lineitem
    ORDER BY net_price DESC, l_orderkey, l_linenumber, tax_amount
    LIMIT 100
    """,
)
def projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with column aliases / alias-before-use (prompts.py:28,42).

    Scale: pure narrow transform — column pruning reaches the parquet
    scan (ReadSchema carries only 5 of 11 lineitem columns).
    """
    li = load_table(spark, sf_dir, "lineitem")
    tax_cents = F.round(F.col("l_extendedprice") * F.col("l_tax") * 100, 0).cast("bigint")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            (net_cents().cast("double") / 100).alias("net_price"),
            (tax_cents.cast("double") / 100).alias("tax_amount"),
        )
        # (l_orderkey, l_linenumber) is not unique in the synthetic data;
        # tax_amount completes the total order so the LIMIT boundary is
        # engine-independent (all four output columns are then ordered).
        .orderBy(F.desc("net_price"), "l_orderkey", "l_linenumber", "tax_amount")
        .limit(100)
    )


@register(
    "filter_conjunctive",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal > 1000 AND c_mktsegment = 'BUILDING'
    ORDER BY c_custkey
    LIMIT 100
    """,
)
def filter_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates `WHERE a > X AND b = Y` (prompts.py:34,37,120).

    Scale: both predicates push down into the parquet scan
    (PushedFilters: GreaterThan, EqualTo) — row groups are skipped via
    min/max stats before any Spark row materializes.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter((F.col("c_acctbal") > 1000) & (F.col("c_mktsegment") == "BUILDING"))
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
        .limit(100)
    )


@register(
    "filter_disjunctive",
    oracle="""
    SELECT c_custkey, c_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' OR r_name = 'AFRICA'
    ORDER BY c_custkey
    LIMIT 100
    """,
)
def filter_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive criteria expressed as one OR filter rather than a UNION
    of two scans — the reference's own preferred rewrite (prompts.py:38).

    Scale: one scan instead of two; nation/region broadcast.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter((F.col("r_name") == "ASIA") | (F.col("r_name") == "AFRICA"))
        .select("c_custkey", "c_name", "r_name")
        .orderBy("c_custkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Joins  (prompts.py:44-55)
# ---------------------------------------------------------------------------


@register(
    "join_2way",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def join_2way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner FK equi-join, 2-way (prompts.py:46-48; error_query.sql:10).

    Scale: customer is the 1-side of the FK — broadcast-hash join when it
    fits (autoBroadcastJoinThreshold), else AQE falls back to SMJ with the
    shuffle on o_custkey/c_custkey.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "join_3way_bridge",
    oracle=f"""
    SELECT c_custkey, c_name, CAST(SUM({NET}) AS DOUBLE) / 100 AS total_spent
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 100
    """,
)
def join_3way_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop join through a bridge table (prompts.py:49-51 —
    sales → purchase_order → promotion maps to lineitem → orders → customer).

    Scale: partial-aggregation pushdown below the join — lineitem is
    reduced to one exact-cents row per orderkey BEFORE meeting orders
    (integer cent sums are associative, so regrouping is lossless;
    cf. functions/exact.py). Catalyst does NOT do this rewrite itself:
    without it the fact-fact join shuffles every lineitem row; with it
    the orderkey shuffle carries ~|orders| pre-combined rows, and the
    groupBy's output partitioning is reused by the join (one exchange
    feeds both). Customer is SF-linear, so it joins hint-free on custkey
    (AQE broadcasts it while it fits, shuffles beyond), and the custkey
    rollup re-aggregates the per-order cents.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(net_cents()).alias("order_cents")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg((F.sum("order_cents").cast("double") / 100).alias("total_spent"))
        .orderBy(F.desc("total_spent"), "c_custkey")
        .limit(100)
    )


@register(
    "join_4way_dims",
    oracle=f"""
    SELECT r_name, n_name, CAST(SUM({NET}) AS DOUBLE) / 100 AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def join_4way_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join chain fact → dim → dim → dim: revenue per region/nation
    (the 'total sales per store' workload, prompts.py:28,103, on schema B).

    Scale: nation/region are constant-size dims (hinted); supplier is
    SF-linear so its join is hint-free (AQE broadcasts while it fits,
    shuffles past that) — the fact table never shuffles until the
    (tiny-cardinality) aggregation at every SF where supplier fits.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(csum(net_cents()).alias("revenue"))
        .orderBy("r_name", "n_name")
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS). Beyond the reference's inner-only surface
    (SURVEY §2B notes outer/semi/anti as free Catalyst capability).

    Scale: left-semi stops probing at first match and never duplicates
    left rows; with the filtered orders side small enough, AQE turns it
    into a broadcast semi.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS): customers with no orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Aggregations  (prompts.py:28,66,103,108-111)
# ---------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           CAST(SUM({NET}) AS DOUBLE) / 100 AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate GROUP BY (SUM/AVG/COUNT — prompts.py:66): the
    TPC-H-Q1-shaped pricing summary.

    Scale: 6 aggregates over 2 low-cardinality keys — map-side partial
    aggregation reduces the shuffle to (#partitions × #groups) rows;
    whole-stage codegen covers scan→filter→partial-agg in one pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            csum(net_cents()).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT / COUNT(DISTINCT) / MAX / MIN (prompts.py:66,109-110).

    Scale: exact COUNT DISTINCT costs a per-key expand+second shuffle;
    at 100 TB prefer approx_count_distinct (HLL, one pass) when a ±2%
    answer is acceptable — kept exact here for oracle parity.
    MAX/MIN on doubles are order-insensitive, no decimal cast needed.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k  (prompts.py:33-37,82,131; app.py:265,281)
# ---------------------------------------------------------------------------


@register(
    "orderby_multi_mixed",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal > 0
    ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC
    LIMIT 50
    """,
)
def orderby_multi_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column mixed-direction ORDER BY + LIMIT (prompts.py:33,37).

    Scale: sort+limit compiles to TakeOrderedAndProject — each task keeps
    a 50-row heap; no global sort, no full shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy(F.asc("c_mktsegment"), F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Set operations  (prompts.py:12-38,59-68,92-105)
# ---------------------------------------------------------------------------


@register(
    "union_all_trailing",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'CHINA'
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal FROM customer
      JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'FRANCE'
    ) u
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 100
    """,
)
def union_all_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two result sets with single trailing ORDER BY/LIMIT —
    the exact shape prompts.py:92-105 legislates (incl. 'prefer UNION ALL
    unless DISTINCT is explicitly requested', prompts.py:63).

    Scale: union is metadata-only (no shuffle); the trailing top-k is a
    heap per task.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    a = joined.filter(F.col("n_name") == "CHINA").select("c_custkey", "c_name", "c_acctbal")
    b = joined.filter(F.col("n_name") == "FRANCE").select("c_custkey", "c_name", "c_acctbal")
    return a.unionAll(b).orderBy(F.desc("c_acctbal"), "c_custkey").limit(100)


@register(
    "union_distinct",
    oracle="""
    SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
    UNION
    SELECT c_mktsegment FROM customer WHERE c_acctbal < 0
    ORDER BY c_mktsegment
    """,
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — `union().distinct()` in DataFrame terms."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_mktsegment")
    b = c.filter(F.col("c_acctbal") < 0).select("c_mktsegment")
    return a.union(b).distinct().orderBy("c_mktsegment")


@register(
    "intersect_distinct",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_custkey
    """,
)
def intersect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (SURVEY §2B lists it as free Catalyst capability)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


@register(
    "except_distinct",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    ORDER BY c_custkey
    """,
)
def except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics — Spark's `subtract`): customer keys
    that never ordered."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Subqueries / derived tables / CTEs  (prompts.py:62,67-68,85,90)
# ---------------------------------------------------------------------------


@register(
    "derived_table_agg",
    oracle=f"""
    SELECT n_name, total_rev
    FROM (
      SELECT n_name, CAST(SUM({NET}) AS DOUBLE) / 100 AS total_rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    ) ranked
    WHERE total_rev > 0
    ORDER BY total_rev DESC, n_name
    LIMIT 20
    """,
)
def derived_table_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate precomputed in a derived table before sort/limit — the
    shape prompts.py:62,67-68 mandates (a derived table is just an
    intermediate DataFrame here)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    inner = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(csum(net_cents()).alias("total_rev"))
    )
    return (
        inner.filter(F.col("total_rev") > 0)
        .select("n_name", "total_rev")
        .orderBy(F.desc("total_rev"), "n_name")
        .limit(20)
    )


@register(
    "cte_form",
    oracle="""
    WITH big_orders AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_totalprice > 100000
    )
    SELECT c_mktsegment, COUNT(*) AS n_big_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS segment_value
    FROM big_orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def cte_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE (`WITH … AS`) — forbidden on the reference's MySQL 5.7 target
    (prompts.py:85), native in Spark SQL. Executed through spark.sql to
    exercise the SQL front-end path.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        WITH big_orders AS (
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders WHERE o_totalprice > 100000
        )
        SELECT c_mktsegment, COUNT(*) AS n_big_orders,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS segment_value
        FROM big_orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# Scalar functions  (prompts.py:109,120-121; error_query.sql:7)
# ---------------------------------------------------------------------------


@register(
    "scalar_datediff",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE)
             / COUNT(*) AS avg_ship_delay_days,
           COUNT(*) AS n_lineitems
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def scalar_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATEDIFF — the shipment-SLA workload (prompts.py:121:
    `DATEDIFF(sh.delivery_date, sh.expected_date)`), as average shipping
    delay per order priority. Integer day counts sum exactly; the average
    divides in double (deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            (F.sum(delay).cast("double") / F.count(F.lit(1))).alias("avg_ship_delay_days"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scalar_conditional",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 200000 THEN 'large'
                WHEN o_totalprice >= 50000 THEN 'medium'
                ELSE 'small' END AS price_band,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS band_value
    FROM orders
    GROUP BY price_band
    ORDER BY price_band
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IF/CASE conditional (error_query.sql:7's `IF(...)` →
    `F.when().otherwise()`): price-band bucketing."""
    o = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") >= 200000, "large")
        .when(F.col("o_totalprice") >= 50000, "medium")
        .otherwise("small")
        .alias("price_band")
    )
    return (
        o.groupBy(band)
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("band_value"),
        )
        .orderBy("price_band")
    )


@register(
    "error_relation",
    oracle="SELECT 'Schema unavailable' AS error_message",
)
def error_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-as-relation: failures surface as a 1×1 constant relation
    (app.py:244,268 — `SELECT '<msg>' AS error_message LIMIT 100`)."""
    return engine.error_relation(spark, "Schema unavailable")


@register(
    "dup_col_rename",
    oracle="""
    SELECT c_name, n_name AS c_name_1
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    ORDER BY c_name, c_name_1
    LIMIT 100
    """,
)
def dup_col_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-output-column rename (db_utils.py:168-177): a join that
    yields two `c_name` columns gets `_1` suffixes at the presentation
    edge. Spark tolerates duplicate names until resolution, so the rename
    happens via engine.dedupe_column_names."""
    from ai_etl_studio_spark.engine import dedupe_column_names

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_name"), F.col("n_name").alias("c_name")
    )
    renamed = dedupe_column_names(joined)
    return renamed.orderBy("c_name", "c_name_1").limit(100)


@register(
    "nl2sql_end_to_end",
    oracle=f"""
    SELECT n_name, CAST(SUM({NET}) AS DOUBLE) / 100 AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 100
    """,
)
def nl2sql_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference pipeline as one driver-visible query:
    natural-language question -> deterministic generator (A5's template
    backend) -> sanitize (A6-A9) -> read-only gate -> spark.sql ->
    presentation (A11-A14). The oracle is the SQL the template emits —
    proving the whole lifecycle, not just the final plan.

    Scale: generation/sanitation are O(1) driver work; everything that
    touches data is the same Catalyst plan as revenue-by-nation run
    directly.
    """
    from ai_etl_studio_spark.catalog import register_tables
    from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator, generate_and_run

    register_tables(spark, sf_dir)
    result = generate_and_run(
        spark, TemplateGenerator(), "What is the revenue by nation?"
    )
    return result.presentation(spark)


@register(
    "except_intersect_all",
    oracle="""
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         b AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
         ex AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b),
         ia AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
    SELECT op, o_custkey, n FROM (
        SELECT 'except_all' AS op, o_custkey, COUNT(*) AS n
        FROM ex GROUP BY o_custkey
        UNION ALL
        SELECT 'intersect_all' AS op, o_custkey, COUNT(*) AS n
        FROM ia GROUP BY o_custkey
    ) t
    ORDER BY op, o_custkey
    LIMIT 200
    """,
)
def except_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations: EXCEPT ALL / INTERSECT ALL between two
    filtered projections of orders, with per-key multiplicity counts.
    Completes the §2B set-operation row (UNION/UNION ALL/INTERSECT/
    EXCEPT already pinned) with the bag-semantics variants the
    reference's MySQL 5.7 target could not express at all.

    Scale: Catalyst plans both as a single shuffle on the full row
    (hash-partition + per-partition counting join) — no driver-side
    materialization; the trailing total-order LIMIT is
    TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    ex = (
        a.exceptAll(b)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "n")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "n")
    )
    return ex.union(ia).orderBy("op", "o_custkey").limit(200)


@register(
    "lateral_join",
    oracle="""
    SELECT n_name, c_name, acctbal
    FROM nation n, LATERAL (
      SELECT c_name,
             CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT) AS DOUBLE) / 100 AS acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY acctbal DESC, c_name
      LIMIT 2
    ) top2
    ORDER BY n_name, acctbal DESC, c_name
    """,
)
def lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery in FROM — the SQL-standard spelling of
    top-N-per-group (the ask the reference's MySQL 5.7 target refuses at
    prompts.py:113-118 and emulates with user variables in
    error_query.sql:7-8). Spark SQL supports LATERAL natively (3.2+);
    executed through spark.sql to exercise the SQL front-end, same SQL
    runs on DuckDB.

    Scale: Catalyst rewrites the correlated LIMIT-per-key into a
    DomainJoin/window form — no per-outer-row re-execution (which is
    what LATERAL naively implies and what would be quadratic). The
    equivalent explicit-window form is topn_per_group; both end in
    WindowGroupLimit pruning, shuffling only (key, rank-cols).
    Money tie-break: ordering on integer-cents-derived acctbal keeps
    the LIMIT boundary engine-exact.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        """
        SELECT n_name, c_name, acctbal
        FROM nation n, LATERAL (
          SELECT c_name,
                 CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT) AS DOUBLE) / 100 AS acctbal
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY acctbal DESC, c_name
          LIMIT 2
        ) top2
        ORDER BY n_name, acctbal DESC, c_name
        """
    )


@register(
    "correlated_avg_subquery",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100 / 7.0 AS avg_yearly,
           COUNT(*) AS n_small_lines
    FROM lineitem l
    WHERE l_quantity < (
      SELECT 0.2 * (CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                      / 100 / COUNT(*))
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
    )
    """,
)
def correlated_avg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar AGGREGATE subquery (the TPC-H Q17 shape:
    rows below a per-key fraction of that key's average) — the
    correlated-subquery family member exists_correlated doesn't cover.
    Executed through spark.sql; same SQL runs on DuckDB.

    Exactness: the per-part average is exact-int64-cents / 100 / count
    (two IEEE divisions on exact operands), 0.2·avg is one multiply —
    no cross-row float accumulation anywhere, so the filter boundary
    is engine-identical.

    Scale: Catalyst de-correlates into avg-per-partkey ⋈ lineitem —
    one shuffle of the (partkey, qty-cents) pairs for the aggregate
    (partial+final) and one for the join; at 100 TB both tables'
    partkey partitioning aligns, and bucketing lineitem on partkey
    removes the join shuffle entirely. Never executed per-outer-row.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100 / 7.0 AS avg_yearly,
               COUNT(*) AS n_small_lines
        FROM lineitem l
        WHERE l_quantity < (
          SELECT 0.2 * (CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                          / 100 / COUNT(*))
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
        )
        """
    )


@register(
    "min_cost_per_part",
    oracle="""
    SELECT DISTINCT p_partkey, p_name, s_name, l_extendedprice AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE l_extendedprice = (
      SELECT MIN(l2.l_extendedprice) FROM lineitem l2
      WHERE l2.l_partkey = p.p_partkey
    )
    ORDER BY p_partkey, s_name
    LIMIT 100
    """,
)
def min_cost_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-supplier-per-part (the TPC-H Q2 shape: rows equal to a
    correlated MIN over their key, keeping ALL tied suppliers). The
    oracle spells it as the classic correlated scalar-MIN subquery.

    Exactness: the min is compared with raw-double EQUALITY — no
    arithmetic on either side, so both engines pick identical rows.

    Scale: NOT agg-then-self-join (two shuffles of lineitem on
    partkey). A window MIN over partkey gets the per-part floor in the
    SAME shuffle that the filter consumes — lineitem moves once, then
    the survivors (|parts|-ish rows) join the part and supplier dims
    HINT-FREE (both are SF-linear; AQE broadcasts them while they fit).
    DISTINCT collapses tied lines of one supplier; its shuffle carries
    only the filtered rows.
    """
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("l_partkey")
    cheapest = (
        l.select("l_partkey", "l_suppkey", "l_extendedprice")
        .withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select("l_partkey", "l_suppkey", "min_price")
        .distinct()
    )
    return (
        cheapest.join(p, cheapest.l_partkey == p.p_partkey)
        .join(s, cheapest.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "min_price")
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


@register(
    "pending_returns_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def pending_returns_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole-blame supplier analysis (the TPC-H Q21 shape): returned
    lines on finalized multi-supplier orders where this supplier is the
    ONLY one with returns — EXISTS and NOT EXISTS correlated on the
    SAME fact table with inequality correlation (l2.suppkey <> l1's).
    Executed through spark.sql; identical SQL runs on DuckDB.

    Scale: Catalyst de-correlates the pair into a left-semi and a
    left-anti join, both keyed on l_orderkey — the same key the
    l1⋈orders join shuffles on, so at scale all three hash exchanges
    align (one lineitem repartitioning reused; orders' F-filter pushes
    to its scan). Count-only aggregate partial-combines to |suppliers|
    rows; supplier dim broadcasts.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("lineitem", "orders", "supplier"))
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM lineitem l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R'
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
        """
    )


@register(
    "lapsed_customers_q22",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100 / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100 AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def lapsed_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lapsed-but-wealthy customer rollup (the TPC-H Q22 shape):
    above-average balance AND no recent orders — a global scalar
    aggregate subquery plus a date-filtered NOT EXISTS, grouped at the
    end. Executed through spark.sql; identical SQL runs on DuckDB.

    Exactness: the average is exact-int64-cents / 100 / count — two
    IEEE divisions, left-associative in both grammars — and the
    comparison is against raw c_acctbal, so the threshold boundary is
    engine-identical. The reported total re-uses the cents sum.

    Scale: the 1-row average cross-joins (broadcast) onto customer;
    the anti join ships only the date-surviving slice of orders
    (predicate pushed below the join), hashed on custkey. Output is
    |segments| rows via partial+final agg.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        WITH avg_bal AS (
          SELECT CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
                   / 100 / COUNT(*) AS a
          FROM customer WHERE c_acctbal > 0
        )
        SELECT c_mktsegment, COUNT(*) AS numcust,
               CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100 AS totacctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > a
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@register(
    "recursive_month_spine",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '2001-08-01'
    ),
    rev AS (
      SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100 AS revenue
      FROM orders GROUP BY 1
    )
    SELECT months.m AS month_start,
           COALESCE(n, 0) AS n_orders,
           COALESCE(revenue, 0.0) AS revenue
    FROM months LEFT JOIN rev ON rev.m = months.m
    ORDER BY month_start
    """,
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4.0) generating a
    month spine over the data's date range, LEFT-joined to monthly
    order revenue so empty months surface as explicit 0-rows — the
    recursion-based spelling of gap filling (cf. gap_fill_daily, which
    uses sequence()+explode; both are valid at scale, this one
    exercises the SQL-standard iterative form, planned as
    UnionLoop/UnionLoopRef). Identical SQL runs on DuckDB.

    Scale: agg-first, join-second — the fact side collapses to
    |months| rows (partial+final hash agg; shuffle width = 80 keys,
    AQE coalesces) BEFORE touching the spine, so the join is
    80 × 80 rows regardless of fact size. Join-first would instead
    drag every order row through the outer join. The recursion itself
    is 80 single-row driver-side steps — trivial by construction.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '2001-08-01'
        ),
        rev AS (
          SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n,
                 CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                   / 100 AS revenue
          FROM orders GROUP BY 1
        )
        SELECT months.m AS month_start,
               COALESCE(n, 0) AS n_orders,
               COALESCE(revenue, 0.0) AS revenue
        FROM months LEFT JOIN rev ON rev.m = months.m
        ORDER BY month_start
        """
    )


# ---------------------------------------------------------------------------
# Classic TPC-H decision-support joins (reference-class OLAP parity)
# ---------------------------------------------------------------------------

@register(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           {sql_csum(SQL_NET_CENTS)} AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1996-03-15'
      AND l_shipdate > DATE '1996-03-15'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority): top unshipped-revenue orders for one
    market segment — scan → selective joins → agg → top-k, the canonical
    decision-support shape the reference's warehouse users run
    (balyuv/ai-etl-studio answers ad-hoc joins like prompts.py's examples;
    this is the benchmark-canon instance).

    Scale: both date filters push to the parquet scans. Orders and
    customer are SF-linear (fact-scale at 100 TB), so NEITHER carries a
    broadcast hint: customer⋈orders shuffles once on custkey, the result
    ⋈lineitem once on orderkey — SCALE.md's fact-fact rule — and AQE's
    dynamic join switch still broadcasts a side that turns out small at
    runtime. Revenue is exact integer cents with map-side partial agg;
    the ORDER BY + LIMIT is a TakeOrderedAndProject heap, no global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-03-15"
    )
    return (
        li.join(o.join(c, o.o_custkey == c.c_custkey),
                li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(csum(net_cents()).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n_name, {sql_csum(SQL_NET_CENTS)} AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume): revenue per nation where the
    supplier and customer share a nation, for one region-year — the
    6-way snowflake join.

    Scale: the region→nation chain broadcasts into supplier (25→5-row
    dims, hinted); supplier, orders and customer are all SF-linear, so
    the supplier-map join into lineitem and the orders/customer joins
    carry no hints — each shuffles once on its key, and AQE upgrades to
    broadcast at runtime only if the side is genuinely small.
    The c_nationkey = s_nationkey locality condition rides the supplier
    join as an equi-key, not a post-filter. One partial→final agg of
    5 nation rows; exact integer cents.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    sn = (
        s.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    co = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_nationkey")
    )
    return (
        li.join(co, li.l_orderkey == F.col("o_orderkey"))
        .join(
            sn,
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(csum(net_cents()).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01'
      AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): orders in one quarter having
    at least one line item shipped after the order date, counted by
    priority — the canonical correlated-EXISTS decision-support query.

    Scale: the EXISTS decorrelates to a LEFT SEMI join on orderkey; the
    quarter filter pushes to the orders scan so the semi-join probes
    with the small filtered side, and lineitem is pruned to two columns.
    The final rollup is five rows.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q12",
    oracle="""
    SELECT l_shipmode,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN l_linenumber % 2 = 0 THEN 'MAIL' ELSE 'SHIP' END
               AS l_shipmode
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1997-01-01') t
    GROUP BY l_shipmode
    ORDER BY l_shipmode
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): high/low-priority
    line counts per ship mode for one year. The synthetic lineitem has
    no l_shipmode column, so the mode is derived deterministically from
    l_linenumber parity — the join/agg MECHANICS (conditional counts
    over a fact⋈dim year slice) are the benchmark shape.

    Scale: the year filter pushes to the lineitem scan; lineitem⋈orders
    is the canonical fact-fact join — both sides shuffle once on
    orderkey, no broadcast hint (orders is SF-linear; a narrow 2-column
    projection does not change its row count), and bucketing both tables
    on orderkey at write time removes even that shuffle. Both
    conditional counts fuse into ONE HashAggregate of two groups.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    mode = F.when(F.col("l_linenumber") % 2 == 0, "MAIL").otherwise("SHIP")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(mode.alias("l_shipmode"), "o_orderpriority")
        .groupBy("l_shipmode")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


@register(
    "tpch_q14",
    oracle="""
    SELECT CAST(100.0 * promo_cents / total_cents AS DOUBLE) AS promo_revenue_pct
    FROM (
      SELECT SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                      AS BIGINT) ELSE 0 END) AS promo_cents,
             SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                 AS BIGINT)) AS total_cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= DATE '1996-09-01'
        AND l_shipdate < DATE '1996-10-01') t
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of one month's revenue from
    promo-type parts.

    Scale: month filter pushed to the lineitem scan; part is SF-linear
    so the join is hint-free (AQE broadcasts while it fits); both sums
    (conditional + total, exact integer cents) in ONE aggregate; the
    percentage is a single final division of exact ints.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.col("p_type").startswith("PROMO")
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(promo, net_cents()).otherwise(0)).alias("promo_cents"),
            F.sum(net_cents()).alias("total_cents"),
        )
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo_cents") / F.col("total_cents"))
        .cast("double")
        .alias("promo_revenue_pct")
    )


@register(
    "tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 100, 0)
                    AS BIGINT)) AS DOUBLE) / 100 AS revenue_change
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): one-table filtered sum —
    the purest scan-dominated benchmark query.

    Scale: all three predicates push to the parquet scan (year bound on
    shipdate, discount band, quantity cap); the sum is exact integer
    cents with map-side partials; the answer is one row. At 100 TB this
    query IS the scan: everything depends on pruning and pushdown,
    nothing on shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents_expr = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100, 0
    ).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(cents_expr).cast("double") / 100).alias("revenue_change"))
    )


@register(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_csum(SQL_NET_CENTS)} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns in one quarter.

    Scale: both date and returnflag predicates push to their scans.
    Nation broadcasts into customer; orders⋈customer and lineitem⋈
    (orders-derived) are fact-fact joins — a quarter of orders is still
    SF-linear, so no broadcast hints: one custkey shuffle, one orderkey
    shuffle, AQE free to upgrade if the filtered side is small at
    runtime. Exact integer cents; top-20 via TakeOrderedAndProject
    heaps — no global sort.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    dims = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "c_custkey", "c_name", "c_acctbal", "n_name")
    )
    return (
        li.join(dims, li.l_orderkey == dims.o_orderkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(csum(net_cents()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 150)
    GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE),
             o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, with their customers — the classic
    HAVING-subquery + rejoin shape.

    Scale: the qualifying-order set is ONE groupBy over (orderkey,
    quantity) — integer quantities, map-side combine — whose survivors
    semi-join-prune BOTH the orders and lineitem sides before the final
    rollup. Every join is HINT-FREE: the qualified set is a constant
    *fraction* of orders (qty>150 keeps ~1.5% at every SF — SF-linear,
    not bounded), so AQE's dynamic switch broadcasts it at runtime
    while it fits and falls back to shuffle joins past that, instead
    of a forced hint OOMing at the 100 TB design point. Top-20 via
    heaps.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round("l_quantity").cast("bigint").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big,
        F.col("o_orderkey") == big.l_orderkey,
        "left_semi",
    )
    c = load_table(spark, sf_dir, "customer")
    li2 = li.join(big, "l_orderkey", "left_semi")
    dims = c.join(o, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        "c_name",
        "c_custkey",
        F.col("o_orderdate").cast("date").alias("orderdate"),
        "o_totalprice",
    )
    return (
        # both sides are already semi-pruned to the qualifying orders —
        # tiny at any SF; AQE's dynamic switch broadcasts at runtime
        li2.join(dims, li2.l_orderkey == dims.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "orderdate", "o_totalprice")
        .agg(F.sum("qty").cast("bigint").alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts, zero-order customers included — the double-aggregation
    + filtered LEFT OUTER join shape (the join predicate, not a WHERE,
    keeps customers with no qualifying orders).

    Scale: orders pre-filtered and aggregated per custkey BEFORE
    touching customer would also work, but the canonical outer-join form
    lets Catalyst choose; the second aggregation reduces to |distinct
    counts| rows. COUNT(o_orderkey) counts non-null matches only —
    exactly the outer-join-aware count.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
        "left_outer",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS DOUBLE) / 100 / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue from orders of
    a brand's parts in quantities below 20% of that part's average — the
    correlated scalar-subquery shape, decorrelated to an aggregate +
    rejoin.

    Scale: the per-part average is ONE groupBy over (partkey, quantity)
    (map-side combinable); the brand filter pushes to the part scan and
    prunes the average table to the brand's parts BEFORE it joins back
    into lineitem. All joins HINT-FREE: a brand slice of part is a
    constant fraction (SF-linear), and so is the part-grain average —
    AQE broadcasts them at runtime while they fit. The threshold
    compare (0.2×avg) is evaluated identically in both engines (avg of
    small integer quantities).
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap"))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
                .cast("double")
                / 100
                / 7.0
            ).alias("avg_yearly")
        )
    )


@register(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_csum(SQL_NET_CENTS)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice, l_discount
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year — the disjunctive two-nation join condition.

    Scale: the pair disjunction implies BOTH endpoints are in
    {NATION_1, NATION_2}, so that membership filter pushes below the
    joins into the two nation lookups — supplier and customer shrink to
    the two trading nations BEFORE anything joins orders (~12× less
    order traffic than filtering after). ALL fact-side joins hint-free
    — the 2-nation supplier slice is still a constant fraction of an
    SF-linear table, so AQE decides whether it broadcasts into
    lineitem; customer and orders shuffle on their keys, AQE free to
    upgrade. Only the cross-pair disjunction
    remains as a post-join predicate. Exact cents; years come from the
    pushed shipdate band.
    """
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    sn = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("snk"),
                             F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("snk"),
    ).select("s_suppkey", "supp_nation")
    cn = c.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("cnk"),
                             F.col("n_name").alias("cust_nation"))),
        c.c_nationkey == F.col("cnk"),
    ).select("c_custkey", "cust_nation")
    co = o.join(cn, o.o_custkey == cn.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(sn, li.l_suppkey == sn.s_suppkey)
        .join(co, li.l_orderkey == co.o_orderkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(csum(net_cents()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_1' THEN cents ELSE 0 END)
                AS DOUBLE)
             / SUM(cents) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                  AS BIGINT) AS cents,
             n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one supplier nation's share of
    a region's revenue in one part type, by year — the 8-way snowflake
    with a conditional-share aggregate.

    Scale: only the TRUE dims broadcast (nation→region into customer,
    nation into supplier); part/supplier slices are constant fractions
    of SF-linear tables, so the type-filtered-part semi-join on
    lineitem, the supplier-map join, the region-membership semi-join on
    orders, and the lineitem⋈orders join are all hint-free key-on-key
    shuffles (AQE upgrades to broadcast at runtime while they fit). The
    share is exact-cents conditional sum over exact total — one final
    int/int-derived division per year.
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    li = load_table(spark, sf_dir, "lineitem")
    cust_region = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    co = o.join(
        cust_region, o.o_custkey == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    sn = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("snk"),
                             F.col("n_name").alias("nation"))),
        s.s_nationkey == F.col("snk"),
    ).select("s_suppkey", "nation")
    cents = net_cents()
    return (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .join(co, li.l_orderkey == co.o_orderkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .select("o_year", "nation", cents.alias("cents"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("cents")).otherwise(0))
                .cast("double")
                / F.sum("cents")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_csum(SQL_NET_CENTS)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum revenue in
    one quarter — the view + scalar-max-subquery shape (ties kept, per
    the spec).

    Scale: revenue is one groupBy of (suppkey, cents); the scalar max is
    a 1-row broadcast crossJoin back (no second full aggregation pass
    over lineitem); supplier names join in last, hint-free (supplier is
    SF-linear — AQE broadcasts while it fits).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        csum(net_cents()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                    AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): revenue from three disjunctive
    (brand, size, quantity) baskets — the OR-of-ANDs predicate that
    tests an optimizer's disjunction handling (container/shipmode
    clauses adapted to the columns this schema has).

    Scale: Catalyst pushes the common p_size/brand bounds into the part
    scan and the quantity bounds into lineitem where possible; the part
    join is hint-free (part is SF-linear — AQE broadcasts while it
    fits) and the disjunction evaluates post-join in codegen. One
    exact-cents sum out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    basket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(basket)
        .agg(
            (F.sum(net_cents()).cast("double") / 100).alias("revenue")
        )
    )


@register(
    "tpch_q9",
    oracle="""
    SELECT nation, o_year,
           CAST(SUM(profit_cents) AS DOUBLE) / 100 AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
               - (CAST(round(p_retailprice * 100, 0) AS BIGINT)
                  * CAST(round(l_quantity) AS BIGINT) * 6) // 10
               AS profit_cents
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): per supplier-nation and year, the
    profit on one product family. This schema has no partsupp, so unit
    cost is adapted to 60% of p_retailprice (exact integer arithmetic,
    documented) — the join tree and rollup are the benchmark's.

    Scale: the name-filtered part slice and the supplier⋈nation map are
    constant fractions of SF-linear tables — hint-free joins (the LIKE
    prunes right after the part scan; AQE broadcasts both sides at
    runtime while they fit); lineitem⋈orders is the one key-on-key
    fact-fact join —
    both sides shuffle once on orderkey with NO hint (orders is
    SF-linear; forcing it into a broadcast would OOM at the 100 TB
    design point), AQE free to re-plan. Profit stays in exact integer
    cents end to end (the // 10 is integer division, identical in both
    engines for the non-negative operands here).
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    ).select("p_partkey", "p_retailprice")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    # integer DIV 10 mirrored via expr to match DuckDB's // exactly
    profit_cents = net_cents() - F.expr(
        "(CAST(round(p_retailprice * 100, 0) AS BIGINT)"
        " * CAST(round(l_quantity) AS BIGINT) * 6) DIV 10"
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            profit_cents.alias("profit_cents"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("profit_cents").cast("double") / 100).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11",
    oracle="""
    WITH val AS (
      SELECT l_partkey AS ps_partkey,
             SUM(CAST(round(p_retailprice * 100, 0) AS BIGINT)
                 * CAST(round(l_quantity) AS BIGINT)) AS value_cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN part ON p_partkey = l_partkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey)
    SELECT ps_partkey, CAST(value_cents AS DOUBLE) / 100 AS value
    FROM val
    WHERE value_cents > (SELECT SUM(value_cents) * 0.001 FROM val)
    ORDER BY value DESC, ps_partkey
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts representing a
    significant share of one nation's shipped value — the
    aggregate-vs-global-scalar HAVING shape. partsupp's availqty×cost is
    adapted to shipped qty × retail price (exact integer cents).

    Scale: the nation's supplier set semi-join-prunes lineitem and the
    part join runs hint-free (both are SF-linear slices; AQE broadcasts
    while they fit — the hints formerly here were hidden from the
    tripwire by the localCheckpoint and are gone per the r5 policy);
    per-part value is one groupBy with map-side combine; the global
    total is a 1-row broadcast crossJoin — no second pass, no
    correlated re-aggregation.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = load_table(spark, sf_dir, "lineitem")
    nat_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    val = (
        li.join(nat_supp, li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(
            F.sum(
                F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
                * F.round("l_quantity").cast("bigint")
            ).alias("value_cents")
        )
    )
    # per-part values feed BOTH the global cutoff and the filter —
    # materialize once (|parts| rows) so the lineitem join runs once
    val = val.localCheckpoint()
    total = val.agg((F.sum("value_cents") * 0.001).alias("cutoff"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") > F.col("cutoff"))
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / 100).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


@register(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    suppliers ship each (brand, type, size) combination, excluding
    flagged suppliers — the NOT-IN exclusion + multi-key distinct-count
    shape (the complaints LIKE-clause adapted to negative balances;
    partsupp adapted to shipment facts).

    Scale: the excluded-supplier set and the size/brand part slice are
    constant fractions of SF-linear tables — both joins hint-free (AQE
    broadcasts the anti-join build side and the part dim at runtime
    while they fit); countDistinct rides the (brand, type, size)
    shuffle via expand.
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_suppkey
        HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 50)
    ORDER BY s_name, s_acctbal
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation who
    shipped a significant volume of promo parts in one year — the
    nested IN-subquery chain (partsupp availability adapted to shipped
    volume).

    Scale: the inner aggregate runs over the year+type-pruned lineitem
    slice (both filters pushed); its survivor set semi-join-prunes the
    nation-filtered supplier dim HINT-FREE — the survivors are
    supplier-grain (SF-linear worst case), so AQE decides the build
    side at runtime. No correlated execution anywhere — both INs
    decorrelate to semi-joins.
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("bigint")).alias("tq"))
        .filter(F.col("tq") > 50)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name", "s_acctbal")
    )


def _alias_tpch(alias: str, target: str) -> None:
    """Register a ``tpch_qN`` name for a query that predates the TPC-H
    block under a descriptive name, so the full tpch_q1..q22 namespace
    resolves (same callable, same oracle — the driver checks both rows
    identically)."""
    from ai_etl_studio_spark.operators import ORACLES, QUERIES

    QUERIES[alias] = QUERIES[target]
    ORACLES[alias] = ORACLES[target]


@register(
    "parameterized_segment_topk",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 25
    """,
)
def parameterized_segment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-balance customers for one market segment, executed through
    the engine's NAMED-PARAMETER path (``engine.run_parameterized`` ->
    ``spark.sql(sql, args=...)``): the template carries ``:seg`` /
    ``:min_bal`` markers and the values bind AFTER parsing, as typed
    literals in the analyzed plan — never by string interpolation.

    This is the repeated-dashboard shape at 100 TB: ONE audited,
    read-only-vetted template serves every (segment, threshold)
    binding, and a hostile binding cannot change statement structure
    (test_engine pins that ``"BUILDING' OR '1'='1"`` matches nothing
    and that a DDL template is rejected before binding). The reference
    has no equivalent — its values ride inside the LLM-emitted SQL
    string (db_utils.py:160), defended only by server-side GRANTs.

    Scale: binding produces the same pushed-down plan as the literal
    query — the segment and balance predicates both reach the parquet
    scan's PushedFilters (pinned in test_plans)."""
    from ai_etl_studio_spark.catalog import register_tables
    from ai_etl_studio_spark.engine import run_parameterized

    register_tables(spark, sf_dir)
    result = run_parameterized(
        spark,
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_mktsegment = :seg AND c_acctbal > :min_bal
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 25
        """,
        {"seg": "BUILDING", "min_bal": 5000},
    )
    return result.presentation(spark)


_alias_tpch("tpch_q1", "agg_pricing_summary")
_alias_tpch("tpch_q2", "min_cost_per_part")
_alias_tpch("tpch_q21", "pending_returns_q21")
_alias_tpch("tpch_q22", "lapsed_customers_q22")
