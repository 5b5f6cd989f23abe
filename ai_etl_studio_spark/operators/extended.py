"""Extended relational surface — the operators SURVEY §2B marks as 'free
Catalyst capability' beyond the reference's inner-equi-join/SUM world,
plus the as-of/range joins the OLAP guide calls out as custom patterns.

Everything oracle-checked except where noted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_etl_studio_spark.catalog import load_table, read_parquet
from ai_etl_studio_spark.freshness import SessionMemo
from ai_etl_studio_spark.functions.exact import sql_dsum, dsum
from ai_etl_studio_spark.layout_cache import build_once, layout_ident
from ai_etl_studio_spark.operators import register
from ai_etl_studio_spark.plans.snapshot import capture_stage


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    ORDER BY c_custkey, o_orderkey NULLS FIRST
    LIMIT 200
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join — keeps customers with no orders (NULL right side).

    Scale: outer joins can't broadcast the preserved side; Catalyst
    broadcasts the non-preserved (orders-side would be wrong here, so
    customer-preserving left join broadcasts orders only if small —
    else SMJ)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy("c_custkey", F.asc_nulls_first("o_orderkey"))
        .limit(200)
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey
    FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
    ORDER BY n_nationkey NULLS FIRST, s_suppkey NULLS FIRST
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — nations without suppliers and vice versa."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey, "full_outer")
        .select("n_nationkey", "n_name", "s_suppkey")
        .orderBy(F.asc_nulls_first("n_nationkey"), F.asc_nulls_first("s_suppkey"))
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN (SELECT n_name FROM nation WHERE n_regionkey = 0) n
    ORDER BY r_name, n_name
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (bounded sides only — it's a cartesian product)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0).select("n_name")
    return r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")


@register(
    "in_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      AND o_orderstatus = 'F'
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — planned as a left-semi join by Catalyst. Executed via
    spark.sql to exercise the subquery front-end."""
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          AND o_orderstatus = 'F'
        ORDER BY o_orderkey
        LIMIT 100
        """
    )


@register(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) FROM orders)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price."""
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) FROM orders)
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 50
        """
    )


@register(
    "having_filter",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3
    ORDER BY o_custkey
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — post-aggregation filter."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total"))
        .filter(F.col("n_orders") >= 3)
        .orderBy("o_custkey")
    )


@register(
    "distinct_projection",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    ORDER BY c_mktsegment, c_nationkey
    """,
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT over a projection."""
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct().orderBy(
        "c_mktsegment", "c_nationkey"
    )


@register(
    "pivot_wide",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: linestatus values to columns (guide §Common OLAP patterns).

    Implemented as conditional aggregation (identical plan to .pivot()
    with explicit values, and exactly mirrorable in the oracle).
    SUM skips NULLs in both engines, so the CASE without ELSE is exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty_cents = F.round(F.col("l_quantity") * 100, 0).cast("bigint")

    def cond_sum(status: str):
        return (
            F.sum(F.when(F.col("l_linestatus") == status, qty_cents)).cast("double") / 100
        )

    return (
        li.groupBy("l_returnflag")
        .agg(cond_sum("O").alias("qty_O"), cond_sum("F").alias("qty_F"))
        .orderBy("l_returnflag")
    )


@register(
    "unpivot_long",
    oracle="""
    SELECT c_custkey, metric, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
    ) u
    ORDER BY c_custkey, metric
    LIMIT 200
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack() — wide columns to (metric, value) rows."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.expr(
                "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE))"
            ).alias("metric", "value"),
        )
        .orderBy("c_custkey", "metric")
        .limit(200)
    )


@register(
    "cube_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id — all 4 grouping sets + set identifier."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
        .orderBy(
            "gid", F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


@register(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 5) AS name_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           length(p_name) AS name_len,
           replace(p_type, ' ', '_') AS type_snake,
           CASE WHEN p_name LIKE '%gear%' THEN 1 ELSE 0 END AS has_gear,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    WHERE p_type LIKE '%a%'
    ORDER BY p_partkey
    LIMIT 150
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: LIKE / CONCAT / SUBSTR / UPPER / LENGTH /
    REPLACE / LPAD — none appear in the reference spec (SURVEY §2B scalar
    row: 'no occurrence'), all standard Spark built-ins."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").like("%a%"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.substring("p_name", 1, 5).alias("name_prefix"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.length("p_name").alias("name_len"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.when(F.col("p_name").like("%gear%"), 1).otherwise(0).alias("has_gear"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        )
        .orderBy("p_partkey")
        .limit(150)
    )


@register(
    "math_functions",
    oracle="""
    SELECT o_orderkey,
           abs(o_totalprice - 100000) AS dist_from_100k,
           CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_kilo_ceil,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_kilo_floor,
           round(sqrt(o_totalprice), 6) AS price_sqrt,
           round(ln(o_totalprice), 6) AS price_ln,
           o_orderkey % 7 AS key_mod7
    FROM orders
    WHERE o_totalprice > 0
    ORDER BY o_orderkey
    LIMIT 200
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function surface: ABS/CEIL/FLOOR/SQRT/LN/MOD. sqrt and ln are
    correctly-rounded IEEE on identical inputs; rounded to 6dp anyway."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            "o_orderkey",
            F.abs(F.col("o_totalprice") - 100000).alias("dist_from_100k"),
            F.ceil(F.col("o_totalprice") / 1000).alias("price_kilo_ceil"),
            F.floor(F.col("o_totalprice") / 1000).alias("price_kilo_floor"),
            F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
            F.round(F.log("o_totalprice"), 6).alias("price_ln"),
            (F.col("o_orderkey") % 7).alias("key_mod7"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


@register(
    "argmax_minby",
    oracle="""
    SELECT o_custkey, biggest_order, smallest_order, max_price
    FROM (
      SELECT o_custkey,
             FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS biggest_order,
             FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice ASC, o_orderkey) AS smallest_order,
             MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS max_price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders
    ) x
    WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def argmax_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BY / MIN_BY (argmax aggregates). Determinism on value ties is
    engine-defined, so ties are broken by composing the compared value
    with the returned key: maximize (price, -orderkey) == smallest
    orderkey among max-price rows in both engines."""
    o = load_table(spark, sf_dir, "orders")
    # struct comparison: (totalprice, -orderkey) orders lexicographically,
    # making the argmax total and engine-independent
    return (
        o.groupBy("o_custkey")
        .agg(
            F.expr(
                "max_by(o_orderkey, struct(o_totalprice, -o_orderkey))"
            ).alias("biggest_order"),
            F.expr(
                "min_by(o_orderkey, struct(o_totalprice, o_orderkey))"
            ).alias("smallest_order"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_custkey")
    )


@register(
    "asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           last_click_ts
    FROM (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_click_ts
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ) p
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (guide §Common OLAP patterns: Spark lacks a native one):
    for each purchase, the most recent PRIOR click of the same user —
    implemented as the union-window pattern: tag both streams, one window
    per user ordered by time, running MAX over the click-only timestamp.

    Scale: ONE shuffle on user_id + one sort — beats the naive
    inequality self-join (quadratic per user). This is the same plan
    pd.merge_asof would need, kept fully in the JVM.
    """
    e = load_table(spark, sf_dir, "events")
    both = e.filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        both.withColumn("last_click_ts", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
        )
        .orderBy("purchase_id")
    )


@register(
    "range_join",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_pairs_within_1h
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id <> a.event_id
     AND b.ts >= a.ts
     AND b.ts < a.ts + INTERVAL 1 HOUR
    GROUP BY a.user_id
    ORDER BY a.user_id
    """,
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: ordered event pairs of the same user within 1 hour.
    Equi-key (user_id) + range predicate: Catalyst executes the equi part
    as a hash/SMJ join and applies the range as a post-filter.

    Scale: the equi-key bounds the blowup to per-user windows; for
    key-free range joins, bucketize time (join on coarse bucket +
    neighbor) to avoid the cartesian fallback.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.event_id") != F.col("a.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") < F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs_within_1h"))
        .orderBy("user_id")
    )


@register("approx_distinct")  # rows-only: HLL estimates are engine-specific
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB substitute for
    exact COUNT DISTINCT (one pass, constant memory, order-insensitive
    merge). Estimates are engine-specific, so no cross-engine oracle;
    deterministic for fixed data, and the test bounds relative error vs
    the exact count."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
            F.countDistinct("o_custkey").alias("exact_customers"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "not_in_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    ORDER BY c_custkey
    LIMIT 200
    """,
)
def not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery — semantically DISTINCT from an anti join
    (join_anti): one NULL in the subquery result makes NOT IN return
    zero rows (three-valued logic), so engines plan it as a null-aware
    anti join. Kept on the SQL surface so Catalyst's NAAJ handling is
    exercised; o_custkey is non-null here, making the oracle stable.

    Scale: null-aware anti joins cannot broadcast-stream like plain
    anti joins (the null check needs the whole build side) — prefer
    NOT EXISTS/anti join when the column is known non-null.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("_nis_customer")
    o.createOrReplaceTempView("_nis_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM _nis_customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM _nis_orders WHERE o_totalprice > 100000)
        ORDER BY c_custkey
        LIMIT 200
        """
    )


@register(
    "merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
      FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) + 500 AS pc
      FROM orders WHERE o_orderkey % 3 = 0)
    SELECT CASE WHEN b.k IS NULL THEN 'insert'
                WHEN u.k IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           COUNT(*) AS n_rows,
           CAST(SUM(COALESCE(u.pc, b.pc)) AS DOUBLE) / 100 AS total_price
    FROM base b FULL OUTER JOIN upd u ON b.k = u.k
    GROUP BY 1
    ORDER BY action
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (upsert) composed from a FULL OUTER join +
    COALESCE: matched rows take the update's values, unmatched updates
    insert, unmatched base rows pass through. Base = even order keys;
    changeset = keys divisible by 3 with price bumped 500 cents. Output
    is the per-action audit summary every MERGE job emits.

    Spark has no MERGE INTO on plain parquet (it's a Delta/Iceberg
    feature); this full-outer-coalesce plan IS what those table formats
    execute underneath.

    Scale: the join shuffles both sides on the key unless the changeset
    is small — then broadcast it and rewrite only the touched
    partitions (see sources.maintenance.compact_parquet for the write
    side). Integer
    cents keep the audit sums exact across engines.
    """
    o = load_table(spark, sf_dir, "orders")
    pc = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("bk"), pc.alias("bpc")
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("uk"), (pc + 500).alias("upc")
    )
    merged = base.join(upd, base.bk == upd.uk, "full_outer").select(
        F.when(F.col("bk").isNull(), "insert")
        .when(F.col("uk").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        F.coalesce("upc", "bpc").alias("pc"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("pc").cast("double") / 100).alias("total_price"),
        )
        .orderBy("action")
    )


@register(
    "exists_correlated",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_totalprice > 300000)
    ORDER BY c_custkey
    """,
)
def exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries — customers with a
    finished order but no order above 300k. Executed via spark.sql to
    exercise the correlated-subquery front-end; Catalyst decorrelates
    to a left-semi join (EXISTS) plus a left-anti join (NOT EXISTS),
    so execution is two hash joins, not a per-row probe.

    Scale: both joins shuffle on o_custkey/c_custkey (or broadcast the
    dim side); there is no nested-loop re-execution of the subquery —
    the decorrelation IS the scale story. (Same surface as the
    join_semi/join_anti DataFrame twins, reached from SQL.)"""
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_totalprice > 300000)
        ORDER BY c_custkey
        """
    )


@register(
    "bitwise_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (BIT_AND/BIT_OR/BIT_XOR) — commutative,
    associative, fixed-width state, so they partial-aggregate
    perfectly (shuffle carries one int64 per group per partition).
    The classic uses at scale: set-membership fingerprints, permission
    masks, and XOR-checksumming a column across reshards. Absent from
    the reference's surface (aggregate list at prompts.py:66)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_and("o_orderkey").alias("key_and"),
            F.bit_or("o_orderkey").alias("key_or"),
            F.bit_xor("o_orderkey").alias("key_xor"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "hash_functions",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           md5(concat_ws('|', c_name, c_mktsegment)) AS row_fingerprint
    FROM customer
    ORDER BY c_custkey
    LIMIT 100
    """,
)
def hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash surface (MD5 / SHA-256) — row fingerprinting,
    change detection, PII pseudonymization. Standardized outputs, so
    byte-identical across engines; concat_ws with an unambiguous
    separator is the multi-column fingerprint idiom (cf. the dedup
    family, which builds all its keys on md5)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.md5("c_name").alias("name_md5"),
            F.sha2("c_name", 256).alias("name_sha256"),
            F.md5(F.concat_ws("|", "c_name", "c_mktsegment")).alias(
                "row_fingerprint"
            ),
        )
        .orderBy("c_custkey")
        .limit(100)
    )


@register(
    "python_datasource_scan",
    oracle="""
    SELECT g % 8 AS bucket,
           COUNT(*) AS n,
           CAST(SUM((g * 2654435761) % 4294967296) AS BIGINT) AS sum_val,
           MIN((g * 2654435761) % 4294967296) AS min_val
    FROM generate_series(0, 49999) s(g)
    GROUP BY g % 8
    ORDER BY bucket
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4.0 `pyspark.sql.datasource`) —
    a pure-Python source that declares schema + input partitions and is
    scanned by parallel tasks, here a deterministic Knuth-hash sequence
    so the ENTIRE source is oracle-checkable against generate_series
    (sources/pydatasource.py has the scale notes). The reference's
    extensibility was two hard-coded RDBMS drivers (db_utils.py:119-165);
    this is the Spark-native "bring any system" seam.

    Scale: 16 input partitions → 16 parallel readers; the aggregate
    partial-combines per task, so the shuffle carries 8 groups × tasks.
    """
    from ai_etl_studio_spark.sources.pydatasource import register_synthetic_seq

    register_synthetic_seq(spark)
    src = (
        spark.read.format("synthetic_seq")
        .option("n", "50000")
        .option("partitions", "16")
        .load()
    )
    return (
        src.groupBy((F.col("id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
        )
        .orderBy("bucket")
    )


@register("hll_sketch_rollup")
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL,
    Spark 3.5+): per-event-type user sketches, PLUS a grand-total row
    computed by hll_union_agg over the per-group sketches — NOT by
    re-scanning the data, and NOT by summing the estimates (distinct
    counts don't add; sketch union is the only correct rollup).

    THE sketch property that matters at 100 TB: sketches are bounded
    state (~KBs) that merge associatively, so partial aggregation,
    AQE re-planning, and multi-level rollups (hour→day→month) all
    compose without touching raw data again. approx_distinct pins the
    one-shot HLL++ estimate; this pins the persistable/mergeable form.

    No SQL oracle: the estimate is implementation-defined (DuckDB's HLL
    differs); the driver records the rows-only check and the pytest
    twin bounds the estimate against the exact distinct count (±5%).
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("events",))
    return spark.sql(
        """
        WITH per AS (
          SELECT event_type, hll_sketch_agg(user_id) AS sk
          FROM events GROUP BY event_type
        )
        SELECT event_type, hll_sketch_estimate(sk) AS approx_users
        FROM per
        UNION ALL
        SELECT 'ALL' AS event_type,
               hll_sketch_estimate(hll_union_agg(sk)) AS approx_users
        FROM per
        ORDER BY event_type
        """
    )


@register(
    "scd2_dim_build",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
             o_orderkey, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rnv
      FROM orders),
    isl AS (
      SELECT o_custkey, o_orderpriority,
             MIN(o_orderdate) AS valid_from,
             MIN(rn) AS island_rn
      FROM seq GROUP BY o_custkey, o_orderpriority, rn - rnv),
    v AS (
      SELECT o_custkey, o_orderpriority, valid_from,
             LEAD(valid_from) OVER (PARTITION BY o_custkey
                                    ORDER BY island_rn) AS valid_to
      FROM isl)
    SELECT o_custkey, o_orderpriority AS attr_value, valid_from, valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM v
    ORDER BY o_custkey, valid_from, attr_value
    """,
)
def scd2_dim_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history build: collapse each
    customer's order-priority timeline into versioned rows with
    [valid_from, valid_to) ranges and an is_current flag — the standard
    warehouse dimension-maintenance pattern (gaps-and-islands via the
    rn - rn_per_value trick), which the reference's MySQL target would
    express with the identical window functions.

    Scale: both ROW_NUMBERs and the LEAD partition by o_custkey, so the
    whole build is ONE shuffle on the dimension key; islands collapse
    map-side after the windows. Ordering is total (date + orderkey
    tie-break) — versioning is deterministic under any partition order.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderkey",
        "o_orderpriority",
    )
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wval = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        F.row_number().over(wseq).alias("rn"),
        F.row_number().over(wval).alias("rnv"),
    )
    isl = seq.groupBy(
        "o_custkey", "o_orderpriority", (F.col("rn") - F.col("rnv")).alias("grp")
    ).agg(F.min("o_orderdate").alias("valid_from"), F.min("rn").alias("island_rn"))
    wlead = Window.partitionBy("o_custkey").orderBy("island_rn")
    return (
        isl.select(
            "o_custkey",
            F.col("o_orderpriority").alias("attr_value"),
            "valid_from",
            F.lead("valid_from").over(wlead).alias("valid_to"),
        )
        .withColumn(
            "is_current", F.when(F.col("valid_to").isNull(), 1).otherwise(0)
        )
        .orderBy("o_custkey", "valid_from", "attr_value")
    )


@register(
    "cdc_latest_snapshot",
    oracle="""
    SELECT user_id, event_type AS last_event_type, ts AS last_ts,
           value AS last_value
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) r
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: collapse a change stream to the latest row
    per key — the snapshot read every downstream consumer of a change
    feed starts from. Latest = max (ts, event_id); the event_id
    tie-break makes compaction deterministic when two changes share a
    timestamp.

    Scale: implemented as max_by over a struct — a HASH aggregation
    with map-side combine (each partition keeps one candidate per key
    before the shuffle), NOT the row_number window the oracle uses,
    which would sort every group. Same rows, cheaper plan; this is the
    compaction strategy log-structured tables (Delta/Hudi CoW) run.
    """
    e = load_table(spark, sf_dir, "events")
    pick = F.max_by(
        F.struct("event_type", "ts", "value"), F.struct("ts", "event_id")
    ).alias("b")
    return (
        e.groupBy("user_id")
        .agg(pick)
        .select(
            "user_id",
            F.col("b.event_type").alias("last_event_type"),
            F.col("b.ts").alias("last_ts"),
            F.col("b.value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# NOT IN null semantics (the three-valued-logic trap, demonstrated)
# ---------------------------------------------------------------------------

@register(
    "not_in_null_semantics",
    oracle="""
    WITH sub AS (
      SELECT CASE WHEN o_orderstatus = 'O' THEN o_custkey END AS k
      FROM orders),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer
          WHERE c_custkey NOT IN (SELECT k FROM sub)),
    b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer
          WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer cu
          WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = cu.c_custkey))
    SELECT a.n AS not_in_with_nulls, b.n AS not_in_null_filtered,
           c.n AS not_exists
    FROM a, b, c
    """,
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN three-valued-logic trap, demonstrated as a query: the
    same "customers with no open order" question asked three ways —
    NOT IN against a list CONTAINING NULLs (returns zero rows: any
    NULL in the list makes every NOT IN predicate UNKNOWN), NOT IN
    with the NULLs filtered, and NOT EXISTS (null-safe by
    construction). Engines agree on all three; query AUTHORS routinely
    don't — this is the §2B null-handling row's sharpest edge, and in
    Spark the first form plans as the expensive null-aware anti join
    (every row must check the whole list for a NULL witness).

    Scale: the NOT EXISTS / filtered forms decorrelate to ordinary
    anti joins (hash, shuffled); the null-aware form is the
    documented trap — at fact scale prefer NOT EXISTS always.
    """
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    o.select(
        F.when(F.col("o_orderstatus") == "O", F.col("o_custkey")).alias("k")
    ).createOrReplaceTempView("nn_sub")
    cu.createOrReplaceTempView("nn_customer")
    return spark.sql(
        """
        WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nn_customer
                   WHERE c_custkey NOT IN (SELECT k FROM nn_sub)),
        b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nn_customer
              WHERE c_custkey NOT IN (SELECT k FROM nn_sub
                                      WHERE k IS NOT NULL)),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nn_customer cu
              WHERE NOT EXISTS (SELECT 1 FROM nn_sub
                                WHERE nn_sub.k = cu.c_custkey))
        SELECT a.n AS not_in_with_nulls, b.n AS not_in_null_filtered,
               c.n AS not_exists
        FROM a, b, c
        """
    )


# ---------------------------------------------------------------------------
# GROUPING()/GROUPING_ID() surface over a rollup (total-row disambiguation)
# ---------------------------------------------------------------------------

@register(
    "grouping_id_report",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
             AS BIGINT) AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY grouping_id, returnflag, linestatus
    """,
)
def grouping_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPING()/GROUPING_ID() surface: a rollup whose total rows
    are DISAMBIGUATED by the grouping flags instead of relying on NULL
    labels (the §2B grouping-sets row's missing corner — a NULL data
    value and a rolled-up total are indistinguishable without
    GROUPING(); here the id encodes exactly which levels each row
    aggregates). Same contract in both engines: id 0 = leaf cells,
    1 = per-flag totals, 3 = grand total.

    Scale: rollup expands after partial aggregation; the report is
    |flags|×|statuses| + |flags| + 1 rows.
    """
    from ai_etl_studio_spark.functions.exact import cents

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (
                F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
            )
            .cast("bigint")
            .alias("grouping_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(cents("l_extendedprice")).cast("bigint").alias(
                "revenue_cents"
            ),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias(
                "returnflag"
            ),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias(
                "linestatus"
            ),
            "grouping_id",
            "n_lines",
            "revenue_cents",
        )
        .orderBy("grouping_id", "returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# NULL ordering semantics (the cross-engine default-divergence corner)
# ---------------------------------------------------------------------------

@register(
    "null_ordering_semantics",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN NULL
                  ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT)
             END AS v
      FROM orders),
    a AS (SELECT o_orderkey, v, 'nulls_first' AS ordering,
                 ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey)
                   AS rn
          FROM s),
    b AS (SELECT o_orderkey, v, 'nulls_last' AS ordering,
                 ROW_NUMBER() OVER (ORDER BY v ASC NULLS LAST, o_orderkey)
                   AS rn
          FROM s)
    SELECT ordering, rn, o_orderkey, v FROM (
      SELECT * FROM a WHERE rn <= 5
      UNION ALL SELECT * FROM b WHERE rn <= 5) t
    ORDER BY ordering, rn
    """,
)
def null_ordering_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-ordering corner of the sort surface: the same nullable
    measure ranked ASC with EXPLICIT `NULLS FIRST` and `NULLS LAST` —
    Spark's default for ASC is NULLS FIRST while DuckDB's (and
    Postgres's) is NULLS LAST, so any cross-engine ORDER BY on a
    nullable key silently disagrees unless the placement is written
    out. The engine rule this op pins: reproducible sorts always state
    null placement AND a unique tiebreak (§2B sorts row; companion of
    not_in_null_semantics on the predicate side).

    Scale: two TakeOrderedAndProject top-5 heaps over one narrow
    projection — no global sort.
    """
    from ai_etl_studio_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.lit(None)).otherwise(
            cents("o_totalprice")
        ).alias("v"),
    )
    a = (
        s.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("v").asc_nulls_first(), "o_orderkey")
            ),
        )
        .filter(F.col("rn") <= 5)
        .select(F.lit("nulls_first").alias("ordering"), "rn", "o_orderkey", "v")
    )
    b = (
        s.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("v").asc_nulls_last(), "o_orderkey")
            ),
        )
        .filter(F.col("rn") <= 5)
        .select(F.lit("nulls_last").alias("ordering"), "rn", "o_orderkey", "v")
    )
    return a.unionAll(b).orderBy("ordering", "rn")


# ---------------------------------------------------------------------------
# Storage-layout scale features (round 8): bucketed co-located fact-fact
# join and hive-style partition pruning — the two write-time layouts the
# 100 TB design notes in SCALE.md promise ("bucketing both tables on
# orderkey removes the shuffle entirely"), demonstrated as registered,
# oracle-checked queries with pinned physical plans.
# ---------------------------------------------------------------------------

_LAYOUT_BUCKETS = 16


def ensure_bucketed_orderkey_tables(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> tuple[str, str]:
    """Build-once lineitem + orders projections BUCKETED BY orderkey
    (16 buckets, sorted) and return their catalog table names. Later
    sessions re-register the existing files with a matching CLUSTERED
    BY spec, so the fact-fact join reads pre-bucketed sides — at write
    time this is the layout decision that removes the join shuffle for
    EVERY downstream orderkey join, amortized across queries."""
    import os

    from ai_etl_studio_spark.functions.exact import net_cents

    prefix, root = layout_ident(
        "bucketed_ok", sf_dir, ("lineitem", "orders"), (_LAYOUT_BUCKETS,),
        base_dir,
    )
    specs = {
        "li": (
            lambda: load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", net_cents().alias("net_cents")
            ),
            "l_orderkey",
            "l_orderkey BIGINT, net_cents BIGINT",
        ),
        "o": (
            lambda: load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus"
            ),
            "o_orderkey",
            "o_orderkey BIGINT, o_orderstatus STRING",
        ),
    }
    for part, (build, key, columns) in specs.items():
        build_once(
            spark,
            os.path.join(root, part),
            build,
            table=f"{prefix}_{part}",
            columns=columns,
            bucket=(_LAYOUT_BUCKETS, key),
        )
    return f"{prefix}_li", f"{prefix}_o"


@register(
    "bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100,
             0) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located fact-fact join: lineitem ⋈ orders on orderkey
    with BOTH sides bucketed by the join key — zero join-side shuffle
    (the only exchange in the plan is the final rollup's). The `merge`
    hint pins SMJ so the plan demonstrates bucketing rather than
    letting a small-SF broadcast hide it; at 100 TB SMJ-over-buckets is
    exactly the plan you want, and it is what the un-bucketed join
    degrades FROM (two full shuffles of fact data per query).

    Scale: the bucketed write costs one shuffle ONCE, then every
    orderkey join across the workload reads co-located buckets —
    the amortization SCALE.md's join notes promise, here as a pinned
    plan invariant (test_plans: SortMergeJoin present, exactly one
    hash exchange, bucketed scans).
    """
    li_tbl, o_tbl = ensure_bucketed_orderkey_tables(spark, sf_dir)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("net_cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


def ensure_month_partitioned_orders(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> str:
    """Build-once orders re-written hive-partitioned by order month
    (directory per o_month) and return the path — the layout that turns
    a month filter into directory pruning instead of a full scan."""
    import os

    _, root = layout_ident("opart_month", sf_dir, ("orders",), (), base_dir)
    path = os.path.join(root, "orders_by_month")
    build_once(
        spark,
        path,
        lambda: load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        ),
        partition_by="o_month",
    )
    return path


@register(
    "partition_pruned_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def partition_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One month's order rollup off the month-partitioned layout: the
    o_month filter becomes a PARTITION FILTER — Spark lists one
    directory and never opens the other ~83 months' files. At 100 TB
    this is the difference between scanning ~1.2% and 100% of the
    table; partition pruning happens at PLANNING time (no footer reads)
    where parquet min/max pushdown still opens every footer.

    Scale: the partitioned write costs one shuffle once
    (repartition by month keeps one file per partition dir); the
    partition column is LOW-cardinality by construction (~84 months) —
    partitioning by a fact-grain key would instead create millions of
    tiny files (the classic small-files failure; see
    shuffle_partition_advisor). Plan invariant pinned in test_plans:
    PartitionFilters carries o_month, PushedFilters stays empty.
    """
    path = ensure_month_partitioned_orders(spark, sf_dir)
    df = read_parquet(spark, path).filter(F.col("o_month") == "1995-03")
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


_Z_FILES = 32


def ensure_zorder_orders(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> str:
    """Build-once orders re-written Z-ORDER clustered on
    (o_custkey, o_orderdate): both coordinates min-max scale to 16
    bits, their bits interleave into one 32-bit Morton code, and the
    rows are range-partitioned + sorted by it into {_Z_FILES} files.
    Equal Z-prefixes are 2-D neighbors, so every file's parquet
    min/max footer covers a LOCALIZED rectangle in BOTH dimensions —
    a 2-D box predicate prunes most files where a 1-D sort layout
    prunes only its own dimension. This is the hand-rolled core of
    Delta/Iceberg OPTIMIZE ZORDER, on plain parquet.

    The scaling constants come from the data at write time; they shape
    only the LAYOUT — query results are layout-independent, which is
    why the oracle mirrors the box query, not the Morton math."""
    import os

    _, root = layout_ident(
        "zorder_cd", sf_dir, ("orders",), (_Z_FILES,), base_dir
    )
    path = os.path.join(root, "orders_zorder")

    def build():
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
            "o_totalprice",
        )
        b = o.agg(
            F.min("o_custkey").alias("c0"),
            F.max("o_custkey").alias("c1"),
            F.min(F.unix_date(F.col("o_orderdate").cast("date"))).alias("d0"),
            F.max(F.unix_date(F.col("o_orderdate").cast("date"))).alias("d1"),
        )
        w = o.crossJoin(F.broadcast(b))
        cs = (
            (F.col("o_custkey") - F.col("c0"))
            * 65535
            / F.greatest(F.col("c1") - F.col("c0"), F.lit(1))
        ).cast("bigint")
        ds = (
            (F.unix_date(F.col("o_orderdate").cast("date")) - F.col("d0"))
            * 65535
            / F.greatest(F.col("d1") - F.col("d0"), F.lit(1))
        ).cast("bigint")
        # Morton interleave of two 16-bit coords, unrolled in ONE JVM
        # expression (no UDF): odd bits carry custkey, even bits date
        zx, zy = cs, ds
        zval = F.lit(0).cast("bigint")
        for i in range(16):
            zval = (
                zval
                + F.shiftleft(
                    F.shiftrightunsigned(zx, i).bitwiseAND(F.lit(1)),
                    2 * i + 1,
                )
                + F.shiftleft(
                    F.shiftrightunsigned(zy, i).bitwiseAND(F.lit(1)), 2 * i
                )
            )
        return (
            w.withColumn("zval", zval)
            .repartitionByRange(_Z_FILES, "zval")
            .sortWithinPartitions("zval")
            .drop("zval", "c0", "c1", "d0", "d1")
        )

    build_once(spark, path, build)
    return path


@register(
    "zorder_boxed_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def zorder_boxed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 2-D box query (customer range × one year) over the Z-ORDER
    clustered orders layout. Both predicates push down to the scan and
    — because Morton clustering localizes files in BOTH dimensions —
    most files' footer min/max miss the box entirely: row-group
    skipping prunes on customer AND date where a single-column sort
    layout prunes only its own column. test_plans pins the pushdown;
    tests/test_round8_ops.py measures the file-level skip rate from
    the parquet footers directly (each dimension proven to exclude
    files on its own).

    Scale: clustering cost is one range-partitioned write, paid once;
    every 2-D slice afterwards reads O(box area + Z-curve fringe) of
    the table instead of min(dim slices). The rollup mirrors the
    partition_pruned_rollup exactness pattern (integer cents).
    """
    path = ensure_zorder_orders(spark, sf_dir)
    df = read_parquet(spark, path).filter(
        (F.col("o_custkey") >= 100)
        & (F.col("o_custkey") <= 199)
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


def ensure_month_dim(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> str:
    """Build-once tiny month dimension (m_month 'yyyy-MM', m_year,
    m_quarter — ~84 rows) persisted next to the month-partitioned
    orders layout, sharing its layout identity. The star-schema prop for
    dynamic partition pruning: the FACT carries no month literal, the
    DIM carries the human predicate (year/quarter), and the join key is
    the fact's partition column."""
    import os

    _, root = layout_ident("opart_month", sf_dir, ("orders",), (), base_dir)
    path = os.path.join(root, "month_dim")
    build_once(
        spark,
        path,
        lambda: load_table(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("m_month"))
        .distinct()
        .withColumn("m_year", F.substring("m_month", 1, 4).cast("int"))
        .withColumn(
            "m_quarter",
            ((F.substring("m_month", 6, 2).cast("int") - 1) / 3).cast("int")
            + F.lit(1),
        )
        .coalesce(1),
    )
    return path


@register(
    "dpp_quarter_star_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE strftime(o_orderdate, '%Y') = '1995'
      AND (CAST(strftime(o_orderdate, '%m') AS INT) - 1) // 3 + 1 = 2
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def dpp_quarter_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup where the month predicate lives ONLY on the
    tiny dim (m_year=1995, m_quarter=2) and reaches the fact scan at
    RUNTIME as a DynamicPruningExpression — the device that completes
    the storage-layout tier: bucketing removed the join shuffle,
    hive partitioning proved the planning-time prune with a literal,
    and this is the 100 TB star-join shape where no literal exists at
    planning time. Spark broadcasts the filtered dim, collects its
    distinct m_month values, and injects them into the fact's
    PartitionFilters before listing directories — the fact reads 3 of
    ~84 month partitions with zero month literal anywhere in the query.

    Scale: the dim is bounded (~84 rows — one per month; AQE broadcasts
    it), the fact-side exchange is the rollup's only shuffle, and the
    runtime prune is exactly how Delta/Iceberg star joins avoid reading
    the fact table: planning-time pruning can't help because the
    predicate is on the DIM's attributes, not the partition column.
    Plan invariant pinned in test_plans: the fact scan's
    PartitionFilters carries dynamicpruningexpression(o_month ...).
    """
    fact = read_parquet(spark, ensure_month_partitioned_orders(spark, sf_dir))
    dim = (
        read_parquet(spark, ensure_month_dim(spark, sf_dir))
        .filter((F.col("m_year") == 1995) & (F.col("m_quarter") == 2))
    )
    return (
        fact.join(dim, fact.o_month == dim.m_month)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


_BLOOM_CONFS = {
    # the application side must LOOK big enough (threshold is a minimum
    # scan size) and the creation side small enough (a maximum) for
    # InjectRuntimeFilter to fire; at sf0.1 we shrink the floor instead
    # of inflating the data. Forcing the shuffle join models the 100 TB
    # regime this device exists for: a dim too big to broadcast.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join shape the bloom runtime filter injects into —
    shared by the operator (which materializes it under the forced
    confs) and the plan test (which pins bloomfilter_might_contain on
    the fact side)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "bloom_runtime_filter_join",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def bloom_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim shuffle join where Spark injects a RUNTIME BLOOM
    FILTER: the selective dim predicate (URGENT orders) is aggregated
    into a bloom filter during planning of the creation side, and the
    fact side's scan gains a `bloomfilter_might_contain(l_orderkey)`
    filter — ~80% of lineitem rows drop BEFORE the shuffle instead of
    after the join. This is the third member of the runtime-prune
    family: DPP prunes PARTITIONS via the partition column
    (dpp_quarter_star_join), Z-ORDER/min-max prune FILES via sort
    layout, and the bloom filter prunes ROWS on an arbitrary join key —
    the only one of the three that works with no layout preparation at
    all.

    The op pins the regime the device exists for — a dim too big to
    broadcast — by disabling auto-broadcast and widening the bloom
    thresholds for ITS OWN execution only (confs are saved/restored;
    the result materializes eagerly under the forced plan, so the
    returned frame never re-optimizes under restored confs). At 100 TB
    the thresholds are met naturally and none of this forcing exists.

    Scale: the bloom build is one pass over the filtered dim keys
    (~20% of orders); the fact shuffle shrinks by the filter's
    selectivity; false positives only cost shuffled rows, never
    correctness (the exact join still runs)."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            conf.set(k, v)
        out = capture_stage(_bloom_join_frame(spark, sf_dir)).localCheckpoint()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    return out


# ---------------------------------------------------------------------------
# CBO column-statistics tier (r9 verdict item 2). The storage-layout
# tier decides WHERE bytes live (buckets, partitions, Z-ORDER); this
# tier decides what the OPTIMIZER knows about them. At 100 TB,
# stats-driven join ordering and stats-backed broadcast decisions are
# the difference between the right star-join tree and a wrong one AQE
# can only partially rescue — AQE re-plans per stage from observed
# shuffle sizes, but the initial join ORDER is fixed at logical
# optimization, and only CBO (cost-based join reorder over ANALYZE
# column statistics) can pick it.
# ---------------------------------------------------------------------------

_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}

#: columns worth ANALYZE-ing per table: join keys (cardinality for the
#: reorder DP), filter columns (NDV-based selectivity), agg inputs.
#: Collecting stats for every column of a 100 TB table is itself a
#: full-scan job — restrict to the columns the optimizer can act on.
_CBO_STATS_COLUMNS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_partkey", "l_suppkey", "l_extendedprice"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey", "p_type"),
}

#: corpus dir -> its {logical_name: catalog_name}, ANALYZE-d in this
#: application over sources with these fingerprints — stats live in the
#: session catalog, so one collection per app+corpus amortizes across
#: every CBO query (the 100 TB discipline: ANALYZE is a nightly
#: maintenance job, not a per-query cost).
_CBO_TABLES = SessionMemo()


def ensure_column_stats(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Register the corpus tables as external catalog tables (no data
    copy — ``CREATE TABLE … USING parquet LOCATION``) and run
    ``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`` once per
    (application, corpus). Returns {logical_name: catalog_name}.

    Catalog table names come from the layout identity
    (``layout_cache.layout_ident``, keyed on the source tables' file
    fingerprints) so a regenerated corpus gets fresh tables and
    fresh statistics rather than silently reusing stale NDVs — stale
    stats are WORSE than no stats, because the reorder confidently
    picks a wrong tree instead of keeping the written one. A repeat
    call in the same application over unchanged sources costs one
    fingerprint of the three source tables: the identity call (its
    manifest write and sibling sweep) runs only on a miss."""
    import os

    tables = tuple(sorted(_CBO_STATS_COLUMNS))

    def analyze() -> dict[str, str]:
        # the tables read the source files in place: only the name (and
        # the manifest beside an empty layout dir) comes from the call
        prefix, _ = layout_ident("cbo", sf_dir, tables)
        names = {t: f"{prefix}_{t}" for t in _CBO_STATS_COLUMNS}
        for t, cols in _CBO_STATS_COLUMNS.items():
            loc = os.path.join(sf_dir, f"{t}.parquet")
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {names[t]} "
                f"USING parquet LOCATION '{loc}'"
            )
            spark.sql(
                f"ANALYZE TABLE {names[t]} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(cols)}"
            )
        return names

    return _CBO_TABLES.fetch(
        spark,
        os.path.abspath(sf_dir),
        [os.path.join(sf_dir, f"{t}.parquet") for t in tables],
        analyze,
    )


def _cbo_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-relation join written in a DELIBERATELY suboptimal order —
    supplier (unselective, every line matches) before the filtered part
    dim (p_type keeps ~1/6 of lines). Rule-based optimization preserves
    the written order; CBO's join-reorder DP, fed the ANALYZE column
    stats (p_type NDV=6 → 1/6 filter selectivity, join-key NDVs →
    output cardinalities), flips it so the selective part join runs
    first and the supplier join sees ~1/6 of the rows. Shared by the
    operator (which materializes under the CBO confs) and the plan test
    (which pins BOTH trees: written order without stats/CBO, reordered
    tree with them)."""
    n = ensure_column_stats(spark, sf_dir)
    return spark.sql(f"""
        SELECT s_nationkey,
               CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS rev_cents,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM {n["lineitem"]}
        JOIN {n["supplier"]} ON l_suppkey = s_suppkey
        JOIN {n["part"]} ON l_partkey = p_partkey
        WHERE p_type = 'PROMO'
        GROUP BY s_nationkey
        ORDER BY s_nationkey
    """)


@register(
    "cbo_join_reorder_rollup",
    oracle="""
    SELECT s_nationkey,
           CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             AS BIGINT) AS rev_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
    GROUP BY s_nationkey ORDER BY s_nationkey
    """,
)
def cbo_join_reorder_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation for PROMO parts, written with the
    unselective supplier join FIRST — and executed under
    ``spark.sql.cbo.enabled`` + ``joinReorder.enabled`` over ANALYZE
    column statistics, which provably reorders the join tree so the
    filtered part dim joins the fact before supplier does (plan
    invariant pinned in test_plans both with and without stats; result
    oracle-identical either way, as reordering must be).

    Why this matters at 100 TB: a 5-way star join has 120 possible
    orders; the written order is whatever the query author (or the
    NL→SQL generator — reference app.py's LLM emits joins in prompt
    order, not cost order) happened to produce. Column stats give the
    optimizer real cardinalities (NDV, null count, min/max per column)
    at plan time; AQE sees sizes only AFTER each shuffle materializes,
    when the wrong early join has already paid its full cost.

    Confs are saved/restored around an eager localCheckpoint, the
    bloom-op discipline: the materialized result never re-optimizes
    under restored confs.

    Scale: ANALYZE is one column-pruned scan per table, amortized per
    (application, corpus) — the nightly-maintenance discipline; the
    reordered tree itself shrinks the intermediate by ~6x."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in _CBO_CONFS}
    try:
        for k, v in _CBO_CONFS.items():
            conf.set(k, v)
        out = capture_stage(_cbo_join_frame(spark, sf_dir)).localCheckpoint()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    return out


# ---------------------------------------------------------------------------
# Round-10: single-pass observed-metrics audit (CollectMetrics).
# ---------------------------------------------------------------------------


def _observed_rollup_frame(spark: SparkSession, sf_dir: str):
    """The observed rollup shape shared by the operator (which returns
    only the result frame) and the reconciliation test (which also
    needs the Observation handle to read the scan-side metrics after
    the action completes)."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("scan_audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("rows_scanned"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("scanned_total_cents"),
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
    )
    result = (
        observed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )
    return result, obs


@register(
    "observed_single_pass_audit",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def observed_single_pass_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority rollup whose input scan carries a ``CollectMetrics``
    node (``df.observe``): row count, exact-cents total, and date
    bounds of the SCANNED relation are collected DURING the same pass
    that feeds the aggregate — the production audit discipline for
    reconciliation ("did the sink total match what the scan saw?")
    without a second read.

    Why observe() and not accumulators or a second query: at 100 TB a
    second COUNT(*)/SUM pass costs a full re-read, and SparkContext
    accumulators double-count on task retries/speculation;
    CollectMetrics is tied to the query's completed tasks exactly once
    per action, so the numbers are audit-grade. The reconciliation
    invariant (metrics == the rollup's own grand totals, and == the
    DuckDB oracle's) is pinned in test_plans alongside the
    CollectMetrics plan-node invariant.

    Scale: the metric aggregates are commutative/associative partials
    merged on the driver — O(1) state per task, zero extra shuffle;
    the observed frame plans exactly like the unobserved one (same
    single exchange for the rollup).
    """
    result, _obs = _observed_rollup_frame(spark, sf_dir)
    return result


# ---------------------------------------------------------------------------
# Round-10: collation-aware comparison (Spark 4 COLLATE).
# ---------------------------------------------------------------------------


@register(
    "collation_ci_campaign_rollup",
    oracle="""
    WITH camp(campaign, seg_label) AS (VALUES
      ('spring', 'Building'), ('summer', 'AUTOMOBILE'),
      ('fall', 'machinery'), ('winter', 'HouseHold'),
      ('outlet', 'furniture'))
    SELECT campaign, seg_label,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM camp JOIN customer
      ON lower(seg_label) = lower(c_mktsegment)
    GROUP BY campaign, seg_label ORDER BY campaign
    """,
)
def collation_ci_campaign_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Campaign-to-segment rollup joined CASE-INSENSITIVELY via Spark 4
    collations: the campaign dim carries human-entered casing
    ('Building', 'HouseHold' — the reference-data reality wherever
    labels are typed, reconciled, or imported from a second system)
    while the warehouse column is uppercase, and the equality runs on
    ``F.collate(col, 'UTF8_LCASE')`` so the COMPARISON SEMANTICS live
    in the type, not in per-site ``lower()`` wrappers.

    Why this beats lower()-wrapping at 100 TB: with collation the rule
    is declared once and EVERY downstream comparison — joins, GROUP BY,
    DISTINCT, ORDER BY — is consistently case-insensitive (a missed
    ``lower()`` at one of fifty call sites is the classic silently-
    wrong-join bug); the ICU/UTF8_LCASE comparator runs JVM-side inside
    the join without materializing a second lowercased copy of the
    column. The oracle twins the semantics with DuckDB's lower()=lower()
    form — same matches, bit-identical rollup.

    Scale: the 5-row dim broadcasts; one exchange for the rollup. The
    collated key itself never leaves the join (outputs are plain
    UTF8_BINARY columns), so downstream consumers see ordinary strings.
    """
    c = load_table(spark, sf_dir, "customer")
    camp = spark.createDataFrame(
        [
            ("spring", "Building"),
            ("summer", "AUTOMOBILE"),
            ("fall", "machinery"),
            ("winter", "HouseHold"),
            ("outlet", "furniture"),
        ],
        "campaign string, seg_label string",
    )
    return (
        F.broadcast(camp)
        .join(
            c,
            F.collate(F.col("seg_label"), "UTF8_LCASE")
            == F.collate(F.col("c_mktsegment"), "UTF8_LCASE"),
        )
        .groupBy("campaign", "seg_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("acctbal_cents"),
        )
        .orderBy("campaign")
    )


# ---------------------------------------------------------------------------
# Round-11: catalog SQL UDFs (CREATE FUNCTION — Spark 4 SQL scalar +
# table functions). The reference's prompt spec (prompts.py:66-68)
# forces aggregate-precompute rewrites the LLM must re-derive per
# query; a catalog function expresses the shared device ONCE and every
# query reuses it. Unlike Python UDFs, SQL UDFs are INLINED by the
# analyzer into the caller's plan — the A&S tail below compiles into
# the same WholeStageCodegen projection the hand-planted expression
# text did (pinned in test_round11_ops: the plan shows the expanded
# arithmetic, no black-box eval node). The DuckDB twin is a MACRO /
# TABLE MACRO, so both engines resolve the same named abstraction to
# the same fixed-order expression.
# ---------------------------------------------------------------------------

#: Abramowitz-Stegun 7.1.26 two-sided normal tail in integer nano,
#: as a catalog scalar function (shared with drift.py's hand-inlined
#: _PHI_TAIL text — same constants, same order).
_PHI_FN_BODY = (
    "CAST(round(2 * (exp(-az * az / 2) / sqrt(2 * pi())"
    " * (0.319381530e0 * (1 / (1 + 0.2316419e0 * az))"
    "  - 0.356563782e0 * pow(1 / (1 + 0.2316419e0 * az), 2)"
    "  + 1.781477937e0 * pow(1 / (1 + 0.2316419e0 * az), 3)"
    "  - 1.821255978e0 * pow(1 / (1 + 0.2316419e0 * az), 4)"
    "  + 1.330274429e0 * pow(1 / (1 + 0.2316419e0 * az), 5)))"
    " * 1000000000, 0) AS BIGINT)"
)

#: shared query text (identical in Spark and DuckDB): per-nation
#: URGENT-share two-sided z p-value through the catalog function, with
#: the Bonferroni family-wise adjustment.
_PHI_UDF_QUERY = """
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
      SELECT nk, n, u, phi2_tail_nano(az) AS p_nano,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM z)
    SELECT nk AS nationkey, n AS n_orders, u AS n_urgent, p_nano,
           CAST(LEAST(p_nano * m, 1000000000) AS BIGINT) AS p_bonf_nano,
           CAST(CASE WHEN p_nano * m <= 50000000 THEN 1 ELSE 0 END
             AS BIGINT) AS significant
    FROM p ORDER BY nationkey
"""


@register(
    "sql_udf_phi_screening",
    oracle=f"""
    CREATE OR REPLACE MACRO phi2_tail_nano(az) AS {_PHI_FN_BODY};
    {_PHI_UDF_QUERY}
    """,
)
def sql_udf_phi_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation URGENT-share z-test with Bonferroni FWER control,
    computed through a CATALOG SCALAR SQL FUNCTION: ``CREATE FUNCTION
    phi2_tail_nano(az) RETURNS BIGINT RETURN <A&S 7.1.26>`` registered
    once per session, then invoked by name — the reusable-abstraction
    twin of the fdr/holm ops' hand-interpolated ``_PHI_TAIL`` string
    (reference contrast: prompts.py:66-68 forces the LLM to re-derive
    precomputed aggregates per query because the app has no place to
    PUT a shared definition; a session catalog does). The DuckDB twin
    registers the same body as a MACRO, so both engines execute one
    named fixed-order expression — values bit-identical.

    Scale: SQL UDFs inline at analysis time — the plan is byte-for-
    byte the plan of the textual version (WholeStageCodegen through
    the tail polynomial, zero serialization seam; pinned in
    test_round11_ops), so the abstraction is free at 100 TB, unlike a
    Python UDF whose batch boundary would cost Arrow transfer per row
    batch.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders", "customer"))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION phi2_tail_nano(az DOUBLE) "
        f"RETURNS BIGINT RETURN {_PHI_FN_BODY}"
    )
    return spark.sql(_PHI_UDF_QUERY)


#: Cramer's-rule quadratic least-squares solve as a catalog TABLE
#: function over the sufficient sums (same determinant texts as
#: insights.py's bass_diffusion_fit device).
_QUAD_D = (
    "(n*(sx2*sx4 - sx3*sx3) - sx1*(sx1*sx4 - sx3*sx2)"
    " + sx2*(sx1*sx3 - sx2*sx2))"
)
_QUAD_DA = (
    "(sy*(sx2*sx4 - sx3*sx3) - sx1*(sxy*sx4 - sx3*sx2y)"
    " + sx2*(sxy*sx3 - sx2*sx2y))"
)
_QUAD_DB = (
    "(n*(sxy*sx4 - sx3*sx2y) - sy*(sx1*sx4 - sx3*sx2)"
    " + sx2*(sx1*sx2y - sxy*sx2))"
)
_QUAD_DC = (
    "(n*(sx2*sx2y - sxy*sx3) - sx1*(sx1*sx2y - sxy*sx2)"
    " + sy*(sx1*sx3 - sx2*sx2))"
)

_QUAD_FN_COLS = (
    f"CAST(round(({_QUAD_DA}) / ({_QUAD_D}) * 1000000, 0) AS BIGINT)"
    " AS a_micro, "
    f"CAST(round(({_QUAD_DB}) / ({_QUAD_D}) * 1000000, 0) AS BIGINT)"
    " AS b_micro, "
    f"CAST(round(({_QUAD_DC}) / ({_QUAD_D}) * 1000000, 0) AS BIGINT)"
    " AS c_micro"
)

#: shared query text: monthly revenue (exact cents) vs 0-based month
#: index, sufficient sums reduced exactly (DECIMAL(38,0) per-term for
#: the y-weighted powers), then ONE correlated-lateral call into the
#: table function.
_QUAD_UDF_QUERY = """
    WITH m AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
               + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
             CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS y
      FROM orders GROUP BY 1),
    xy AS (
      SELECT CAST(mi - MIN(mi) OVER () AS BIGINT) AS x, y FROM m),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx1,
             CAST(SUM(x * x) AS DOUBLE) AS sx2,
             CAST(SUM(x * x * x) AS DOUBLE) AS sx3,
             CAST(SUM(x * x * x * x) AS DOUBLE) AS sx4,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,0)) * y) AS DOUBLE)
               AS sx2y,
             CAST(COUNT(*) AS BIGINT) AS n_months
      FROM xy)
    SELECT s.n_months, f.a_micro, f.b_micro, f.c_micro
    FROM s, LATERAL quad_fit_micro(s.n, s.sx1, s.sx2, s.sx3, s.sx4,
                                   s.sy, s.sxy, s.sx2y) f
"""


@register(
    "sql_udf_quad_trend_fit",
    oracle=f"""
    CREATE OR REPLACE MACRO quad_fit_micro(n, sx1, sx2, sx3, sx4, sy,
      sxy, sx2y) AS TABLE SELECT {_QUAD_FN_COLS};
    {_QUAD_UDF_QUERY}
    """,
)
def sql_udf_quad_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic least-squares trend of monthly revenue (micro-quantized
    a + b·x + c·x² coefficients over the 0-based month index), solved
    by Cramer's rule inside a CATALOG SQL TABLE FUNCTION — ``CREATE
    FUNCTION quad_fit_micro(...) RETURNS TABLE (a_micro, b_micro,
    c_micro)`` — invoked once via correlated LATERAL over the 1-row
    sufficient-statistics aggregate. The table-function shape is the
    second half of the Spark-4 SQL-UDF axis (the scalar half is
    sql_udf_phi_screening): a multi-column derivation with one shared
    definition, where the scalar form would need three near-identical
    functions re-evaluating the common determinant. DuckDB twin: the
    same body as a TABLE MACRO.

    Exactness: x ≤ |months| so the x-power sums are exact BIGINTs; the
    y-weighted sums reduce per-term in DECIMAL(38,0); every sum is
    CAST to DOUBLE once and the determinant texts evaluate in the same
    fixed order in both engines (the bass_diffusion_fit device, now
    catalog-resident).

    Scale: one pass to the |months| grain, a 1-row sufficient-stats
    reduce, and a driver-free lateral join against a 1-row function
    result — the fit costs O(|orders|) scan regardless of coefficient
    count; the function inlines, so no per-row evaluation seam exists.
    """
    from ai_etl_studio_spark.catalog import register_tables

    register_tables(spark, sf_dir, ("orders",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION quad_fit_micro("
        "n DOUBLE, sx1 DOUBLE, sx2 DOUBLE, sx3 DOUBLE, sx4 DOUBLE, "
        "sy DOUBLE, sxy DOUBLE, sx2y DOUBLE) "
        "RETURNS TABLE (a_micro BIGINT, b_micro BIGINT, c_micro BIGINT) "
        f"RETURN SELECT {_QUAD_FN_COLS}"
    )
    return spark.sql(_QUAD_UDF_QUERY)
