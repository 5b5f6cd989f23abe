"""The query lifecycle: sanitize -> validate -> fetch once -> present.

This is the reference's end-to-end path (app.py:242-302 ->
db_utils.py:158-182) with Catalyst replacing the remote RDBMS:

    NL text --(sqlgen.generator)--> raw LLM text
    raw text --(sqlgen.sanitize A6-A10)--> single read-only SELECT
    sql --(plans.guard)--> parsed-plan read-only check
    sql --spark.sql--> plan --duplicate-name rename (A12)--> plan
    plan --bounded fetch (A9: .limit(default_limit), one job)--> rows
    rows --> local relation (the answer; display and CSV read it)

The fetch is the one execution per answer, as the reference's single
``pandas.read_sql`` (db_utils.py:165): the returned frame is a
``LocalRelation`` of at most ``default_limit`` rows, so collecting it,
showing it or exporting it (``writers.to_csv_bytes``) starts no further
Spark job, needs no Python worker and never re-runs the plan. It holds
one answer's own rows and is never shared between queries.

Errors never raise out of ``run_query``: parse, analysis and execution
errors (ANSI ``DIVIDE_BY_ZERO``, ``CAST_INVALID_INPUT``, ...) alike
surface as the 1×1 error relation, exactly like the reference
(app.py:244,268; db_utils.py:180-182). The error relation is a
``LocalRelation`` too, so a refusal's display and CSV start no Spark
job and no Python worker either.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ai_etl_studio_spark.plans.guard import is_read_only_plan
from ai_etl_studio_spark.plans.snapshot import capture_stage
from ai_etl_studio_spark.sqlgen.sanitize import (
    RESULT_LIMIT,
    has_limit,
    is_read_only,
    sanitize,
)

DEFAULT_LIMIT = RESULT_LIMIT


def error_relation(spark: SparkSession, message: str) -> DataFrame:
    """`SELECT '<msg>' AS error_message LIMIT 100` (app.py:244,268).

    Inline ``VALUES`` with the message bound as a parameter, so any text
    (quotes, newlines, ``:name`` markers) is one literal and the plan
    optimizes to a JVM-side ``LocalRelation``: collecting it or exporting
    it as CSV starts no Spark job and needs no Python worker."""
    return spark.sql(
        f"SELECT * FROM VALUES (:m) AS t(error_message) LIMIT {DEFAULT_LIMIT}",
        args={"m": str(message)},
    )


def dedupe_column_names(df: DataFrame) -> DataFrame:
    """Suffix duplicate output names `_1, _2, …` (db_utils.py:168-177).

    Spark tolerates duplicate names until you select by name, so this is
    a presentation-edge fix, not an engine invariant.
    """
    seen: dict[str, int] = {}
    new_names: list[str] = []
    for name in df.columns:
        if name in seen:
            seen[name] += 1
            new_names.append(f"{name}_{seen[name]}")
        else:
            seen[name] = 0
            new_names.append(name)
    return df.toDF(*new_names) if new_names != df.columns else df


@dataclass
class QueryResult:
    df: DataFrame | None
    sql: str
    ok: bool
    error: str | None = None

    def presentation(self, spark: SparkSession) -> DataFrame:
        if self.ok and self.df is not None:
            return self.df
        return error_relation(spark, self.error or "unknown error")


def run_query(
    spark: SparkSession,
    raw_text: str,
    default_limit: int = DEFAULT_LIMIT,
    sanitize_input: bool = True,
) -> QueryResult:
    """Execute one (possibly LLM-emitted) SELECT against the Spark catalog.

    Mirrors the reference's run path but in-process: the RDBMS round-trip
    (db_utils.py:160-165) becomes ``spark.sql`` plus one bounded fetch.
    ``sanitize`` appends a LIMIT to SQL text without one, and the fetch
    cuts the plan to ``default_limit`` rows whatever the text says (a
    LIMIT inside a subquery or a string literal satisfies the textual
    check), so the driver holds at most ``default_limit`` rows.
    ``QueryResult.df`` is those rows as a local relation (see ``fetch``).
    """
    if sanitize_input:
        s = sanitize(raw_text, default_limit)
        if not s.ok:
            return QueryResult(None, s.sql, False, s.error)
        sql = s.sql
    else:
        sql = raw_text

    try:
        if not is_read_only_plan(spark, sql):
            return QueryResult(None, sql, False, "only SELECT queries are allowed")
        df = fetch(spark, dedupe_column_names(spark.sql(sql)), default_limit)
    except Exception as exc:  # parse, analysis or execution error -> error relation
        return QueryResult(None, sql, False, f"{type(exc).__name__}: {exc}")

    return QueryResult(df, sql, True, None)


def fetch(spark: SparkSession, df: DataFrame, limit: int) -> DataFrame:
    """Run ``df`` cut to ``limit`` rows once, in the JVM, and return the
    rows as a driver-local relation (``LocalRelation``) with ``df``'s
    schema. Rows stay JVM objects end to end, so types round-trip
    exactly; an execution error raises here, inside the caller's
    ``try``, not at a later action."""
    jdf = capture_stage(df.limit(limit))._jdf
    local = spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
    return DataFrame(local, spark)


def run_parameterized(
    spark: SparkSession,
    sql: str,
    args: dict[str, object],
    default_limit: int = DEFAULT_LIMIT,
) -> QueryResult:
    """Execute a NAMED-PARAMETER SELECT template (``:name`` markers)
    with values bound through Spark's parameterized-SQL surface —
    ``spark.sql(sql, args=...)`` — instead of string interpolation.

    Why this exists beside ``run_query``: the reference interpolates
    every user-supplied value into the SQL string (db_utils.py:160 —
    the LLM output IS the statement), so its only injection defense is
    the GRANT wall. Parameter binding is the stronger contract: the
    template is parsed FIRST and values enter the analyzed plan as
    typed literals, so a value can never alter statement structure —
    ``{"seg": "BUILDING' OR '1'='1"}`` compares against that exact
    19-character string and matches nothing (pinned in test_engine).

    At 100 TB this is also the repeated-dashboard discipline: one
    audited template + per-run bindings, rather than N textually
    distinct statements to re-vet. The read-only plan guard runs on the
    TEMPLATE (parameter markers parse without values), so a DDL/DML
    template is rejected before any binding happens.

    Unlike ``run_query`` the result stays lazy (builders compose it
    into larger plans, and its parquet pushdown is pinned in
    test_plans), so only analysis-time errors (parse, unbound or
    mistyped parameters, unknown columns) become the error relation
    here. An execution-time error (ANSI ``DIVIDE_BY_ZERO``, a bad cast)
    surfaces at the caller's first action.
    """
    try:
        # guard the RAW template first (a DDL template must be rejected
        # as such, not as a parse error on the appended LIMIT), then
        # bound the vetted SELECT. The textual gate must run HERE: the
        # plan guard's fail-open fallback documents the assumption that
        # the textual check already ran, and this path (unlike
        # run_query's sanitize()) would otherwise skip it.
        if not is_read_only(sql):
            return QueryResult(None, sql, False, "only SELECT queries are allowed")
        if not is_read_only_plan(spark, sql):
            return QueryResult(None, sql, False, "only SELECT queries are allowed")
        if not has_limit(sql):
            sql = f"{sql.rstrip()} LIMIT {int(default_limit)}"
        df = spark.sql(sql, args=args)
        # force analysis so binding/type errors surface here, not at the action
        df.schema
    except Exception as exc:  # Parse/AnalysisException -> error relation
        return QueryResult(None, sql, False, f"{type(exc).__name__}: {exc}")
    return QueryResult(dedupe_column_names(df), sql, True, None)


def observed_result(
    df: DataFrame, name: str = "qa", max_columns: int = 12
):
    """Attach single-pass data-quality metrics to a result DataFrame.

    Returns ``(instrumented_df, observation)``: after ANY action on the
    returned frame, ``observation.get`` yields ``row_count`` plus a
    non-null count per (first ``max_columns``) output column — the
    pipeline QA counters (rows emitted, null-rate per column) that the
    reference surfaces as a driver-side badge AFTER materializing to
    pandas (app.py:296-299, `len(df)`).

    Scale: `observe` compiles to an accumulator-backed CollectMetrics
    node — metrics ride the SAME job that produces the result, adding
    zero extra passes and zero shuffles, where a naive
    `df.count()` + per-column `filter(isNull).count()` QA sweep would
    re-execute the whole plan once per metric at 100 TB.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ob = Observation(name)
    metrics = [F.count(F.lit(1)).alias("row_count")] + [
        F.count(F.col(f"`{c}`")).alias(f"nonnull_{c}")
        for c in df.columns[:max_columns]
    ]
    return df.observe(ob, *metrics), ob
