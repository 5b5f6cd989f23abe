"""Engine lifecycle tests: run_query end-to-end against the Spark catalog
(the reference's app.py:288-302 path with Catalyst as the engine)."""

from __future__ import annotations

import pytest

from ai_etl_studio_spark.catalog import register_tables
from ai_etl_studio_spark.engine import DEFAULT_LIMIT, dedupe_column_names, run_query
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _tables(spark):
    register_tables(spark, SF_DIR)


class TestRunQuery:
    def test_fenced_llm_output_executes(self, spark):
        r = run_query(
            spark,
            "Sure!\n```sql\nSELECT c_mktsegment, count(*) AS n FROM customer "
            "GROUP BY c_mktsegment ORDER BY n DESC;\n```\nEnjoy.",
        )
        assert r.ok
        assert r.sql.endswith("LIMIT 100")
        assert r.df.count() == 5

    def test_prose_leak_sliced(self, spark):
        r = run_query(
            spark, "We should SELECT c_name FROM customer ORDER BY c_acctbal DESC LIMIT 5"
        )
        assert r.ok and r.df.count() == 5

    def test_drop_rejected_and_table_intact(self, spark):
        r = run_query(spark, "```sql\nDROP TABLE customer;\n```")
        assert not r.ok
        assert spark.table("customer").count() > 0

    def test_stacked_statements_neutralized(self, spark):
        r = run_query(spark, "SELECT 1 AS x; DROP TABLE customer")
        assert not r.ok  # semicolon strip makes it a parse error, not a DROP
        assert spark.table("customer").count() > 0

    def test_create_sliced_to_inner_select(self, spark):
        # the A8 slice extracts the inner SELECT — CTAS never reaches the
        # engine; nothing is created
        r = run_query(spark, "CREATE TABLE pwned AS SELECT 1 AS x")
        assert r.ok and r.sql.startswith("SELECT 1")
        assert "pwned" not in [t.name for t in spark.catalog.listTables()]

    def test_plan_guard_rejects_command_without_sanitizer(self, spark):
        # bypass the textual pipeline: the parsed-plan gate must still
        # reject Command nodes before spark.sql executes them
        r = run_query(spark, "CREATE TABLE pwned AS SELECT 1 AS x", sanitize_input=False)
        assert not r.ok
        assert "pwned" not in [t.name for t in spark.catalog.listTables()]

    def test_error_relation_presentation(self, spark):
        r = run_query(spark, "complete gibberish")
        out = r.presentation(spark)
        assert out.columns == ["error_message"]
        assert out.count() == 1

    def test_analysis_error_to_error_relation(self, spark):
        r = run_query(spark, "SELECT not_a_column FROM customer")
        assert not r.ok and "AnalysisException" in r.error

    def test_limit_not_double_injected(self, spark):
        r = run_query(spark, "SELECT c_custkey FROM customer LIMIT 7")
        assert r.ok and r.df.count() == 7
        assert r.sql.count("LIMIT") == 1


#: one question for each TemplateGenerator rule, in rule order
TEMPLATE_QUESTIONS = (
    "top 10 products by revenue",
    "revenue per nation",
    "top 3 customers per nation",
    "orders count per priority",
    "customers in segment BUILDING",
    "find duplicate documents",
    "top 7 tokens",
    "documents per language",
    "show retention by first-order month",
    "show me the conversion funnel",
    "documents per shard",
    "which boilerplate lines repeat across documents",
    "show the a/b test result",
    "check referential integrity",
    "show event transitions",
    "classify demand by part type",
    "how bursty are the events?",
)


class TestOneExecution:
    """run_query fetches the bounded answer once; the returned frame is
    those rows, so display and export never re-run the plan, and an
    execution-time error is the error relation like a parse error."""

    @pytest.mark.parametrize(
        "sql, error_class",
        [
            ("SELECT 1/0", "DIVIDE_BY_ZERO"),
            ("SELECT CAST('abc' AS INT)", "CAST_INVALID_INPUT"),
        ],
    )
    def test_runtime_error_is_error_relation(self, spark, sql, error_class):
        r = run_query(spark, sql)
        assert not r.ok and r.df is None
        assert error_class in r.error
        out = r.presentation(spark)
        assert out.columns == ["error_message"]
        rows = out.collect()
        assert len(rows) == 1 and error_class in rows[0].error_message

    def test_limit_word_in_literal_still_bounds_the_answer(self, spark):
        # the textual LIMIT check sees 'no limit' and injects nothing;
        # the fetch cuts the plan anyway
        r = run_query(spark, "SELECT l_orderkey, 'no limit' AS note FROM lineitem")
        assert r.ok and r.sql.count("LIMIT") == 0
        assert spark.table("lineitem").count() > DEFAULT_LIMIT
        assert len(r.df.collect()) == DEFAULT_LIMIT

    def test_answer_is_local_rows(self, spark):
        from tests.test_catalog import _jobs_in

        r = run_query(spark, "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey")
        assert r.ok
        rows = []
        assert _jobs_in(spark, lambda: rows.extend(r.df.collect())) == 0
        assert len(rows) == DEFAULT_LIMIT
        plan = r.df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "parquet" not in plan.lower()

    def test_csv_of_answer_equals_csv_of_plan(self, spark):
        """Every template's answer is local rows, and its CSV is
        byte-identical to the CSV of its lazy plan under the old
        ``toPandas`` definition: the round trip through the local
        relation keeps every type and value, and the export starts no
        job."""
        import re

        from ai_etl_studio_spark.sources.writers import to_csv_bytes
        from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator
        from tests.test_catalog import _jobs_in

        rules = [p for p, _ in TemplateGenerator._RULES]
        hit = {
            next(i for i, p in enumerate(rules) if re.search(p, q.lower()))
            for q in TEMPLATE_QUESTIONS
        }
        assert hit == set(range(len(rules)))  # one question per template
        g = TemplateGenerator()
        for q in TEMPLATE_QUESTIONS:
            r = run_query(spark, g.generate(q))
            assert r.ok, (q, r.error)
            assert "LocalTableScan" in r.df._jdf.queryExecution().executedPlan().toString(), q
            lazy = dedupe_column_names(spark.sql(r.sql))
            csv = []
            assert _jobs_in(spark, lambda: csv.append(to_csv_bytes(r.df))) == 0, q
            assert csv[0] == old_csv_bytes(lazy) == to_csv_bytes(lazy), q


def old_csv_bytes(df, limit: int = DEFAULT_LIMIT) -> bytes:
    """The CSV export as ``toPandas`` defines it (one Arrow job)."""
    return df.limit(limit).toPandas().to_csv(index=False).encode("utf-8")


#: one refusal of each kind: (raw text, sanitize_input)
REFUSALS = {
    "sanitize": ("DROP TABLE lineitem", True),
    "plan_guard": ("CREATE TABLE pwned AS SELECT 1 AS x", False),
    "analysis": ("SELECT not_a_column FROM customer", True),
    "ansi_runtime": ("SELECT 1/0", True),
}

#: an error text that is hostile to SQL text, parameter markers,
#: variable substitution, CSV quoting and encodings
HOSTILE_MESSAGE = "it's \"quoted\"\nnext line :m ? ${x} -- not a comment, héllo ✓ 漢字"


class TestJobFreeDelivery:
    """A refusal is the error relation, a LocalRelation like a fetched
    answer: display and CSV export start no Spark job."""

    @pytest.mark.parametrize("kind", sorted(REFUSALS))
    def test_refusal_starts_no_job(self, spark, kind):
        from ai_etl_studio_spark.sources.writers import to_csv_bytes
        from tests.test_catalog import _jobs_in

        raw, sanitize_input = REFUSALS[kind]
        r = run_query(spark, raw, sanitize_input=sanitize_input)
        assert not r.ok and r.df is None, kind
        out = r.presentation(spark)
        assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
        rows, csv = [], []
        assert _jobs_in(spark, lambda: rows.extend(out.collect())) == 0
        assert _jobs_in(spark, lambda: csv.append(to_csv_bytes(out))) == 0
        assert [row.error_message for row in rows] == [r.error]
        assert csv[0] == old_csv_bytes(out)

    def test_message_round_trips_byte_exact(self, spark):
        import pandas as pd

        from ai_etl_studio_spark.engine import QueryResult, error_relation
        from ai_etl_studio_spark.sources.writers import to_csv_bytes
        from tests.test_catalog import _jobs_in

        want_csv = pd.DataFrame({"error_message": [HOSTILE_MESSAGE]}).to_csv(index=False)
        for out in (
            error_relation(spark, HOSTILE_MESSAGE),
            QueryResult(None, "", False, HOSTILE_MESSAGE).presentation(spark),
        ):
            rows, csv = [], []
            assert _jobs_in(spark, lambda: rows.extend(out.collect())) == 0
            assert _jobs_in(spark, lambda: csv.append(to_csv_bytes(out))) == 0
            assert [tuple(row) for row in rows] == [(HOSTILE_MESSAGE,)]
            assert csv[0] == want_csv.encode("utf-8")


#: an 18-type matrix over every value kind an answer can hold
CSV_CASES = {
    "nullable_int": "SELECT * FROM VALUES (1), (CAST(NULL AS INT)), (3) AS t(x)",
    "bigint_bool": "SELECT id AS k, id % 2 = 0 AS even FROM range(5)",
    "small_ints": "SELECT CAST(1 AS TINYINT) AS b, CAST(NULL AS SMALLINT) AS s",
    "decimal": "SELECT CAST(x AS DECIMAL(18,4)) AS d"
    " FROM VALUES (1.5), (NULL), (-12345.6789) AS t(x)",
    "float": "SELECT CAST(x AS DOUBLE) AS f, CAST(x AS FLOAT) AS r"
    " FROM VALUES (0.1), (1e300), (-2.5), (NULL) AS t(x)",
    "nan_inf": "SELECT * FROM VALUES (CAST('NaN' AS DOUBLE)),"
    " (CAST('Infinity' AS DOUBLE)), (CAST('-Infinity' AS DOUBLE)) AS t(x)",
    "date": "SELECT * FROM VALUES (DATE'2024-02-29'), (DATE'1900-01-01'), (NULL) AS t(d)",
    "timestamp": "SELECT * FROM VALUES (TIMESTAMP'2024-03-10 02:30:00'),"
    " (TIMESTAMP'2024-11-03 01:30:00.123456'), (TIMESTAMP'1969-12-31 23:59:59'),"
    " (NULL) AS t(ts)",
    "timestamp_ntz": "SELECT * FROM VALUES (TIMESTAMP_NTZ'2024-03-10 02:30:00'),"
    " (TIMESTAMP_NTZ'2024-11-03 01:30:00.5'), (NULL) AS t(ts)",
    "array": "SELECT * FROM VALUES (array(1, 2, 3)), (array()), (NULL), (array(1, NULL)) AS t(a)",
    "map": "SELECT * FROM VALUES (map('a', 1, 'b', 2)), (NULL), (map()) AS t(m)",
    "struct": "SELECT named_struct('a', 1, 'b', 'x', 'c', TIMESTAMP'2024-01-01 12:00:00') AS s"
    " UNION ALL SELECT NULL",
    "nested": "SELECT array(named_struct('k', 1, 'v', 1.5D), named_struct('k', 2, 'v', NULL)) AS a,"
    " array(TIMESTAMP'2024-01-01 00:00:00', NULL) AS ts",
    "binary": "SELECT * FROM VALUES (X'00FF10'), (CAST('héllo' AS BINARY)), (NULL) AS t(b)",
    "interval": "SELECT * FROM VALUES (INTERVAL '1 02:03:04.5' DAY TO SECOND), (NULL) AS t(i)",
    "empty": "SELECT id, CAST(id AS STRING) AS s FROM range(0)",
    "duplicate_names": "SELECT 1 AS a, 'x' AS a, 2.5D AS a",
    "text": "SELECT * FROM VALUES ('it''s \"q\"'), ('line1\nline2'), ('héllo ✓ 漢字'),"
    " (''), (NULL), ('a,b') AS t(s)",
}


def csv_mismatches(spark) -> list[str]:
    """Matrix cases whose CSV from the fetched answer differs from the
    ``toPandas`` CSV of the lazy plan, or whose export starts a job."""
    from ai_etl_studio_spark.engine import fetch
    from ai_etl_studio_spark.sources.writers import to_csv_bytes
    from tests.test_catalog import _jobs_in

    bad = []
    for name, sql in CSV_CASES.items():
        lazy = spark.sql(sql)
        local = fetch(spark, lazy, DEFAULT_LIMIT)
        csv = []
        if _jobs_in(spark, lambda: csv.append(to_csv_bytes(local))) != 0:
            bad.append(f"{name}: started a job")
        elif csv[0] != old_csv_bytes(lazy):
            bad.append(f"{name}: {csv[0]!r} != {old_csv_bytes(lazy)!r}")
    return bad


def test_csv_matches_topandas_over_type_matrix(spark):
    assert csv_mismatches(spark) == []


_TZ_MATRIX = """
import json, sys
sys.path[:0] = [{repo!r}]
from ai_etl_studio_spark.session import get_spark
from tests.test_engine import csv_mismatches

spark = get_spark(app_name="csv-tz")
bad = []
for tz in ("UTC", "Asia/Kathmandu"):
    spark.conf.set("spark.sql.session.timeZone", tz)
    bad += [f"{{tz}} {{b}}" for b in csv_mismatches(spark)]
spark.stop()
print(json.dumps(bad))
"""


def test_csv_matches_topandas_in_non_utc_process():
    """The same matrix with the Python process (and its JVM) in a
    DST-observing zone, under a UTC and a non-UTC session zone:
    ``collect()`` hands back local-time datetimes, so this is where a
    time-zone slip in the conversion would show."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    env = dict(
        os.environ,
        TZ="America/New_York",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _TZ_MATRIX.format(repo=str(repo))],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []


def test_repl_survives_runtime_error_and_explains_the_plan(spark, monkeypatch, capsys):
    """A runtime error in one answer is shown as the error relation and
    the REPL goes on; \\explain plans the last SQL, not its rows."""
    import builtins

    from ai_etl_studio_spark import __main__ as cli
    from ai_etl_studio_spark import session

    lines = iter(["\\sql SELECT 1/0", "revenue per nation", "\\explain", "\\q"])
    monkeypatch.setattr(builtins, "input", lambda prompt="": next(lines))
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    assert cli.main(["--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "error_message" in out and "DIVIDE_BY_ZERO" in out
    explain = out[out.index("== Physical Plan =="):]
    assert "Scan parquet" in explain and "LocalTableScan" not in explain


class TestDedupeColumns:
    def test_rename_suffixes(self, spark):
        df = spark.sql("SELECT 1 AS a, 2 AS a, 3 AS a, 4 AS b")
        out = dedupe_column_names(df)
        assert out.columns == ["a", "a_1", "a_2", "b"]

    def test_noop_when_unique(self, spark):
        df = spark.sql("SELECT 1 AS a, 2 AS b")
        assert dedupe_column_names(df).columns == ["a", "b"]

    def test_idempotent(self, spark):
        df = spark.sql("SELECT 1 AS a, 2 AS a")
        once = dedupe_column_names(df)
        assert dedupe_column_names(once).columns == once.columns


class TestGenerator:
    def test_template_topn_products_end_to_end(self, spark):
        from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator, generate_and_run

        r = generate_and_run(spark, TemplateGenerator(), "show me the top 10 products by sales")
        assert r.ok
        rows = r.df.collect()
        assert len(rows) == 10
        assert rows[0].revenue >= rows[-1].revenue

    def test_template_topn_per_nation_uses_window(self, spark):
        from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator, generate_and_run

        r = generate_and_run(spark, TemplateGenerator(), "top 3 customers per nation")
        assert r.ok
        df = r.df
        assert "rn" in df.columns
        assert df.groupBy("n_name").count().agg({"count": "max"}).collect()[0][0] <= 3

    def test_no_template_is_error_relation(self, spark):
        from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator, generate_and_run

        r = generate_and_run(spark, TemplateGenerator(), "what is the meaning of life")
        assert not r.ok
        assert r.presentation(spark).columns == ["error_message"]

    def test_llm_adapter_pipes_through_sanitizer(self, spark):
        from ai_etl_studio_spark.sqlgen.generator import LLMGenerator, generate_and_run

        def fake_llm(system_prompt: str, question: str) -> str:
            assert "Spark SQL" in system_prompt
            return "Here you go:\n```sql\nSELECT count(*) AS n FROM orders;\n```"

        gen = LLMGenerator(complete=fake_llm, schema_desc="TABLE orders (...)")
        r = generate_and_run(spark, gen, "how many orders?")
        assert r.ok and r.df.collect()[0].n > 0


class TestCatalogPromptRender:
    def test_schema_snapshot_and_render(self, spark):
        from ai_etl_studio_spark.catalog import render_schema_for_prompt, schema_snapshot

        snap = schema_snapshot(spark, ("customer", "orders"))
        assert snap["customer"][0] == ("c_custkey", "bigint")
        text = render_schema_for_prompt(snap)
        assert 'TABLE "customer" (columns: c_custkey bigint' in text


class TestSinks:
    def test_csv_bytes_bounded(self, spark):
        from ai_etl_studio_spark.sources.writers import to_csv_bytes

        data = to_csv_bytes(spark.table("customer"), limit=10)
        lines = data.decode().strip().splitlines()
        assert len(lines) == 11  # header + 10 rows
        assert lines[0].startswith("c_custkey")

    def test_csv_roundtrip(self, spark, tmp_path):
        from ai_etl_studio_spark.sources.readers import read_csv
        from ai_etl_studio_spark.sources.writers import write_csv

        out = str(tmp_path / "csv_out")
        write_csv(spark.table("nation"), out)
        back = read_csv(spark, out, "n_nationkey int, n_name string, n_regionkey int")
        assert back.count() == 25

    def test_partitioned_parquet_prunes(self, spark, tmp_path):
        from ai_etl_studio_spark.sources.writers import write_parquet

        out = str(tmp_path / "part_out")
        write_parquet(spark.table("customer"), out, partition_by=["c_mktsegment"])
        one = spark.read.parquet(out).filter("c_mktsegment = 'BUILDING'")
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert one.count() > 0
        # partition pruning: only one partition dir read
        assert "PartitionFilters: [isnotnull(c_mktsegment" in plan


class TestObservedResult:
    def test_metrics_ride_the_result_action(self, spark):
        """observed_result returns single-pass QA counters: row_count +
        per-column non-null counts land in the Observation after the
        SAME action that materializes the result (CollectMetrics node,
        no second job over the plan)."""
        from ai_etl_studio_spark.engine import observed_result, run_query

        res = run_query(
            spark,
            "SELECT n_name, CASE WHEN n_nationkey < 5 THEN n_regionkey END AS r "
            "FROM nation",
        )
        assert res.ok
        df, ob = observed_result(res.df, "qa")
        rows = df.collect()
        m = ob.get
        assert m["row_count"] == len(rows) == 25
        assert m["nonnull_n_name"] == 25
        assert m["nonnull_r"] == 5
        assert "CollectMetrics" in df._jdf.queryExecution().executedPlan().toString()


def test_templates_reach_extension_surface(spark):
    """The NL front-end answers over the training-data tables too: the
    extension templates run end-to-end through sanitize + the read-only
    gate and return the expected shapes."""
    from ai_etl_studio_spark.catalog import register_tables
    from ai_etl_studio_spark.sqlgen.generator import (
        TemplateGenerator,
        generate_and_run,
    )

    register_tables(spark, "/root/testdata/sf0.001")
    g = TemplateGenerator()
    dup = generate_and_run(spark, g, "find duplicate documents")
    assert dup.ok and dup.df.columns == ["norm_text_hash", "keep_doc_id", "n_copies"]
    top = generate_and_run(spark, g, "top 7 tokens")
    assert top.ok and top.df.count() == 7
    lang = generate_and_run(spark, g, "documents per language")
    assert lang.ok
    rows = lang.df.collect()
    assert len(rows) == 5 and all(r.n_docs > 0 for r in rows)


def test_templates_reach_analytics_surface(spark):
    """Round-3 templates: cohort retention, conversion funnel, and the
    shard manifest all run end-to-end through sanitize + the read-only
    gate, and the funnel is monotonically narrowing."""
    from ai_etl_studio_spark.catalog import register_tables
    from ai_etl_studio_spark.sqlgen.generator import (
        TemplateGenerator,
        generate_and_run,
    )

    register_tables(spark, "/root/testdata/sf0.001")
    g = TemplateGenerator()

    ret = generate_and_run(spark, g, "show retention by first-order month")
    assert ret.ok and ret.df.columns == ["cohort_month", "month_offset", "n_active"]
    assert ret.df.count() > 0

    fun = generate_and_run(spark, g, "show me the conversion funnel")
    rows = {r.stage: r.n_users for r in fun.df.collect()}
    assert fun.ok and list(rows) == ["1_view", "2_click", "3_purchase"]
    assert rows["1_view"] >= rows["2_click"] >= rows["3_purchase"]

    sh = generate_and_run(spark, g, "documents per shard")
    assert sh.ok and sh.df.columns == ["shard", "n_docs", "n_chars"]


def test_templates_reach_curation_surface(spark):
    """Round-3 curation/insight templates: boilerplate lines, A/B
    readout, referential-integrity orphans, and event transitions run
    end-to-end through sanitize + the read-only gate."""
    from ai_etl_studio_spark.catalog import register_tables
    from ai_etl_studio_spark.sqlgen.generator import (
        TemplateGenerator,
        generate_and_run,
    )

    register_tables(spark, "/root/testdata/sf0.001")
    g = TemplateGenerator()

    bp = generate_and_run(spark, g, "which boilerplate lines repeat across documents")
    assert bp.ok and bp.df.columns == ["line", "n_docs"]
    assert all(r.n_docs >= 2 for r in bp.df.collect())

    ab = generate_and_run(spark, g, "show the a/b test result")
    rows = {r.variant: r for r in ab.df.collect()}
    assert ab.ok and set(rows) == {0, 1} and all(r.n > 0 for r in rows.values())

    ri = generate_and_run(spark, g, "check referential integrity")
    assert ri.ok
    orphans = {r.fk: r.n_orphans for r in ri.df.collect()}
    assert orphans == {"lineitem->orders": 0, "orders->customer": 0}

    tr = generate_and_run(spark, g, "show event transitions")
    assert tr.ok and tr.df.columns == ["src", "dst", "n"]
    assert tr.df.count() > 0


class TestRunParameterized:
    """r10: named-parameter binding (spark.sql args) — values can never
    alter statement structure, and the guard vets the TEMPLATE."""

    def test_binds_and_matches_literal_query(self, spark):
        from ai_etl_studio_spark.engine import run_parameterized

        register_tables(spark, "/root/testdata/sf0.001")
        r = run_parameterized(
            spark,
            "SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg",
            {"seg": "BUILDING"},
        )
        assert r.ok
        lit = spark.sql(
            "SELECT count(*) AS n FROM customer"
            " WHERE c_mktsegment = 'BUILDING'"
        ).collect()[0]["n"]
        assert r.df.collect()[0]["n"] == lit > 0

    def test_hostile_binding_stays_a_literal(self, spark):
        from ai_etl_studio_spark.engine import run_parameterized

        register_tables(spark, "/root/testdata/sf0.001")
        r = run_parameterized(
            spark,
            "SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg",
            {"seg": "BUILDING' OR '1'='1"},
        )
        # the whole injection string is one 19-char literal: no row has
        # that segment, and the statement structure is untouched
        assert r.ok and r.df.collect()[0]["n"] == 0

    def test_ddl_template_rejected_before_binding(self, spark):
        from ai_etl_studio_spark.engine import run_parameterized

        register_tables(spark, "/root/testdata/sf0.001")
        r = run_parameterized(
            spark, "DROP TABLE customer", {"seg": "x"}
        )
        assert not r.ok and "only SELECT" in r.error
        assert spark.sql("SELECT count(*) FROM customer").collect()[0][0] > 0

    def test_missing_binding_surfaces_as_error_relation(self, spark):
        from ai_etl_studio_spark.engine import run_parameterized

        register_tables(spark, "/root/testdata/sf0.001")
        r = run_parameterized(
            spark,
            "SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg",
            {},
        )
        assert not r.ok and r.df is None
        pres = r.presentation(spark)
        assert pres.columns == ["error_message"]


def test_templates_reach_round10_surface(spark):
    """r10: the NL path reaches the demand-classification and
    burstiness surfaces, and agrees with the registered operators."""
    from ai_etl_studio_spark.operators import load_all
    from ai_etl_studio_spark.sqlgen.generator import (
        TemplateGenerator,
        generate_and_run,
    )

    QUERIES, _ = load_all()
    register_tables(spark, "/root/testdata/sf0.001")
    g = TemplateGenerator()

    dc = generate_and_run(spark, g, "classify demand by part type")
    assert dc.ok and dc.df.columns == ["part_type", "demand_class"]
    want = {
        r.part_type: r.demand_class
        for r in QUERIES["demand_classification_adi_cv2"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    got = {r.part_type: r.demand_class for r in dc.df.collect()}
    assert got == want

    fano = generate_and_run(spark, g, "how bursty are the events?")
    assert fano.ok and fano.df.columns == [
        "n_windows",
        "n_events",
        "fano_micro",
    ]
    op = {
        r.window_seconds: r.fano_micro
        for r in QUERIES["fano_factor_event_windows"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert fano.df.collect()[0]["fano_micro"] == op[3600]
