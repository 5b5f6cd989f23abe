"""Session-factory contracts that show up as query cost: the codegen
class cache is large enough that a repeated workload stops compiling."""

from __future__ import annotations

from ai_etl_studio_spark.catalog import register_tables
from ai_etl_studio_spark.engine import run_query
from ai_etl_studio_spark.session import codegen_compiles
from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator
from tests.conftest import SF_DIR
from tests.test_engine import TEMPLATE_QUESTIONS


def test_codegen_cache_is_sized_by_get_spark(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_repeat_template_pass_compiles_almost_nothing(spark):
    """One question per template rule, run and collected twice. A pass
    compiles ~240 classes (4 cores, sf0.001): more than the stock
    100-entry cache holds, so there every repeat compiled them all again.
    At 1000 entries the second pass measured 4 compiles (classes whose
    source differs from run to run); the bound is 5% of a pass."""
    register_tables(spark, SF_DIR)
    g = TemplateGenerator()
    sqls = [g.generate(q) for q in TEMPLATE_QUESTIONS]
    per_pass = []
    for _ in range(2):
        before = codegen_compiles(spark)
        for sql in sqls:
            r = run_query(spark, sql)
            assert r.ok, (sql, r.error)
            r.df.collect()
        per_pass.append(codegen_compiles(spark) - before)
    assert per_pass[1] <= 12, per_pass
