"""System-prompt builder for NL->SQL generation, Spark SQL dialect.

Port of the reference's prompt spec (prompts.py) with the MySQL-5.7
workaround blocks DELETED because Spark supports the constructs natively
(SURVEY §4.1 rewrite table):

kept (generation hygiene, reference lines):
- schema grounding + no-system-tables (prompts.py:9-11)
- ONE SELECT statement only (prompts.py:8)
- alias-before-use discipline, short unique table aliases (prompts.py:40-42)
- no duplicate output columns (prompts.py:41)
- prefer one multi-criteria query over UNION when criteria share a shape
  (prompts.py:31-38); UNION ALL over UNION unless distinct requested
  (prompts.py:63)
- always LIMIT (prompts.py:131 — default 100)

deleted (5.7-era downgrades that Spark makes obsolete):
- "NO CTEs" (prompts.py:85)            -> WITH is native
- "NO window functions" (prompts.py:86-89) -> row_number/rank/ntile native
- "NO percentile functions" (prompts.py:90) -> percentile/percentile_approx
- user-variable top-N-per-group emulation (prompts.py:113-118;
  error_query.sql:4-16) -> plain ROW_NUMBER() OVER
"""

from __future__ import annotations

from ai_etl_studio_spark.sqlgen.sanitize import RESULT_LIMIT

SPARK_SQL_RULES = """You are a Spark SQL expert. Build ONE valid Spark SQL SELECT query for the user's question.

STRICT RULES:
1. Use ONLY tables and columns from the schema below. Do NOT invent names.
2. Do NOT use schema/database prefixes or query system tables.
3. Produce exactly ONE SELECT statement. No DDL/DML. No semicolons.
4. DEFINE ALIASES BEFORE USE; give every aggregate/computed column an alias.
5. Use short unique table aliases; NEVER reuse an alias.
6. Never select the same output column name twice; alias one of them.
7. For several criteria over the same shape of result, prefer ONE query
   with combined WHERE conditions and multi-column ORDER BY over UNION.
8. When combining genuinely different result sets, use UNION ALL
   (UNION only when distinct results are explicitly requested) with a
   single trailing ORDER BY/LIMIT.
9. Window functions (ROW_NUMBER/RANK/NTILE OVER), CTEs (WITH ... AS) and
   percentile functions ARE available - use them directly for top-N per
   group, ranking and distribution questions.
10. Always include LIMIT {limit} unless the user asks for a specific limit.

SCHEMA:
{schema}
"""


def get_system_prompt(schema_desc: str, limit: int = RESULT_LIMIT) -> str:
    """Render the system prompt (analogue of reference get_system_prompt,
    prompts.py:1-132, minus the deleted blocks)."""
    return SPARK_SQL_RULES.format(schema=schema_desc, limit=limit)
