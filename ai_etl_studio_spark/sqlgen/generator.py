"""Pluggable NL->SQL generator (reference generate_sql, app.py:242-268).

The reference made one blocking OpenAI chat call per question
(app.py:250) and piped the raw response through the sanitizers. Here the
generation backend is an interface:

- ``TemplateGenerator`` — deterministic rule-based mapping for the
  canonical workloads; no network, used by all tests (SURVEY §7 phase 4:
  'correctness tests never call a network').
- ``LLMGenerator`` — the adapter seam for a real model; requires a
  user-supplied ``complete`` callable (prompt -> response text). No
  vendor SDK is imported here.

Either way the output is RAW text that must pass through
sqlgen.sanitize + the engine's read-only plan gate — generation is never
trusted (the reference's own failure artifact, error_query.sql:26-47,
is exactly what happens when it is).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from ai_etl_studio_spark.sqlgen.prompts import get_system_prompt
from ai_etl_studio_spark.sqlgen.sanitize import RESULT_LIMIT


class GenerationError(Exception):
    pass


@dataclass
class TemplateGenerator:
    """Deterministic NL->SQL for the canonical reference workloads
    (FIXTURES.md mapping table). Pattern match on the question; raise
    GenerationError when no template applies (caller surfaces the error
    relation, mirroring app.py:267-268)."""

    limit: int = RESULT_LIMIT

    _RULES = [
        (
            r"top\s+(\d+)\s+products",
            lambda m, lim: (
                "SELECT p_name, CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)"
                " * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS revenue"
                " FROM lineitem JOIN part ON l_partkey = p_partkey"
                " GROUP BY p_name ORDER BY revenue DESC, p_name"
                f" LIMIT {int(m.group(1))}"
            ),
        ),
        (
            r"revenue\s+(?:per|by)\s+nation",
            lambda m, lim: (
                "SELECT n_name, CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)"
                " * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS revenue"
                " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
                " JOIN nation ON s_nationkey = n_nationkey"
                f" GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT {lim}"
            ),
        ),
        (
            r"top\s+(\d+)\s+customers?\s+per\s+nation",
            lambda m, lim: (
                "WITH spend AS ("
                " SELECT n_name, c_custkey, c_name,"
                " CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)"
                " AS BIGINT)) AS DOUBLE) / 100 AS total_spent"
                " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
                " JOIN customer ON o_custkey = c_custkey"
                " JOIN nation ON c_nationkey = n_nationkey"
                " GROUP BY n_name, c_custkey, c_name)"
                " SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name"
                " ORDER BY total_spent DESC, c_custkey) AS rn FROM spend) r"
                f" WHERE rn <= {int(m.group(1))} ORDER BY n_name, rn LIMIT {lim}"
            ),
        ),
        (
            r"orders?\s+count\s+(?:per|by)\s+(?:priority|orderpriority)",
            lambda m, lim: (
                "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders"
                f" GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT {lim}"
            ),
        ),
        (
            r"customers?\s+in\s+segment\s+'?(\w+)'?",
            lambda m, lim: (
                "SELECT c_custkey, c_name, c_acctbal FROM customer"
                f" WHERE c_mktsegment = '{m.group(1).upper()}'"
                f" ORDER BY c_custkey LIMIT {lim}"
            ),
        ),
        # extension-surface reach: the NL front-end can answer over the
        # training-data tables too, not just the retail schema
        (
            r"duplicate\s+documents?",
            lambda m, lim: (
                "SELECT norm_text_hash, MIN(doc_id) AS keep_doc_id,"
                " COUNT(*) AS n_copies FROM (SELECT doc_id,"
                " md5(concat_ws(' ', split(lower(trim(text)), '\\\\s+')))"
                " AS norm_text_hash FROM documents) n GROUP BY norm_text_hash"
                f" HAVING COUNT(*) > 1 ORDER BY n_copies DESC, keep_doc_id LIMIT {lim}"
            ),
        ),
        (
            r"top\s+(\d+)\s+(?:tokens|terms|words)",
            lambda m, lim: (
                "SELECT tok, COUNT(*) AS n FROM (SELECT"
                " explode(split(lower(text), '\\\\s+')) AS tok FROM documents) t"
                f" GROUP BY tok ORDER BY n DESC, tok LIMIT {int(m.group(1))}"
            ),
        ),
        (
            r"documents?\s+(?:per|by)\s+(?:language|lang)",
            lambda m, lim: (
                "SELECT lang, COUNT(*) AS n_docs,"
                " SUM(n_chars) AS total_chars FROM documents"
                f" GROUP BY lang ORDER BY n_docs DESC, lang LIMIT {lim}"
            ),
        ),
        (
            r"(?:cohort\s+)?retention\s+(?:per|by)\s+(?:signup|first[- ]?order|cohort)\s+month",
            lambda m, lim: (
                "WITH fo AS (SELECT o_custkey, trunc(MIN(CAST(o_orderdate AS DATE)),"
                " 'month') AS cohort FROM orders GROUP BY o_custkey),"
                " om AS (SELECT DISTINCT o.o_custkey, f.cohort,"
                " trunc(CAST(o.o_orderdate AS DATE), 'month') AS m"
                " FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey)"
                " SELECT date_format(cohort, 'yyyy-MM') AS cohort_month,"
                " (year(m) - year(cohort)) * 12 + (month(m) - month(cohort))"
                " AS month_offset, COUNT(DISTINCT o_custkey) AS n_active"
                " FROM om GROUP BY cohort, month_offset"
                f" ORDER BY cohort_month, month_offset LIMIT {lim}"
            ),
        ),
        (
            r"(?:conversion\s+)?funnel|viewed.*clicked.*(?:bought|purchased)",
            lambda m, lim: (
                "WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events"
                " WHERE event_type = 'view' GROUP BY user_id),"
                " c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e"
                " JOIN v ON e.user_id = v.user_id AND e.ts >= v.t1"
                " WHERE e.event_type = 'click' GROUP BY e.user_id),"
                " p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e"
                " JOIN c ON e.user_id = c.user_id AND e.ts >= c.t2"
                " WHERE e.event_type = 'purchase' GROUP BY e.user_id)"
                " SELECT stage, n_users FROM ("
                " SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v"
                " UNION ALL SELECT '2_click', COUNT(*) FROM c"
                " UNION ALL SELECT '3_purchase', COUNT(*) FROM p)"
                f" ORDER BY stage LIMIT {lim}"
            ),
        ),
        (
            r"(?:export\s+)?shard\s+manifest|documents?\s+(?:per|by)\s+shard",
            lambda m, lim: (
                "SELECT pmod((doc_id * 2654435761) % 4294967296, 16) AS shard,"
                " COUNT(*) AS n_docs, SUM(n_chars) AS n_chars FROM documents"
                f" GROUP BY shard ORDER BY shard LIMIT {lim}"
            ),
        ),
        (
            r"boilerplate\s+lines?|shared\s+lines?|repeated\s+lines?",
            lambda m, lim: (
                "SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM ("
                " SELECT doc_id, explode(transform("
                " sequence(0, CAST(ceil(size(ts)/8.0) AS INT) - 1),"
                " i -> array_join(slice(ts, i*8+1, 8), ' '))) AS line"
                " FROM (SELECT doc_id, filter(split(lower(text), '\\\\s+'),"
                " t -> t != '') AS ts FROM documents) d WHERE size(ts) >= 1) l"
                " GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2"
                f" ORDER BY n_docs DESC, line LIMIT {lim}"
            ),
        ),
        (
            r"(?:a/?b\s+test|experiment)\s*(?:result|significant|readout)?",
            lambda m, lim: (
                "SELECT variant, COUNT(*) AS n, ROUND(AVG(value), 4)"
                " AS mean_value FROM (SELECT user_id % 2 AS variant, value"
                " FROM events WHERE event_type = 'purchase') m"
                f" GROUP BY variant ORDER BY variant LIMIT {lim}"
            ),
        ),
        (
            r"orphan(?:ed)?\s+(?:rows?|records?)|referential\s+integrity",
            lambda m, lim: (
                "SELECT fk, n_orphans FROM ("
                " SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans"
                " FROM (SELECT l_orderkey FROM lineitem) l"
                " LEFT ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey"
                " UNION ALL SELECT 'orders->customer', COUNT(*)"
                " FROM orders o2 LEFT ANTI JOIN customer c"
                " ON o2.o_custkey = c.c_custkey) u"
                f" ORDER BY fk LIMIT {lim}"
            ),
        ),
        (
            r"next\s+(?:event|action)|(?:event\s+)?transitions?(?:\s+(?:matrix|counts?))?",
            lambda m, lim: (
                "SELECT src, dst, COUNT(*) AS n FROM ("
                " SELECT event_type AS src, lead(event_type) OVER ("
                " PARTITION BY user_id ORDER BY ts, event_id) AS dst"
                " FROM events) s WHERE dst IS NOT NULL GROUP BY src, dst"
                f" ORDER BY n DESC, src, dst LIMIT {lim}"
            ),
        ),
        (
            r"classif(?:y|ication)\s+(?:of\s+)?demand|demand\s+class",
            lambda m, lim: (
                "WITH cal AS (SELECT COUNT(DISTINCT date_format(l_shipdate,"
                " 'yyyy-MM')) AS n_months FROM lineitem),"
                " dm AS (SELECT p_type AS t, date_format(l_shipdate,"
                " 'yyyy-MM') AS mo, SUM(CAST(round(l_quantity) AS BIGINT))"
                " AS d FROM lineitem JOIN part ON l_partkey = p_partkey"
                " GROUP BY 1, 2),"
                " g AS (SELECT t, COUNT(*) AS nd, SUM(d) AS s,"
                " SUM(CAST(d AS DECIMAL(38,0)) * d) AS s2 FROM dm"
                " WHERE d > 0 GROUP BY t)"
                " SELECT t AS part_type,"
                " CASE WHEN 100 * n_months >= 132 * nd AND 100 * nd * s2"
                " >= 149 * CAST(s AS DECIMAL(38,0)) * s THEN 'lumpy'"
                " WHEN 100 * n_months >= 132 * nd THEN 'intermittent'"
                " WHEN 100 * nd * s2 >= 149 * CAST(s AS DECIMAL(38,0)) * s"
                " THEN 'erratic' ELSE 'smooth' END AS demand_class"
                f" FROM g CROSS JOIN cal ORDER BY t LIMIT {lim}"
            ),
        ),
        (
            r"burst\w*\b.*\bevents?|fano",
            lambda m, lim: (
                "WITH e AS (SELECT unix_micros(CAST(ts AS TIMESTAMP))"
                " AS t_us FROM events),"
                " mn AS (SELECT MIN(t_us) AS t0, MAX(t_us) AS t1,"
                " COUNT(*) AS n FROM e),"
                " nz AS (SELECT (t_us - t0) DIV 3600000000 AS b,"
                " COUNT(*) AS c FROM e CROSS JOIN mn GROUP BY 1),"
                " s AS (SELECT SUM(CAST(c AS DECIMAL(38,0)) * c) AS q"
                " FROM nz)"
                " SELECT CAST((t1 - t0) DIV 3600000000 + 1 AS BIGINT)"
                " AS n_windows, n AS n_events,"
                " CAST(round((CAST(q AS DOUBLE) - CAST(n AS DOUBLE) * n"
                " / ((t1 - t0) DIV 3600000000 + 1)) / CAST(n AS DOUBLE)"
                " * 1000000, 0) AS BIGINT) AS fano_micro"
                f" FROM s CROSS JOIN mn LIMIT {lim}"
            ),
        ),
    ]

    def generate(self, question: str) -> str:
        q = question.lower()
        for pattern, build in self._RULES:
            m = re.search(pattern, q)
            if m:
                return build(m, self.limit)
        raise GenerationError(f"no template matches: {question!r}")


@dataclass
class LLMGenerator:
    """Adapter for a real LLM backend. ``complete`` is any callable
    (system_prompt, user_question) -> raw response text; prompt built by
    sqlgen.prompts from a typed catalog snapshot."""

    complete: Callable[[str, str], str]
    schema_desc: str
    limit: int = RESULT_LIMIT

    def generate(self, question: str) -> str:
        return self.complete(get_system_prompt(self.schema_desc, self.limit), question)


def generate_and_run(spark, generator, question: str, default_limit: int = RESULT_LIMIT):
    """Full reference pipeline: generate -> sanitize -> validate -> run
    (app.py:288-302), errors surfacing as the error relation."""
    from ai_etl_studio_spark.engine import QueryResult, run_query

    try:
        raw = generator.generate(question)
    except Exception as exc:  # GenerationError or backend failure
        return QueryResult(None, "", False, f"generation failed: {exc}")
    return run_query(spark, raw, default_limit=default_limit)
