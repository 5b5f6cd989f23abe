"""SQL sanitation pipeline — pure functions, no Spark dependency.

Re-implements the reference's defenses against malformed LLM output
(the exact failure captured in its error_query.sql:26-47, where prose
leaked into executed SQL):

- fence extraction      (app.py:253-258)
- semicolon strip       (app.py:260)   — also prevents statement stacking
- SELECT-slice guard    (app.py:261-263)
- LIMIT injection       (app.py:265)
- error-as-relation     (app.py:244,267-268)

plus a read-only statement gate the reference only got via DB grants
(.config/README.md:55-66) — here enforced in the engine itself.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: The one bound on an interactive answer's rows: the LIMIT injected
#: into SQL without one, the plan cut of ``engine.run_query``'s fetch,
#: the CSV download and the LIMIT the system prompt asks the model for
#: (the reference's PostgreSQL-mode default, prompts.py:131 / app.py:265).
RESULT_LIMIT = 100

_FENCED_SQL = re.compile(r"```sql\s*(.*?)\s*```", re.DOTALL | re.IGNORECASE)
_FENCED_ANY = re.compile(r"```\s*(.*?)\s*```", re.DOTALL)
#: WITH must look like a real CTE (`WITH name AS (`) — a bare "with" in
#: prose must not satisfy the slice/read-only gates.
_CTE_HEAD = r"WITH\s+\w+\s+AS\s*\("
_SELECT_SLICE = re.compile(rf"((?:SELECT\s+|{_CTE_HEAD}).*)", re.DOTALL | re.IGNORECASE)
_HAS_LIMIT = re.compile(r"\blimit\b", re.IGNORECASE)
_READONLY_START = re.compile(rf"^\s*(SELECT\s|{_CTE_HEAD}|VALUES\s)", re.IGNORECASE)
_FORBIDDEN = re.compile(
    r"\b(INSERT|UPDATE|DELETE|MERGE|DROP|CREATE|ALTER|TRUNCATE|GRANT|REVOKE|"
    r"SET|RESET|CALL|COPY|ANALYZE|VACUUM|REFRESH|CACHE|UNCACHE|MSCK|LOAD)\b\s",
    re.IGNORECASE,
)


def extract_sql(text: str) -> str:
    """Prefer a ```sql fenced block, else any fenced block, else raw text
    (app.py:253-258)."""
    m = _FENCED_SQL.search(text)
    if m:
        return m.group(1).strip()
    m = _FENCED_ANY.search(text)
    if m:
        return m.group(1).strip()
    return text.strip()


def strip_semicolons(sql: str) -> str:
    """Remove semicolons (app.py:260) — kills statement stacking."""
    return sql.replace(";", "").strip()


def slice_from_select(sql: str) -> str:
    """If the text doesn't start with SELECT/WITH but contains one, slice
    from the first occurrence (app.py:261-263 — the prose-leak defense).
    Extended to WITH since Spark SQL supports CTEs (prompts.py:85's 5.7
    restriction does not apply)."""
    if _READONLY_START.match(sql):
        return sql
    m = _SELECT_SLICE.search(sql)
    return m.group(1).strip() if m else sql


def has_limit(sql: str) -> bool:
    return bool(_HAS_LIMIT.search(sql))


def inject_limit(sql: str, n: int = RESULT_LIMIT) -> str:
    """Append `LIMIT n` when absent (app.py:265)."""
    return sql if has_limit(sql) else f"{sql.rstrip()} LIMIT {int(n)}"


def is_read_only(sql: str) -> bool:
    """Textual read-only gate: must start with a query form and contain no
    leading DML/DDL verb at statement position. The engine additionally
    verifies the parsed logical plan is not a Command (plans/guard.py) —
    this string check is the cheap first line."""
    if not _READONLY_START.match(sql):
        return False
    # A forbidden verb appearing as the statement head of the (single,
    # semicolon-free) text. Verbs inside string literals are fine;
    # the plan-level check is authoritative.
    head = sql.lstrip()[:12].upper()
    return not _FORBIDDEN.match(head + " ")


@dataclass(frozen=True)
class SanitizedSQL:
    sql: str
    ok: bool
    error: str | None = None


def sanitize(text: str, default_limit: int = RESULT_LIMIT) -> SanitizedSQL:
    """Full A6-A10 pipeline. On unrecoverable input returns ok=False with
    an error message — the caller surfaces it as the error relation."""
    sql = extract_sql(text)
    sql = strip_semicolons(sql)
    sql = slice_from_select(sql)
    if not sql:
        return SanitizedSQL("", False, "empty SQL after sanitation")
    if not is_read_only(sql):
        return SanitizedSQL(sql, False, "only SELECT queries are allowed")
    return SanitizedSQL(inject_limit(sql, default_limit), True, None)
