"""ai_etl_studio_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference app ``balyuv/ai-etl-studio`` (an NL->SQL front-end that delegated
every relational operator to a remote PostgreSQL/MySQL server), re-hosted so
that Spark itself is the execution engine: Catalyst + Tungsten replace the
remote RDBMS entirely.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, UTC, Arrow).
- ``catalog``    : the one parquet read path (fingerprint-checked schema
                   handle), table registration + typed schema snapshot/
                   serialization
                   (supersedes the reference's names-only introspection,
                   db_utils.py:119-153).
- ``freshness``  : the one "has this source changed?" rule — the file
                   fingerprint and the session memo keyed on it.
- ``layout_cache``: build-once layout identity, manifests, stale sweep.
- ``engine``     : the query lifecycle — sanitize -> validate read-only ->
                   spark.sql -> limit bound -> duplicate-name rename
                   (reference pipeline app.py:242-302 / db_utils.py:158-182).
- ``sqlgen``     : SQL sanitation pipeline + NL->SQL prompt/generator adapter
                   (reference app.py:242-268, prompts.py).
- ``operators``  : the query surface (SURVEY.md §2B) + LLM-data-pipeline
                   extensions (dedup, similarity, text, multimodal).
- ``streaming``  : Structured Streaming seam over the events table.
- ``sources``    : csv/json/orc/jdbc readers + sinks (parquet is read
                   through ``catalog.read_parquet``).
- ``functions``  : reusable column expressions (decimal-exact money math,
                   vector ops, deterministic text hashing).
- ``plans``      : plan inspection helpers (read-only guard, explain).
"""

__version__ = "0.1.0"
