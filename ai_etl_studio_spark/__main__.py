"""Interactive CLI — the engine-appropriate equivalent of the
reference's Streamlit front-end (app.py:100-302): register tables,
browse the schema, ask NL questions (or type raw SQL), see the
generated SQL + LIMIT-bounded result, export CSV.

Usage::

    python -m ai_etl_studio_spark [--sf-dir DIR] [--limit N]
        [--backend template|http] [--url URL --model M [--api-key K]]

Commands inside the REPL::

    \\schema            typed schema browser (A18)
    \\sql SELECT ...    run raw SQL through sanitize + read-only gate
    \\explain           formatted physical plan of the last query
    \\csv PATH          write the last result as CSV
    \\q                 quit
    anything else      NL question -> generator -> sanitize -> run

Offline by default (TemplateGenerator); ``--backend http`` wires the
stdlib chat-completions client (sqlgen/client.py) the same way the
reference wired its vendor SDK. Either way the raw output passes
through the full sanitize + read-only plan gate.
"""

from __future__ import annotations

import argparse
import sys


def _build_generator(args, schema_desc: str):
    if args.backend == "http":
        if not args.url or not args.model:
            sys.exit("--backend http requires --url and --model")
        from ai_etl_studio_spark.sqlgen.client import HttpChatClient
        from ai_etl_studio_spark.sqlgen.generator import LLMGenerator

        client = HttpChatClient(url=args.url, model=args.model, api_key=args.api_key)
        return LLMGenerator(
            complete=client.complete, schema_desc=schema_desc, limit=args.limit
        )
    from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator

    return TemplateGenerator(limit=args.limit)


def _show(df, n: int) -> None:
    df.show(n=n, truncate=40)


def main(argv: list[str] | None = None) -> int:
    from ai_etl_studio_spark.sqlgen.sanitize import RESULT_LIMIT

    p = argparse.ArgumentParser(prog="ai_etl_studio_spark")
    p.add_argument("--sf-dir", default=None, help="parquet table dir (TESTDATA.md)")
    p.add_argument("--limit", type=int, default=RESULT_LIMIT)
    p.add_argument("--backend", choices=("template", "http"), default="template")
    p.add_argument("--url")
    p.add_argument("--model")
    p.add_argument("--api-key")
    p.add_argument("--show-rows", type=int, default=20)
    args = p.parse_args(argv)

    from ai_etl_studio_spark.catalog import (
        DEFAULT_SF_DIR,
        register_tables,
        render_schema_browser,
        render_schema_for_prompt,
        schema_snapshot,
    )
    from ai_etl_studio_spark.engine import run_query
    from ai_etl_studio_spark.session import get_spark
    from ai_etl_studio_spark.sqlgen.generator import generate_and_run
    from ai_etl_studio_spark.sources.writers import write_csv

    spark = get_spark(app_name="ai-etl-studio-spark-cli")
    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    tables = register_tables(spark, sf_dir)
    snapshot = schema_snapshot(spark, list(tables))
    generator = _build_generator(args, render_schema_for_prompt(snapshot))
    print(f"{len(tables)} tables registered from {sf_dir}; \\schema to browse, \\q to quit.")

    last = None
    for line in iter(lambda: _read_line(), None):
        line = line.strip()
        if not line:
            continue
        # command dispatch is token-exact: '\sqlx ...' or '\csvfoo' are
        # unknown commands, not mis-sliced '\sql'/'\csv' invocations
        cmd, _, rest = line.partition(" ")
        rest = rest.strip()
        if cmd in ("\\q", "exit", "quit"):
            break
        if cmd == "\\schema":
            print(render_schema_browser(snapshot))
            continue
        if cmd == "\\explain":
            if last is None or not last.ok:
                print("no result to explain")
            else:
                from ai_etl_studio_spark.plans.guard import explain_str

                # last.df is the fetched rows; plan the SQL again
                # (planning executes nothing) to show how it ran
                print(explain_str(spark.sql(last.sql), "formatted"))
            continue
        if cmd == "\\csv":
            if not rest:
                print("usage: \\csv PATH")
            elif last is None or not last.ok:
                print("no result to export")
            else:
                write_csv(last.df, rest)
                print(f"wrote {rest}")
            continue
        if cmd == "\\sql":
            res = run_query(spark, rest, default_limit=args.limit)
        elif cmd.startswith("\\"):
            print(f"unknown command {cmd}; known: \\schema \\sql \\explain \\csv \\q")
            continue
        else:
            res = generate_and_run(spark, generator, line, default_limit=args.limit)
        if res.sql:
            print(f"-- {res.sql}")
        _show(res.presentation(spark), args.show_rows)
        last = res
    return 0


def _read_line():
    try:
        return input("ask> ")
    except EOFError:
        return None


if __name__ == "__main__":
    raise SystemExit(main())
