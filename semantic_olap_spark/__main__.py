"""CLI entry point: NL queries over a parquet table from the shell.

The reference's interactive entry is a Streamlit UI
(Semantic-OLAP/pages/Cube.py — SURVEY.md §3.2); the Spark-idiomatic
equivalent is a command line that a data engineer can script:

    python -m semantic_olap_spark --data /path/to/tables \\
        --table documents "mentions spark then count"

One-shot mode runs a single query and prints the result; ``--repl``
keeps the session (and therefore the cube lattice) alive across
queries, so follow-ups reuse materialized views exactly like the
reference's long-lived agent session.  ``--plan-only`` prints the
replayable plan-language JSON instead of executing;
``--save-cube``/``--load-cube`` persist the lattice across
invocations.  The default backend is the deterministic stub; point
``--llm-endpoint`` at any OpenAI-compatible server for real
judgments.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_engine(args, spark):
    from semantic_olap_spark.engine import OlapEngine
    from semantic_olap_spark.sources.loaders import load_table

    if args.llm_endpoint:
        from semantic_olap_spark.llm.http_client import http_llm_factory

        factory = http_llm_factory(
            args.llm_endpoint, model=args.llm_model,
            api_key=args.llm_api_key,
        )
    else:
        from semantic_olap_spark.llm.client import default_llm_factory

        factory = default_llm_factory
    if args.load_cube:
        # the cube's persisted root IS the table — don't load (and
        # then discard) --table, and keep --costs working
        if args.order_by:
            print(
                "warning: --order-by is ignored with --load-cube "
                "(row identity comes from the persisted lattice)",
                file=sys.stderr,
            )
        return OlapEngine.load(
            spark, args.load_cube, llm_factory=factory,
            track_costs=args.costs,
        )
    df = load_table(spark, args.data, args.table)
    order_by = args.order_by.split(",") if args.order_by else None
    return OlapEngine(
        df, llm_factory=factory, order_by=order_by,
        track_costs=args.costs,
    )


def _show(df, limit: int) -> None:
    from semantic_olap_spark.sources.loaders import OLAP_ID

    # partition order varies with the core count; OLAP_ID (the
    # --order-by identity) makes the first ``limit`` rows stable
    if OLAP_ID in df.columns:
        df = df.orderBy(OLAP_ID)
    df.show(limit, truncate=80)


def _run_one(eng, query: str, args) -> None:
    if args.plan_only:
        print(json.dumps(eng.plan_only(query), indent=2, default=str))
        return
    from semantic_olap_spark.caching import cache_scope

    # engine.run() already releases ITS operator-internal persists
    # (engine.py OlapEngine.run); this outer scope is the
    # REPL-session backstop for anything tracked outside that path,
    # so an N-query session holds O(lattice) storage blocks.  The
    # display happens INSIDE the scope (release-after-materialize).
    with cache_scope():
        _show(eng.run(query), args.limit)
    if args.costs and eng.cost_stats is not None:
        print(f"-- {eng.cost_stats.snapshot()}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m semantic_olap_spark",
        description="NL semantic-OLAP queries over a parquet table.",
    )
    p.add_argument("query", nargs="?", help="one-shot NL query")
    p.add_argument("--data", required=True,
                   help="directory holding <table>.parquet")
    p.add_argument("--table", default="documents")
    p.add_argument("--order-by", default=None,
                   help="comma-separated columns giving rows a stable "
                        "identity order (nargs would swallow the "
                        "positional query)")
    p.add_argument("--limit", type=int, default=20,
                   help="rows to print (default 20)")
    p.add_argument("--repl", action="store_true",
                   help="interactive loop; cube lattice persists "
                        "across queries")
    p.add_argument("--plan-only", action="store_true",
                   help="print the replayable plan JSON, execute "
                        "nothing")
    p.add_argument("--costs", action="store_true",
                   help="report LLM call counts after each query")
    p.add_argument("--save-cube", default=None,
                   help="persist the cube lattice here on exit")
    p.add_argument("--load-cube", default=None,
                   help="reopen a persisted cube lattice (its root "
                        "table overrides --table)")
    p.add_argument("--llm-endpoint", default=None,
                   help="OpenAI-compatible /v1/chat/completions base "
                        "url; default: deterministic stub")
    p.add_argument("--llm-model", default="default")
    p.add_argument("--llm-api-key", default=None)
    args = p.parse_args(argv)
    if not args.query and not args.repl:
        p.error("give a query, or --repl")

    from semantic_olap_spark.session import get_spark

    spark = get_spark("semantic-olap-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        eng = _build_engine(args, spark)
        if args.query:
            _run_one(eng, args.query, args)
        if args.repl:
            print("semantic-olap> (empty line to exit)", file=sys.stderr)
            while True:
                try:
                    line = input("semantic-olap> ").strip()
                except EOFError:
                    break
                if not line:
                    break
                if line == ":cube" or line.startswith(":cube "):
                    # lattice inspector (reference pages/Cube.py):
                    # bare -> text tree; with a path -> the
                    # self-contained HTML artifact with previews
                    from semantic_olap_spark.inspector import (
                        lattice_html,
                        lattice_text,
                    )

                    target = line[5:].strip()
                    if target:
                        lattice_html(
                            eng.memory, target, preview_rows=8
                        )
                        print(f"wrote {target}", file=sys.stderr)
                    else:
                        print(lattice_text(eng.memory))
                    continue
                try:
                    _run_one(eng, line, args)
                except Exception as exc:  # noqa: BLE001 - REPL survives
                    print(f"error: {exc}", file=sys.stderr)
        if args.save_cube:
            eng.save(args.save_cube)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
