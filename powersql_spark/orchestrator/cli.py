"""CLI: ``python -m powersql_spark.orchestrator.cli <command> --project DIR``.

Mirrors the reference's structopt commands (src/main.rs:30-50): check,
run, test (--fail-fast), docs. Extras: --sources to register external
parquet tables (SURVEY.md §7 decision 2) and --parallel for concurrent
model materialization.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="powersql")
    sub = p.add_subparsers(dest="command", required=True)
    for cmd in ("check", "run", "test", "docs", "explain"):
        sp = sub.add_parser(cmd)
        sp.add_argument("--project", default=".", help="project dir with powersql.toml")
        if cmd != "docs":
            sp.add_argument(
                "--sources",
                default=None,
                help="directory of parquet source tables to register",
            )
    sub.choices["test"].add_argument("--fail-fast", action="store_true")
    sub.choices["run"].add_argument("--parallel", action="store_true")
    sub.choices["run"].add_argument(
        "--changed",
        action="store_true",
        help="rebuild only models whose SQL changed since the last run"
        " (per target/manifest.json), plus their downstream closure",
    )
    for cmd in ("check", "explain"):
        sub.choices[cmd].add_argument(
            "--sources-schema",
            default=None,
            help="JSON manifest {table: 'col TYPE, ...'} for data-free analysis",
        )
    for cmd in ("run", "explain"):
        sub.choices[cmd].add_argument(
            "--model",
            default=None,
            help="restrict to this model and its upstream closure",
        )
    args = p.parse_args(argv)

    from powersql_spark.orchestrator import runner

    try:
        return _dispatch(args, runner)
    except (FileNotFoundError, ValueError, TypeError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1


def _dispatch(args: argparse.Namespace, runner) -> int:
    from powersql_spark.session import build_session

    spark = build_session(app_name=f"powersql-{args.command}")
    if args.command == "docs":
        print(f"wrote {runner.docs(spark, args.project)}")
        return 0
    if args.command == "check":
        schemas = runner.check(
            spark, args.project, args.sources, args.sources_schema
        )
        for name, schema in schemas.items():
            print(f"{name}: {schema}")
        return 0
    if args.command == "run":
        order = runner.run(
            spark,
            args.project,
            args.sources,
            parallel=args.parallel,
            model=args.model,
            changed=args.changed,
        )
        for name in order:
            print(f"materialized {name}")
        return 0
    if args.command == "test":
        return runner.test(
            spark, args.project, args.sources, fail_fast=args.fail_fast
        )
    if args.command == "explain":
        plans = runner.explain(
            spark,
            args.project,
            args.sources,
            model=args.model,
            sources_schema=args.sources_schema,
        )
        for name, plan in plans.items():
            print(f"== {name} ==\n{plan}")
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
