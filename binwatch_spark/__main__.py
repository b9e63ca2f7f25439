"""CLI entry point — ``python -m binwatch_spark sync --config config.yaml``.

Mirrors the reference's operator surface (cmd/main.go:26-34,
internal/cmd/sync/sync.go:40-70): one ``sync`` subcommand taking a YAML
config path, wiring config → SparkSession → health/state API →
streaming pipeline → termination policy. A user of the reference runs
``binwatch sync --config config.yaml``; a user of this engine runs the
same line with ``python -m binwatch_spark`` (or the ``binwatch-spark``
console script) in front.

``sync`` makes one call, ``pipeline.run_supervised``, for both
topologies: it starts the shared query (or, with ``--per-route``, one
query per route) and supervises it under the reference's error policy.
With ``restartSyncerOnError`` a failed query restarts alone from its
checkpoint; with ``stopInError`` a terminal failure stops every query.
Exit code: 0 when every query ended cleanly, 1 when the config is bad,
when a query failed terminally (with or without ``stopInError``), or when
anything else raised.

Spark-specific flags (all optional):
- ``--available-now``: drain everything currently available and exit
  (Structured Streaming availableNow trigger) instead of running forever.
- ``--per-route``: one streaming query per route, each with its own
  checkpoint (``pipeline.run_routes_concurrent``).
- ``--master``: Spark master URL override (default: local[*] via
  session.get_spark, or whatever SPARK_MASTER is set to).
"""

from __future__ import annotations

import argparse
import sys

from binwatch_spark import config as config_mod
from binwatch_spark.observability import ProgressListener, serve_api


def _sync(args: argparse.Namespace) -> int:
    try:
        cfg = config_mod.load(args.config)
    except (config_mod.ConfigError, OSError) as exc:
        print(f"error in binwatch instance creation: {exc}", file=sys.stderr)
        return 1

    from binwatch_spark.session import get_spark
    from binwatch_spark.streaming.pipeline import run_supervised

    # logger: section (config.go:23,54 parity) — honor the configured level
    # on both the Python logger and the Spark JVM logger before any work.
    import logging

    logging.basicConfig(level=getattr(logging, cfg.logger.py_level()))
    logging.getLogger("binwatch_spark").setLevel(
        getattr(logging, cfg.logger.py_level())
    )

    spark = get_spark(f"binwatch-{cfg.server.id}", master=args.master)
    spark.sparkContext.setLogLevel(cfg.logger.spark_level())
    listener = ProgressListener()
    spark.streams.addListener(listener)
    httpd = serve_api(cfg, listener) if args.serve_api else None
    try:
        failed = run_supervised(
            spark, cfg, available_now=args.available_now, per_route=args.per_route
        )
    except Exception as exc:  # stopInError: exit non-zero like the reference
        print(f"pipeline failed: {exc}", file=sys.stderr)
        return 1
    finally:
        if httpd is not None:
            httpd.shutdown()
    return 1 if failed else 0


def _list(args: argparse.Namespace) -> int:
    from binwatch_spark.plans import all_queries
    from binwatch_spark.plans.registry import REGISTRY

    names = sorted(all_queries())
    for name in names:
        has_oracle = REGISTRY[name].oracle is not None
        print(f"{name}\t{'oracle' if has_oracle else 'rows-only'}")
    print(f"# {len(names)} queries", file=sys.stderr)
    return 0


def _query(args: argparse.Namespace) -> int:
    from binwatch_spark.plans import all_queries

    queries = all_queries()
    if args.name not in queries:
        print(
            f"unknown query {args.name!r}; see `binwatch-spark list`",
            file=sys.stderr,
        )
        return 1
    from binwatch_spark.session import get_spark

    spark = get_spark(f"binwatch-query-{args.name}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    df = queries[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain(args.explain)
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    import json as _json

    for r in rows:
        print(_json.dumps(r.asDict(recursive=True), default=str))
    print(f"# {len(rows)} rows", file=sys.stderr)
    return 0


def _verify(args: argparse.Namespace) -> int:
    """Delegate to tools/verify_all.py (oracle check + pytest + bench)."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(repo, "tools", "verify_all.py")
    if not os.path.exists(tool):
        print("tools/verify_all.py not found (installed package without"
              " the repo checkout?)", file=sys.stderr)
        return 1
    cmd = [sys.executable, tool, "--sf", args.sf_dir]
    if args.skip_bench:
        cmd.append("--skip-bench")
    return subprocess.run(cmd).returncode


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="binwatch-spark",
        description=(
            "Subscribe to a MySQL binlog (or a recorded replay stream) and"
            " relay changes to connectors via Spark Structured Streaming."
        ),
    )
    sub = parser.add_subparsers(dest="command", required=True)
    sync = sub.add_parser(
        "sync", help="Dump and watch (sync) MySQL and send to Connectors"
    )
    sync.add_argument(
        "--config", default="config.yaml", help="Path to the YAML config file"
    )
    sync.add_argument(
        "--available-now",
        action="store_true",
        help="drain available input and exit (dev/test)",
    )
    sync.add_argument("--master", default=None, help="Spark master URL override")
    sync.add_argument(
        "--per-route",
        action="store_true",
        help="run each route as its own streaming query with an independent"
        " checkpoint; a failed route restarts alone under"
        " restartSyncerOnError (redelivering only its uncommitted batch),"
        " and stopInError stops every route on a terminal failure",
    )
    sync.add_argument(
        "--no-serve-api",
        dest="serve_api",
        action="store_false",
        help="skip starting the health/state HTTP API",
    )
    sync.set_defaults(func=_sync)

    lst = sub.add_parser(
        "list", help="List the registered analytics queries (q01..)"
    )
    lst.set_defaults(func=_list)

    query = sub.add_parser(
        "query",
        help="Run one registered query against a parquet dataset dir",
    )
    query.add_argument("name", help="query name, e.g. q13_multijoin_pricing")
    query.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="directory holding the parquet tables",
    )
    query.add_argument(
        "--limit", type=int, default=20, help="max rows to print (0 = all)"
    )
    query.add_argument(
        "--explain",
        nargs="?",
        const="simple",
        default=None,
        help="print the physical plan instead of rows"
        " (simple|formatted|extended)",
    )
    query.add_argument("--master", default=None, help="Spark master URL override")
    query.set_defaults(func=_query)

    verify = sub.add_parser(
        "verify",
        help="Run the full evidence pipeline: every query vs its DuckDB"
        " oracle, the test suite, and the benchmark (one JSON summary)",
    )
    verify.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01",
        help="parquet dir for the oracle check",
    )
    verify.add_argument("--skip-bench", action="store_true")
    verify.set_defaults(func=_verify)
    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
