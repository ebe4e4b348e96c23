"""CLI entry points mirroring the reference's scripts, as ONE Spark
application instead of a subprocess chain.

Reference (SURVEY.md §3.1): ``query_logs.py`` shells out to
``sync_logs.py`` → ``parse_logs.py`` → ``analyze_logs.py`` with files as
the IR between processes.  Here each command is a job over one DataFrame
lineage, and ``query`` composes parse → enrich → route → analyze without
leaving the JVM/session.

Run locally::

    python -m python_fastly_log_query_spark.cli parse --log-dir ... --output ...

or on a cluster (north rule: spark-submit --py-files)::

    python -m python_fastly_log_query_spark.cli package   # builds dist zip
    spark-submit --py-files dist/python_fastly_log_query_spark.zip \\
        -m ... cli_main.py parse --log-dir ... --output ...

Command map (reference script -> here):
- scripts/parse_logs.py   -> ``parse``   (incremental by default, S11)
- scripts/analyze_logs.py -> ``analyze`` (--last-hours, --endpoint,
                                          --daily-summary)
- scripts/query_logs.py   -> ``query``   (parse + route fan-out + report)
- scripts/clear_logs.py   -> ``clear``
- scripts/sync_logs.py    -> no analog needed: the engine reads the
  landing-zone table directly; incremental skip lives in the lineage
  manifest (plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import zipfile

from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark(app_name=f"pflqs-{args.cmd}", master=args.master)


# ---------------------------------------------------------------- parse


def cmd_parse(args) -> int:
    from .operators.parse import parse_logs
    from .plans import checkpoint as ck
    from .sources import sinks
    from .sources.logfiles import list_log_files, read_log_lines

    spark = _spark(args)
    files = list_log_files(args.log_dir)
    if not files:
        print(f"no *.log / *.log.gz files under {args.log_dir}", file=sys.stderr)
        return 1
    if args.incremental:
        summary = ck.run_incremental(
            spark, files, args.output,
            lambda df: parse_logs(df, "text", passthrough=["source_file"]),
        )
        print(json.dumps(summary, default=str))
        return 0
    parsed = parse_logs(
        read_log_lines(spark, files, line_numbers=args.line_numbers),
        "text",
        passthrough=["source_file", "line_number"] if args.line_numbers else ["source_file"],
    )
    # the row count rides on the sink job: a count() afterwards would
    # re-run the whole parse
    from pyspark.sql import Observation

    obs = Observation("parse_rows")
    parsed = parsed.observe(obs, F.count(F.lit(1)).alias("rows"))
    if args.format == "json":
        sinks.write_json(parsed, args.output)
    elif args.format == "csv":
        sinks.write_csv(parsed, args.output)
    else:
        parsed.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output, "rows": int(obs.get["rows"])}))
    return 0


# ---------------------------------------------------------------- analyze


def _load_parsed(spark, path: str, fmt: str):
    from .plans import checkpoint as ck
    from .sources import sinks

    if fmt == "json":
        return sinks.read_json(spark, path)
    if fmt == "csv":
        return sinks.read_csv(spark, path)
    if os.path.isdir(os.path.join(path, "_lineage")):
        return ck.read_output(spark, path)
    return spark.read.parquet(path)


def cmd_analyze(args) -> int:
    from .operators import report as R
    from .plans.lasthours import filter_last_hours

    spark = _spark(args)
    df = _load_parsed(spark, args.input, args.format)
    if args.last_hours:
        df = filter_last_hours(df, args.last_hours)
    if args.endpoint:
        out = R.endpoint_report(df, args.endpoint)
    elif args.daily_summary:
        out = R.daily_summary_report(df)
    else:
        out = R.full_report(df)
    if args.output:
        R.write_report(out, args.output)
        print(f"report written to {args.output}")
    elif args.json or args.endpoint or args.daily_summary:
        # drill-down / daily dicts have no console layout in the reference
        print(json.dumps(out, indent=2, default=str))
    else:
        from .operators.console import render_report

        print(render_report(out))
    return 0


# ---------------------------------------------------------------- query


def cmd_query(args) -> int:
    """End-to-end: incremental parse -> enrich -> routed fan-out -> report,
    one session, one lineage (reference orchestrator scripts/query_logs.py)."""
    from .datagen import geoip_dim
    from .operators import report as R
    from .operators.enrich import enrich_geoip
    from .operators.parse import parse_logs
    from .operators.route import routed_counts, write_routed
    from .plans import checkpoint as ck
    from .sources.logfiles import list_log_files

    spark = _spark(args)
    work = args.workdir
    files = list_log_files(args.log_dir)
    if not files:
        print(f"no log files under {args.log_dir}", file=sys.stderr)
        return 1
    parse_out = os.path.join(work, "parsed")
    summary = ck.run_incremental(
        spark, files, parse_out,
        lambda df: parse_logs(df, "text", passthrough=["source_file"]),
    )
    parsed = ck.read_output(spark, parse_out).cache()
    enriched = enrich_geoip(parsed, geoip_dim(spark, 256))
    if args.route_by == "service":
        # ADVICE r1: the enriched log frame has no service column — add it
        # via the longest-prefix service resolver before routing.  ADVICE
        # r2 flagged the old join's nondeterministic row key; the resolver
        # is now a per-row when-chain (operators/enrich.py), so no row key
        # exists at all and the checkpoint schema stays unchanged.
        from .operators.enrich import default_service_dim, enrich_service

        enriched = enrich_service(enriched, default_service_dim(spark))
    routed_dir = os.path.join(work, "routed")
    write_routed(enriched, routed_dir, args.route_by)
    counts = {r["route"]: r["rows"] for r in routed_counts(enriched, args.route_by).collect()}
    report = R.full_report(parsed)
    report_path = os.path.join(work, "report.json")
    R.write_report(report, report_path)
    parsed.unpersist()
    print(json.dumps({
        "parse": {k: summary[k] for k in ("total_units", "skipped_units", "processed_units")},
        "routed_counts": counts,
        "routed_total": sum(counts.values()),
        "report": report_path,
    }))
    return 0


# ---------------------------------------------------------------- clear


def cmd_clear(args) -> int:
    """Delete pipeline outputs (reference scripts/clear_logs.py:19-87)."""
    removed = []
    for sub in ("parsed", "routed", "report.json"):
        p = os.path.join(args.workdir, sub)
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(p)
        elif os.path.isfile(p):
            os.remove(p)
            removed.append(p)
    print(json.dumps({"removed": removed}))
    return 0


# ---------------------------------------------------------------- package


def cmd_package(args) -> int:
    """Build the --py-files zip for spark-submit (north rule)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(root, "dist", "python_fastly_log_query_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for n in names:
                if n.endswith(".py"):
                    full = os.path.join(dirpath, n)
                    z.write(full, os.path.relpath(full, root))
    print(json.dumps({"zip": out}))
    return 0


# ---------------------------------------------------------------- main


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python_fastly_log_query_spark.cli")
    p.add_argument("--master", default=None, help="spark master (default: local[$SPARK_GRAFT_CPUS], else one slot per usable core)")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("parse", help="parse raw log files (incremental, resumable)")
    pp.add_argument("--log-dir", required=True)
    pp.add_argument("--output", required=True)
    pp.add_argument("--format", choices=["parquet", "json", "csv"], default="parquet")
    pp.add_argument("--incremental", action="store_true", default=False)
    pp.add_argument("--line-numbers", action="store_true", default=False)

    pa = sub.add_parser("analyze", help="run the report tree over parsed records")
    pa.add_argument("--input", required=True)
    pa.add_argument("--format", choices=["parquet", "json", "csv"], default="parquet")
    pa.add_argument("--last-hours", type=float, default=None)
    pa.add_argument("--endpoint", default=None)
    pa.add_argument("--daily-summary", action="store_true", default=False)
    pa.add_argument("--output", default=None)
    pa.add_argument("--json", action="store_true", default=False,
                    help="emit raw JSON instead of the console report")

    pq = sub.add_parser("query", help="end-to-end parse -> enrich -> route -> report")
    pq.add_argument("--log-dir", required=True)
    pq.add_argument("--workdir", required=True)
    # "lang" routing applies to the documents pipeline (route_column('lang'),
    # routed_lang_counts) — parsed HTTP logs carry no language column
    pq.add_argument("--route-by", choices=["status_class", "service"],
                    default="status_class")

    pc = sub.add_parser("clear", help="delete pipeline outputs under workdir")
    pc.add_argument("--workdir", required=True)

    sub.add_parser("package", help="build dist zip for spark-submit --py-files")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return {
        "parse": cmd_parse,
        "analyze": cmd_analyze,
        "query": cmd_query,
        "clear": cmd_clear,
        "package": cmd_package,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
