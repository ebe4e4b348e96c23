"""No new CLI knobs (checked without Spark, on the argparse tree): every
``(subcommand, option)`` pair ``cli.build_parser()`` accepts must be on the
allow-list below with the reason it exists.  An option that only one
caller passes is a second code path nobody else runs; add one here only
with the reason, as for env names in tests/test_env_knobs.py."""

from __future__ import annotations

import argparse

from python_fastly_log_query_spark import cli

ALLOWED = {
    (None, "--master"): "Spark master URL; the default sizes local[N] to the usable cores",
    ("parse", "--log-dir"): "directory of *.log / *.log.gz files to parse",
    ("parse", "--output"): "where the parsed table is written",
    ("parse", "--format"): "sink format of a one-pass parse: parquet, json or csv",
    ("parse", "--incremental"): "resumable per-file parse into a lineage checkpoint",
    ("parse", "--line-numbers"): "per-file line-number lineage column of a one-pass parse",
    ("analyze", "--input"): "parsed table to report on",
    ("analyze", "--format"): "format of the parsed table: parquet, json or csv",
    ("analyze", "--last-hours"): "restrict the report to the latest N hours of events",
    ("analyze", "--endpoint"): "drill-down report for one path",
    ("analyze", "--daily-summary"): "per-day summary instead of the full report",
    ("analyze", "--output"): "write the report JSON to a file instead of stdout",
    ("analyze", "--json"): "print raw JSON instead of the console layout",
    ("query", "--log-dir"): "directory of log files for the end-to-end run",
    ("query", "--workdir"): "checkpoint, routed sinks and report.json of the end-to-end run",
    ("query", "--route-by"): "routing rule of the fan-out: status_class or service",
    ("clear", "--workdir"): "pipeline outputs to delete",
}


def _options(parser: argparse.ArgumentParser, cmd: str | None = None) -> set:
    """(subcommand, option string) of every optional argument, subparsers
    walked; argparse's own --help is not a knob."""
    found = set()
    for action in parser._actions:
        if isinstance(action, argparse._SubParsersAction):
            for name, sub in action.choices.items():
                found |= _options(sub, name)
        elif action.option_strings and not isinstance(action, argparse._HelpAction):
            found |= {(cmd, opt) for opt in action.option_strings}
    return found


def test_every_cli_option_is_allow_listed():
    found = _options(cli.build_parser())
    assert not found - set(ALLOWED), sorted(found - set(ALLOWED), key=str)
    assert set(ALLOWED) == found, sorted(set(ALLOWED) - found, key=str)
