"""Host-sized benchmark of the CLI's ``parse`` and ``query`` paths.

Run from the root of a checkout::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

One closed-loop client drives ``cli.main([...])`` in-process on
``local[<cores>]``: set up a SparkSession, run one op in the fresh
session, then more ops until ``--seconds`` have passed.
Every op writes into a fresh directory and is checked against the
generator's tallies outside the timed interval.  ``--trace 1`` wraps the
package's eager entry points in spans with their own Spark job groups,
adds cumulative-prefix probes for the lazy layers and reports the
per-layer table instead of the end-to-end metrics.  See README.md.

The last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loggen  # noqa: E402
import spans as sp  # noqa: E402

PACKAGE = "python_fastly_log_query_spark"
LAYERS = ("session", "sources.logfiles", "operators.parse", "plans.checkpoint",
          "operators.enrich", "operators.route", "operators.report", "cli")
# eager entry points that get a span and a job group of their own
WRAPPED = (("plans.checkpoint", "run_incremental"),
           ("operators.route", "write_routed"),
           ("operators.report", "full_report"))
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}


@dataclasses.dataclass(frozen=True)
class Workload:
    shape: loggen.Shape
    # layer whose action runs the scan + parse, and the one that runs enrich
    parse_host: str
    enrich_host: str | None = None


WORKLOADS = {
    # scan, pandas-UDF parse and parquet sink, plus cmd_parse's post-write
    # count; no report
    "ingest": Workload(loggen.Shape(lines=100_000, files=32, gz_share=0.5), "cli"),
    # parse -> checkpoint -> enrich -> route -> report, every layer in play
    "query": Workload(loggen.Shape(lines=20_000, files=8), "plans.checkpoint",
                      "operators.route"),
}


# ---------------------------------------------------------------- host


def host_geometry() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cores": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap_mb": max(1024, mem_kb // 1024 // 4)}


def host_env(root: str, work: str, geo: dict) -> dict:
    """Environment that sizes the session to this host and keeps every
    file Spark, the JVMs and the Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(geo["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{geo['heap_mb']}m",
        # pandas-UDF workers unpickle functions of the package by import path
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WORK_DIR": work,
        # a JVM that dies writes its crash log under work, not into the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             f"-XX:ErrorFile={os.path.join(work, 'hs_err_pid%p.log')}",
    }


def git_head(root: str) -> str | None:
    """HEAD commit read from .git without running git; None outside a repo."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


# ---------------------------------------------------------------- checks


def parquet_rows(pattern: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(pattern, recursive=True))


def check_report(report: dict, tally: dict) -> list[str]:
    """Report fields the generator's tallies pin down exactly."""
    problems = []
    traffic = report.get("traffic", {})
    if traffic.get("total_requests") != tally["rows"]:
        problems.append(f"total_requests {traffic.get('total_requests')} != {tally['rows']}")
    if traffic.get("requests_per_day") != tally["per_day"]:
        problems.append("requests_per_day differs from the generated days")
    if report.get("errors", {}).get("status_code_distribution") != tally["status"]:
        problems.append("status_code_distribution differs from the generated statuses")
    return problems


def check_ingest(out: str, printed: dict, tally: dict) -> list[str]:
    problems = []
    written = parquet_rows(os.path.join(out, "*.parquet"))
    if written != tally["rows"]:
        problems.append(f"rows written {written} != {tally['rows']}")
    if printed.get("rows") != tally["rows"]:
        problems.append(f"reported rows {printed.get('rows')} != {tally['rows']}")
    return problems


def check_query(out: str, printed: dict, tally: dict, n_files: int) -> list[str]:
    problems = []
    written = parquet_rows(os.path.join(out, "parsed", "data", "**", "*.parquet"))
    if written != tally["rows"]:
        problems.append(f"parsed rows written {written} != {tally['rows']}")
    if printed.get("parse", {}).get("processed_units") != n_files:
        problems.append(f"processed units {printed.get('parse')} != {n_files}")
    if printed.get("routed_counts") != tally["status_class"]:
        problems.append(f"routed counts {printed.get('routed_counts')} != {tally['status_class']}")
    if printed.get("routed_total") != tally["rows"]:
        problems.append(f"routed total {printed.get('routed_total')} != {tally['rows']}")
    sinks = {os.path.basename(d).split("=", 1)[1]: parquet_rows(os.path.join(d, "*.parquet"))
             for d in glob.glob(os.path.join(out, "routed", "route=*"))}
    if sinks != tally["status_class"]:
        problems.append(f"routed sink rows {sinks} != {tally['status_class']}")
    with open(os.path.join(out, "report.json")) as f:
        problems += check_report(json.load(f), tally)
    return problems


class DigestLedger:
    """Report digest per (workload, seed), kept across runs in one checkout:
    every op of every run with that seed must produce the same report."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.known = json.load(f)
        except (OSError, ValueError):
            self.known = {}

    def check(self, key: str, digest: str) -> list[str]:
        first = self.known.setdefault(key, digest)
        return [] if first == digest else [f"report digest {digest[:12]} != {first[:12]}"]

    def save(self) -> None:
        with open(self.path, "w") as f:
            json.dump(self.known, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------- bench


class Bench:
    def __init__(self, name: str, seed: int, work: str, geo: dict, traced: bool):
        self.name, self.seed, self.work, self.geo = name, seed, work, geo
        self.wl = WORKLOADS[name]
        self.traced = traced
        self.ledger = DigestLedger(os.path.join(os.path.dirname(work), "digests.json"))
        self.spark = self.sc = None
        self.tracer = sp.Tracer(self.set_group) if traced else None
        self.traced_ops: list[tuple[list[sp.Span], list[dict]]] = []
        self.peak_rss_mb = 0.0

    # -- session

    def start(self) -> float:
        """Start the session and run its first job; returns setup_s."""
        from python_fastly_log_query_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.set_group("session")
        self.spark.range(1).count()
        self.set_group(None)
        return time.perf_counter() - T0

    def generate(self) -> None:
        self.logs = os.path.join(self.work, "logs")
        self.files, tally = loggen.generate(self.logs, self.seed, self.wl.shape)
        self.tally = tally.as_dict()

    def install_tracer(self) -> list:
        """Wrap the eager entry points; returns their undo callables."""
        import importlib

        return [self.tracer.wrap(importlib.import_module(f"{PACKAGE}.{mod}"), attr, mod)
                for mod, attr in WRAPPED]

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        from pyspark import SparkContext

        proc = self.sc._gateway.proc
        self.spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- ops

    def argv(self, out: str) -> list[str]:
        if self.name == "ingest":
            return ["parse", "--log-dir", self.logs, "--output", out]
        return ["query", "--log-dir", self.logs, "--workdir", out, "--route-by", "status_class"]

    def run_op(self, i: int, traced: bool) -> tuple[float, list[str]]:
        """One CLI invocation into a fresh directory; the checks run after
        the clock stops.  A traced op's spans and group metrics are kept
        for the layer table."""
        from python_fastly_log_query_spark import cli

        out = os.path.join(self.work, f"op{i}")
        buf = io.StringIO()
        root = len(self.tracer.spans) if traced else None
        span = self.tracer.span(f"op{i}", "cli") if traced else contextlib.nullcontext()
        t = time.perf_counter()
        with span, contextlib.redirect_stdout(buf):
            rc = cli.main(self.argv(out))
        wall = time.perf_counter() - t
        if traced:
            op = self.tracer.op_spans(root)
            self.traced_ops.append((op, [sp.group_metrics(self.sc, s.group) for s in op]))
        problems = [] if rc == 0 else [f"exit code {rc}"]
        printed = json.loads(buf.getvalue().strip().splitlines()[-1])
        if self.name == "ingest":
            problems += check_ingest(out, printed, self.tally)
        else:
            problems += check_query(out, printed, self.tally, len(self.files))
            with open(os.path.join(out, "report.json"), "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            problems += self.ledger.check(f"{self.name}:{self.seed}", digest)
        return wall, problems

    def loop(self, seconds: float) -> dict:
        """First op in the fresh session, then steady ops until ``seconds``
        have passed since the first op ended.  A traced run traces the first
        op, alternates traced and untraced steady ops and runs at least one
        of each, so the tracing overhead can be read off."""
        walls, traced_walls, plain_walls, failed = [], [], [], 0
        i, t_steady = 0, None
        while True:
            traced = self.traced and (i == 0 or i % 2 == 1)
            try:
                wall, problems = self.run_op(i, traced)
            except Exception:
                traceback.print_exc()
                wall, problems = None, ["op raised"]
            if problems:
                failed += 1
                print(f"op{i} failed: {problems}", file=sys.stderr)
            walls.append(wall)
            if i == 0:
                # after a fixed amount of work, not after however many ops
                # the time window allowed: VmHWM keeps growing as ops repeat
                self.peak_rss_mb = vm_hwm_mb(self.sc._gateway.proc.pid)
            if i and wall is not None:
                (traced_walls if traced else plain_walls).append(wall)
            # only the last op's output is kept: a traced run probes it
            shutil.rmtree(os.path.join(self.work, f"op{i - 1}"), ignore_errors=True)
            i += 1
            if t_steady is None:
                t_steady = time.perf_counter()
            elif (time.perf_counter() - t_steady >= seconds
                  and (not self.traced or (traced_walls and plain_walls))):
                break
        return {"walls": walls, "traced": traced_walls, "plain": plain_walls,
                "failed": failed, "last_out": os.path.join(self.work, f"op{i - 1}")}

    # -- traced-run extras

    def probe(self, name: str, build) -> dict:
        """Run ``build()`` into a noop sink twice under its own job group
        and keep the second, warm pass: wall, Spark metrics and rows."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        for rep in range(2):
            obs = Observation(f"{name}_{rep}")
            group = f"probe/{name}#{rep}"
            self.set_group(group)
            t = time.perf_counter()
            (build().observe(obs, F.count(F.lit(1)).alias("rows"))
             .write.format("noop").mode("overwrite").save())
            wall = time.perf_counter() - t
            self.set_group(None)
        m = sp.group_metrics(self.sc, group)
        m["wall_s"], m["rows"] = wall, float(obs.get["rows"])
        return m

    def probe_layers(self, last_out: str) -> dict[str, dict]:
        from python_fastly_log_query_spark.operators.parse import parse_logs
        from python_fastly_log_query_spark.sources.logfiles import read_log_lines

        def scan():
            return read_log_lines(self.spark, self.files, line_numbers=False)

        probes = {"scan": self.probe("scan", scan),
                  "parse": self.probe("parse", lambda: parse_logs(
                      scan(), "text", passthrough=["source_file"]))}
        layers = sp.prefix_layers(probes, [("sources.logfiles", "scan"),
                                           ("operators.parse", "parse")])
        if self.wl.enrich_host:
            from python_fastly_log_query_spark.datagen import geoip_dim
            from python_fastly_log_query_spark.operators.enrich import enrich_geoip

            def parsed():
                return self.spark.read.parquet(os.path.join(last_out, "parsed", "data"))

            probes["read_parsed"] = self.probe("read_parsed", parsed)
            probes["enrich"] = self.probe("enrich", lambda: enrich_geoip(
                parsed(), geoip_dim(self.spark, 256)))
            layers.update(sp.prefix_layers(probes, [(None, "read_parsed"),
                                                    ("operators.enrich", "enrich")]))
        return layers

    def layer_table(self, probe: dict[str, dict]) -> dict[str, dict]:
        """Median over the traced steady ops of each op's attributed layers."""
        per_op = []
        for op, metrics in self.traced_ops[1:] or self.traced_ops:
            layers = sp.span_layers(op, metrics)
            sp.carve(layers, self.wl.parse_host,
                     {k: probe[k] for k in ("sources.logfiles", "operators.parse")})
            if self.wl.enrich_host:
                sp.carve(layers, self.wl.enrich_host, {"operators.enrich": probe["operators.enrich"]})
            sp.finish_idle(layers, self.geo["cores"])
            per_op.append(layers)
        return {layer: {k: statistics.median(t.get(layer, sp.empty_layer())[k] for t in per_op)
                        for k in sp.LAYER_METRICS}
                for layer in LAYERS}


def per_layer_metrics(table: dict[str, dict], overhead_s: float) -> dict:
    out = {f"{layer}.{k}": {"value": table[layer][k], "unit": unit}
           for layer in LAYERS for k, unit in sp.LAYER_METRICS.items()}
    parse = table["operators.parse"]
    ratio = parse["rows_out"] / parse["rows_in"] if parse["rows_in"] else 0.0
    out["operators.parse.records_per_line"] = {"value": ratio, "unit": "ratio"}
    out["trace.overhead_s"] = {"value": overhead_s, "unit": "s"}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "cli.py")):
        print(f"no {PACKAGE}/ package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    geo = host_geometry()
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.environ.update(host_env(root, work, geo))
    sys.path.insert(0, root)
    load_before = load1()

    bench = Bench(args.workload, args.seed, work, geo, bool(args.trace))
    try:
        setup_s = bench.start()
        session = sp.group_metrics(bench.sc, "session")
        bench.generate()
        undo = bench.install_tracer() if bench.traced else []
        res = bench.loop(args.seconds)
        probe = bench.probe_layers(res["last_out"]) if bench.traced else None
        for u in undo:
            u()
    finally:
        if bench.spark is not None:
            bench.stop()
    bench.ledger.save()

    walls = res["walls"]
    steady = [w for w in walls[1:] if w is not None]
    attempted, failed = len(walls), res["failed"]
    if walls[0] is None or not steady:
        print("no first op or no steady op completed: nothing to report", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": geo, "git_head": git_head(root),
        "load1_before": load_before, "load1_after": load1(),
        "contended": load_before > geo["cores"],
        "first_op_s": walls[0], "op_walls_s": walls, "steady_samples": len(steady),
        "fail_ratio": failed / attempted, "tally": bench.tally,
    }
    if not bench.traced:
        op_p50 = statistics.median(steady)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "rows_per_s": bench.wl.shape.lines / op_p50,
            "peak_rss_mb": bench.peak_rss_mb,
        }
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    else:
        table = bench.layer_table(probe)
        table["session"] = {**sp.empty_layer(), **session, "wall_s": setup_s}
        sp.finish_idle({"session": table["session"]}, geo["cores"])
        overhead = statistics.median(res["traced"]) - statistics.median(res["plain"])
        out = per_layer_metrics(table, overhead)
        record["spans"] = [[dataclasses.asdict(s) for s in op] for op, _ in bench.traced_ops]
    record["metrics"] = out
    shutil.rmtree(work, ignore_errors=True)

    for k, v in out.items():
        print(f"{args.workload:7s} {k:40s} {v['value']:14.4f} {v['unit']}")
    # printed, not declared: one sample per fresh JVM is too noisy to gate
    # on, and fail_ratio is 0 whenever the program is correct
    print(f"{args.workload:7s} {'first_op_s':40s} {walls[0]:14.4f} s")
    print(f"{args.workload:7s} {'op_p50_s samples':40s} {len(steady):14d} ops")
    print(f"{args.workload:7s} {'fail_ratio':40s} {failed / attempted:14.4f} ratio "
          f"({failed}/{attempted} ops)")
    print("record " + json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
