"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loggen  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402

SMALL = loggen.Shape(lines=3000, files=4, gz_share=0.5)


def _read_all(files):
    out = {}
    for f in files:
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = fh.read()
    return out


def _lines(files):
    for f in files:
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            yield from fh.read().splitlines()


# ---------------------------------------------------------------- generator


def test_same_seed_gives_identical_bytes(tmp_path):
    a, ta = loggen.generate(str(tmp_path / "a"), 5, SMALL)
    b, tb = loggen.generate(str(tmp_path / "b"), 5, SMALL)
    assert _read_all(a) == _read_all(b)
    assert ta.as_dict() == tb.as_dict()
    assert sum(f.endswith(".log.gz") for f in a) == 2


def test_other_seed_gives_other_bytes(tmp_path):
    a, _ = loggen.generate(str(tmp_path / "a"), 5, SMALL)
    b, _ = loggen.generate(str(tmp_path / "b"), 6, SMALL)
    assert _read_all(a) != _read_all(b)


def test_tally_counts_nonblank_lines(tmp_path):
    files, tally = loggen.generate(str(tmp_path), 3, SMALL)
    t = tally.as_dict()
    lines = list(_lines(files))
    assert len(lines) == SMALL.lines
    assert t["rows"] == sum(1 for x in lines if x.strip())
    assert t["rows"] < SMALL.lines  # some blank lines were generated
    assert sum(t["status_class"].values()) == t["rows"]
    assert sum(t["status"].values()) == t["rows"]
    assert sum(t["per_day"].values()) == t["rows"]
    assert sorted(t["per_day"]) == ["2025-11-08", "2025-11-09", "2025-11-10"]


def test_tally_matches_the_package_parser(tmp_path):
    """The tallies are what the real parser recovers, fallback lines
    included (pure-pandas parse, no Spark session)."""
    pd = pytest.importorskip("pandas")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    parse = pytest.importorskip("python_fastly_log_query_spark.operators.parse")
    files, tally = loggen.generate(str(tmp_path), 9, SMALL)
    t = tally.as_dict()
    out = parse.parse_lines_pdf(pd.Series(list(_lines(files))))
    out = out[out["_keep"]]
    assert len(out) == t["rows"]
    fast = parse.FAST_PATTERN
    n_fallback = sum(1 for x in _lines(files) if x.strip() and not fast.match(x.strip()))
    assert 0.01 < n_fallback / t["rows"] < 0.04
    status = out["status_code"].astype(int).astype(str).value_counts().to_dict()
    assert status == t["status"]
    days = out["timestamp"].dt.strftime("%Y-%m-%d").value_counts().to_dict()
    assert days == t["per_day"]


# ---------------------------------------------------------------- checks


def _report(t: dict) -> dict:
    return {"traffic": {"total_requests": t["rows"], "requests_per_day": dict(t["per_day"])},
            "errors": {"status_code_distribution": dict(t["status"])}}


def test_correct_report_passes(tmp_path):
    _, tally = loggen.generate(str(tmp_path), 4, SMALL)
    t = tally.as_dict()
    assert run.check_report(_report(t), t) == []


@pytest.mark.parametrize("corrupt", ["total", "status", "day", "missing"])
def test_corrupted_report_fails(tmp_path, corrupt):
    _, tally = loggen.generate(str(tmp_path), 4, SMALL)
    t = tally.as_dict()
    rep = _report(t)
    if corrupt == "total":
        rep["traffic"]["total_requests"] += 1
    elif corrupt == "status":
        rep["errors"]["status_code_distribution"]["200"] -= 1
    elif corrupt == "day":
        rep["traffic"]["requests_per_day"]["2025-11-09"] += 1
    else:
        del rep["errors"]
    assert run.check_report(rep, t)


def test_digest_ledger_flags_a_changed_report(tmp_path):
    path = str(tmp_path / "digests.json")
    ledger = run.DigestLedger(path)
    assert ledger.check("query:1", "aa") == []
    assert ledger.check("query:1", "aa") == []
    ledger.save()
    again = run.DigestLedger(path)
    assert again.check("query:1", "bb")
    assert again.check("query:2", "bb") == []


# ---------------------------------------------------------------- spans


def _span(name, layer, start, end, parent=None):
    return sp.Span(name, layer, f"g/{name}", start, end, parent)


def _op_spans():
    # op 0..10 s: checkpoint 1..4, route 5..7, report 7..9.5 with a nested
    # span 8..9 of the same layer
    return [
        _span("op", "cli", 0.0, 10.0),
        _span("run_incremental", "plans.checkpoint", 1.0, 4.0, 0),
        _span("write_routed", "operators.route", 5.0, 7.0, 0),
        _span("full_report", "operators.report", 7.0, 9.5, 0),
        _span("inner", "operators.report", 8.0, 9.0, 3),
    ]


def test_self_time_subtracts_direct_children():
    spans = _op_spans()
    assert sp.self_times(spans) == pytest.approx([2.5, 3.0, 2.0, 1.5, 1.0])
    assert sum(sp.self_times(spans)) == pytest.approx(spans[0].duration)


def test_tracer_nests_spans_and_restores_groups():
    calls = []
    t = sp.Tracer(calls.append)
    with t.span("op3", "cli"):
        with t.span("full_report", "operators.report"):
            pass
        with t.span("write_routed", "operators.route"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert calls == ["op3/cli#0", "op3/operators.report#1", "op3/cli#0",
                     "op3/operators.route#2", "op3/cli#0", None]
    op = t.op_spans(0)
    assert [s.name for s in op] == ["op3", "full_report", "write_routed"]


def test_tracer_wrap_patches_and_undoes():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t = sp.Tracer(lambda g: None)
    undo = t.wrap(Mod, "f", "operators.route")
    assert Mod.f(1) == 2
    assert [(s.name, s.layer) for s in t.spans] == [("f", "operators.route")]
    undo()
    Mod.f(1)
    assert len(t.spans) == 1


def _metrics(**kw):
    m = dict.fromkeys(sp.COUNTS + sp.ADDITIVE + sp.ROWS, 0.0)
    m.update(kw)
    return m


def _probe(wall, rows, rows_in=0.0):
    return {**_metrics(jobs=1.0, rows_in=rows_in), "wall_s": wall, "rows": rows}


def _attribute(probes):
    spans = _op_spans()
    layers = sp.span_layers(spans, [_metrics(jobs=1.0, exec_run_s=1.0)] * len(spans))
    parts = sp.prefix_layers(probes, [("sources.logfiles", "scan"), ("operators.parse", "parse")])
    sp.carve(layers, "plans.checkpoint", parts)
    enrich = sp.prefix_layers(probes, [(None, "read"), ("operators.enrich", "enrich")])
    sp.carve(layers, "operators.route", enrich)
    sp.finish_idle(layers, cores=4)
    return spans[0].duration, layers


def test_prefix_attribution_sums_to_op_wall():
    probes = {"scan": _probe(0.5, 1000, rows_in=1000), "parse": _probe(2.0, 990),
              "read": _probe(0.3, 990), "enrich": _probe(0.8, 990)}
    wall, layers = _attribute(probes)
    assert layers["sources.logfiles"]["wall_s"] == pytest.approx(0.5)
    assert layers["operators.parse"]["wall_s"] == pytest.approx(1.5)
    assert layers["operators.enrich"]["wall_s"] == pytest.approx(0.5)
    assert layers["plans.checkpoint"]["wall_s"] == pytest.approx(1.0)
    assert layers["operators.route"]["wall_s"] == pytest.approx(1.5)
    assert sum(r["wall_s"] for r in layers.values()) == pytest.approx(wall, abs=1e-9)
    assert layers["operators.parse"]["rows_in"] == 1000
    assert layers["operators.parse"]["rows_out"] == 990
    assert all(r["idle_core_s"] >= 0 for r in layers.values())


def test_prefix_attribution_caps_at_the_host():
    # the probes cost more than the checkpoint span held: the parts are
    # scaled down together and the total still equals the op's wall time
    probes = {"scan": _probe(1.0, 1000), "parse": _probe(6.0, 990),
              "read": _probe(0.3, 990), "enrich": _probe(0.8, 990)}
    wall, layers = _attribute(probes)
    assert layers["plans.checkpoint"]["wall_s"] == pytest.approx(0.0)
    assert layers["sources.logfiles"]["wall_s"] == pytest.approx(0.5)
    assert layers["operators.parse"]["wall_s"] == pytest.approx(2.5)
    assert sum(r["wall_s"] for r in layers.values()) == pytest.approx(wall, abs=1e-9)


def test_per_layer_metric_names_match_benchmark_json():
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    table = {layer: sp.empty_layer() for layer in run.LAYERS}
    emitted = run.per_layer_metrics(table, 0.0)
    assert sorted(emitted) == sorted(m["name"] for m in spec["per_layer"])
    assert all(emitted[m["name"]]["unit"] == m["unit"] for m in spec["per_layer"])
    assert sorted(run.E2E_UNITS) == sorted(m["name"] for m in spec["end_to_end"])
    assert sorted(run.WORKLOADS) == sorted(w["name"] for w in spec["workloads"])
