"""Spans, per-job-group Spark accounting and layer attribution.

Tracing is done from outside the package: ``Tracer.wrap`` replaces a
module attribute with a wrapper that opens a span and gives the call its
own Spark job group, so the jobs it submits can be read back from the
status store afterwards.  Spans stay in memory until the run ends.

Lazy layers (a function that only builds a DataFrame) submit no job of
their own; their jobs run inside the caller's action.  Their cost comes
from cumulative-prefix probes instead (scan, then scan + parse, ...): a
layer's cost is the difference between consecutive prefixes, and that
cost is carved out of the span whose action actually ran it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import time
from collections.abc import Callable
from dataclasses import dataclass, field

# Spark metrics summed per job group; the layer table reports these plus
# wall_s and idle_core_s.
COUNTS = ("jobs", "stages", "tasks")
ADDITIVE = ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
ROWS = ("rows_in", "rows_out")
# every layer's metric -> unit, in report order
LAYER_METRICS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s", "idle_core_s": "core-s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_in": "rows", "rows_out": "rows",
}


@dataclass
class Span:
    name: str
    layer: str
    group: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its direct children
    cover (children of one parent run one after another, never overlap)."""
    own = [s.duration for s in spans]
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.duration
    return own


@dataclass
class Tracer:
    """Records spans; ``set_group`` is called with a job-group name (or
    None to clear it) whenever the innermost open span changes."""

    set_group: Callable[[str | None], None]
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        op = self.spans[self._stack[0]].name if self._stack else name
        idx = len(self.spans)
        group = f"{op}/{layer}#{idx}"
        self.spans.append(Span(name, layer, group, time.perf_counter(), parent=parent))
        self._stack.append(idx)
        self.set_group(group)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self.set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def wrap(self, module, attr: str, layer: str):
        """Patch ``module.attr`` with a span-opening wrapper; returns an
        undo callable."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(attr, layer):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, fn)

    def op_spans(self, root: int) -> list[Span]:
        """The spans recorded since top-level span ``root`` opened (ops run
        one at a time), re-indexed so that the root is 0."""
        return [dataclasses.replace(s, parent=None if s.parent is None else s.parent - root)
                for s in self.spans[root:]]


def group_metrics(sc, group: str) -> dict:
    """Sum the status-store metrics of every job submitted under
    ``group``.  Needs no UI: the store is kept with spark.ui.enabled=false.
    A stage shared by several jobs of the group counts once; skipped
    stages (shuffle output reused) count as nothing."""
    store = sc._jsc.sc().statusStore()
    jids = sc.statusTracker().getJobIdsForGroup(group)
    m = dict.fromkeys(COUNTS + ADDITIVE + ROWS, 0.0)
    m["jobs"] = float(len(jids))
    seen = set()
    for jid in jids:
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += st.numCompleteTasks()
                m["exec_run_s"] += st.executorRunTime() / 1e3
                m["exec_cpu_s"] += st.executorCpuTime() / 1e9
                m["gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                m["rows_in"] += st.inputRecords()
                m["rows_out"] += st.outputRecords()
    return m


def empty_layer() -> dict:
    return dict.fromkeys(LAYER_METRICS, 0.0)


def span_layers(spans: list[Span], metrics: list[dict]) -> dict[str, dict]:
    """Layer table of one op from its spans (index 0 = the op root) and
    each span's group metrics: wall_s is self time, Spark metrics are the
    span's own job group."""
    out: dict[str, dict] = {}
    for s, own, m in zip(spans, self_times(spans), metrics):
        row = out.setdefault(s.layer, empty_layer())
        row["wall_s"] += own
        for k in COUNTS + ADDITIVE + ROWS:
            row[k] += m[k]
    return out


def carve(layers: dict[str, dict], host: str, parts: dict[str, dict]) -> None:
    """Move the prefix-probe layers ``parts`` out of ``host``, in place.

    The wall and additive Spark metrics moved are capped at what the host
    holds, scaling all parts down together, so the layers' wall_s still
    sum to the op's wall time.  The probe layers' job/stage/task counts
    and row counts are their own: a fused layer adds no job to the host,
    and rows are not additive across layers."""
    h = layers.setdefault(host, empty_layer())
    for k in ("wall_s",) + ADDITIVE:
        want = sum(p[k] for p in parts.values())
        scale = min(1.0, h[k] / want) if want > 0 else 0.0
        for name, p in parts.items():
            row = layers.setdefault(name, empty_layer())
            moved = p[k] * scale
            row[k] += moved
            h[k] -= moved
    for name, p in parts.items():
        for k in COUNTS + ROWS:
            layers[name][k] += p[k]


def prefix_layers(probes: dict[str, dict], chain: list[tuple[str | None, str]]) -> dict[str, dict]:
    """``chain`` is [(layer, probe), ...] in prefix order; each layer's
    cost is its probe minus the previous probe, floored at zero.  A None
    layer is a baseline prefix that is not reported.  A layer's rows_in
    is the previous prefix's output rows and its rows_out its own; the
    first prefix reads its scan's input records."""
    out, prev = {}, None
    for layer, probe in chain:
        cur = probes[probe]
        if layer is not None:
            row = {k: max(0.0, cur[k] - (prev[k] if prev else 0.0))
                   for k in ("wall_s",) + COUNTS + ADDITIVE}
            row["rows_in"] = prev["rows"] if prev else cur["rows_in"]
            row["rows_out"] = cur["rows"]
            out[layer] = row
        prev = cur
    return out


def finish_idle(layers: dict[str, dict], cores: int) -> None:
    """idle_core_s = wall × cores − executor run time: the core-seconds a
    layer held without running a task (per-job fixed overhead)."""
    for row in layers.values():
        row["idle_core_s"] = max(0.0, row["wall_s"] * cores - row["exec_run_s"])
