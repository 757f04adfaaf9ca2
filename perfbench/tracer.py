"""Span tracer for the benchmark: layer spans plus Spark's own SQL metrics.

A span records name, layer, start, end, parent, run id, the JVM GC time
spent inside it and the ids of the SQL executions that started inside it.
Spans come from two places, both in the benchmark's files:

* wrappers installed around the public functions of each engine layer
  (``install``), so a call made by the engine itself, e.g. the
  ``tableio.upsert`` inside ``incremental_rollup_tiers``, is a child span;
* ``span(...)`` blocks the workloads open around the actions that force a
  layer's lazy output, e.g. the parquet write of a rollup.

SQL executions are read from Spark's status store
(``spark._jsparkSession.sharedState().statusStore()``) by ``collect`` at
the end of a run, not while it is timed; each plan graph is fetched as one
DOT string and parsed here, so one execution costs three gateway calls.
Spans stay in memory until ``write``.
"""

from __future__ import annotations

import functools
import html
import json
import re
import sys
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "python_vegindex_spark"

# (module, public functions, layer). Layer names follow the package's modules;
# ``rollup`` stands for operators.rollup + operators.multitier and ``codecs``
# for codecs.chunks + codecs.gorilla.
LAYER_FUNCTIONS: list[tuple[str, tuple[str, ...], str]] = [
    ("session", ("get_spark",), "session"),
    ("sources.bronze", ("read_turns",), "sources.bronze"),
    (
        "operators.features",
        ("turn_features", "turn_features_physical", "derive_features"),
        "operators.features",
    ),
    ("operators.rollup", ("rollup",), "rollup"),
    ("operators.multitier", ("rollup_tiers",), "rollup"),
    # codecs.gorilla runs only inside Python workers; its time is read from
    # the MapInPandas nodes of the plans instead
    ("codecs.chunks", ("encode_chunks", "decode_chunks"), "codecs"),
    (
        "streaming.incremental",
        (
            "incremental_rollup_tiers", "extend_chunks", "compact_retention",
            "compact_gold_retention", "read_tiered",
        ),
        "streaming.incremental",
    ),
    ("sources.tableio", ("read", "append", "overwrite", "upsert", "compact"),
     "sources.tableio"),
    ("operators.terms", ("cosine_pairs", "bm25_search"), "operators.terms"),
]

LAYERS = [
    "session", "sources.bronze", "operators.features", "rollup", "codecs",
    "streaming.incremental", "sources.tableio", "operators.terms",
]

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NODE_RE = re.compile(
    r'\n\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" '
    r'tooltip="(.*?)"\];',
    re.S,
)


def parse_metric(text: str) -> float | None:
    """Leading total of a Spark SQL metric string, in bytes, seconds or
    units: ``"3.8 MiB (1.0 MiB, ...)"`` -> 3984588.8, ``"2.2 s"`` -> 2.2,
    ``"21,966"`` -> 21966. None for a value without a total, such as a
    bare per-task ``"(1, 1, 1 (stage 3.0: task 7))"``."""
    tok = text.strip().split("(")[0].split()
    if not tok:
        return None
    try:
        num = float(tok[0].replace(",", ""))
    except ValueError:
        return None
    if len(tok) == 1:
        return num
    unit = tok[1]
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return None


def parse_plan_dot(dot: str) -> list[tuple[str, str, dict[str, float]]]:
    """(node name, node description, {metric name: value}) for every node
    of ``SparkPlanGraph.makeDotFile`` output."""
    nodes = []
    for _nid, label, tooltip in _NODE_RE.findall(dot):
        parts = [p for p in html.unescape(label).split("<br>")]
        name, metrics, pending = "", {}, None
        for p in parts:
            key, value = None, None
            if p.startswith("<b>"):
                name = p[3:].split("</b>")[0].strip()
            elif pending is not None:
                key, value, pending = pending, parse_metric(p), None
            elif p.rstrip(":").endswith("(min, med, max (stageId: taskId))"):
                # a per-task summary: the value is on the next line
                pending = p.split(" (min, med, max")[0].removesuffix(" total")
            elif ": " in p:
                key, v = p.rsplit(": ", 1)
                value = parse_metric(v)
            if value is not None:
                metrics[key] = value
        nodes.append((name, html.unescape(tooltip), metrics))
    return nodes


@dataclass
class Execution:
    """The figures of one SQL execution the benchmark aggregates."""

    id: int
    submit_ms: int
    duration_s: float
    description: str
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    written_bytes: float = 0.0
    written_files: float = 0.0
    written_rows: float = 0.0
    # per scan: (location text, files read, rows out)
    scans: list[tuple[str, float, float]] = field(default_factory=list)
    # MapInPandas nodes: function name -> (run s, start+init s)
    python: dict[str, tuple[float, float]] = field(default_factory=dict)

    @classmethod
    def from_store(cls, store, ui) -> "Execution":
        eid = int(ui.executionId())
        done = ui.completionTime()
        end_ms = done.get().getTime() if done.isDefined() else ui.submissionTime()
        ex = cls(
            id=eid,
            submit_ms=int(ui.submissionTime()),
            duration_s=(end_ms - ui.submissionTime()) / 1000.0,
            description=str(ui.description())[:120],
        )
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        for name, desc, m in parse_plan_dot(dot):
            ex.shuffle_bytes += m.get("shuffle bytes written", 0.0)
            ex.spill_bytes += m.get("spill size", 0.0)
            if "written output" in m:
                ex.written_bytes += m["written output"]
                ex.written_files += m.get("number of written files", 0.0)
                ex.written_rows += m.get("number of output rows", 0.0)
            if name.startswith("Scan parquet"):
                loc = desc.split("Location: ", 1)[-1].split(",")[0]
                ex.scans.append(
                    (loc, m.get("number of files read", 0.0),
                     m.get("number of output rows", 0.0))
                )
            if name == "MapInPandas":
                fn = desc.split()[1].split("(")[0] if len(desc.split()) > 1 else ""
                run, start = ex.python.get(fn, (0.0, 0.0))
                ex.python[fn] = (
                    run + m.get("time to run Python workers", 0.0),
                    start
                    + m.get("time to start Python workers", 0.0)
                    + m.get("time to initialize Python workers", 0.0),
                )
        return ex


@dataclass
class Span:
    name: str
    layer: str | None
    start: float  # perf_counter seconds
    end: float
    start_ms: int  # wall clock epoch ms, the status store's clock
    end_ms: int
    parent: int | None
    index: int
    run_id: str
    gc_s: float = 0.0
    attrs: dict = field(default_factory=dict)
    executions: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call and per ``span`` block."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.executions: dict[int, Execution] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._spark = None
        self._store = None
        self._gc_beans = None
        self._next_exec = 0
        self._id_base = 0
        # qualname -> fn(args, kwargs, result) -> span attributes, run inside
        # the span after the wrapped call returns
        self.hooks: dict[str, Callable[[tuple, dict, object], dict]] = {}

    # -- session binding ------------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a live session: status store and GC beans."""
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._next_exec = self._max_exec_id() + 1
        # a new session numbers its executions from 0 again: keep the ids
        # of every session's executions apart
        self._id_base = max(self.executions, default=-1) + 1

    def _max_exec_id(self) -> int:
        n = int(self._store.executionsCount())
        if n == 0:
            return -1
        return int(self._store.executionsList(n - 1, 1).apply(0).executionId())

    def gc_seconds(self) -> float:
        if not self._gc_beans:
            return 0.0
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000.0

    def collect(self) -> None:
        """Read every SQL execution not yet read and assign executions to
        the spans they started in. Waits first until Spark's listener bus
        has delivered every event, so each execution is complete, with its
        final metrics. Call before the session stops."""
        if self._store is None:
            return
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        last = self._max_exec_id()
        while self._next_exec <= last:
            ui = self._store.execution(self._next_exec)
            if ui.isDefined():
                ex = Execution.from_store(self._store, ui.get())
                ex.id += self._id_base
                self.executions[ex.id] = ex
            self._next_exec += 1
        for sp in self.spans:
            sp.executions = [
                e.id for e in self.executions.values()
                if sp.start_ms <= e.submit_ms <= sp.end_ms
            ]

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str | None, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.perf_counter(), 0.0, int(time.time() * 1000),
                  0, parent, idx, self.run_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        gc0 = self.gc_seconds()
        try:
            yield attrs
        finally:
            sp.end = time.perf_counter()
            sp.end_ms = int(time.time() * 1000) + 1
            sp.gc_s = self.gc_seconds() - gc0
            self._stack.pop()

    def _wrap(self, fn, layer: str, qualname: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(qualname, layer) as attrs:
                out = fn(*args, **kwargs)
                hook = tracer.hooks.get(qualname)
                if hook is not None:
                    attrs.update(hook(args, kwargs, out))
                return out

        return traced

    def install(self) -> None:
        """Wrap each layer function wherever the package (or the
        benchmark) holds a reference to it, so engine-internal calls are
        traced too."""
        import importlib

        for mod_name, names, layer in LAYER_FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = self._wrap(orig, layer, f"{mod_name}.{fname}")
                for m in list(sys.modules.values()):
                    mname = getattr(m, "__name__", "") or ""
                    if not (mname.startswith(PACKAGE) or mname.startswith("perfbench")):
                        continue
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)
                            self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    # -- aggregation ------------------------------------------------------
    def layer_spans(self, layer: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        ]

    def outermost(self, spans: list[Span]) -> list[Span]:
        """Drop spans nested inside another span of the same list, so
        inclusive times are not counted twice."""
        ids = {s.index for s in spans}
        out = []
        for s in spans:
            p = s.parent
            while p is not None and p not in ids:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def busy(self, spans: list[Span]) -> float:
        return sum(s.duration for s in self.outermost(spans))

    def execs_of(self, spans: list[Span]) -> list[Execution]:
        ids = sorted({i for s in spans for i in s.executions})
        return [self.executions[i] for i in ids]

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s.layer is None:
                continue
            kids = [(c.start, c.end) for c in children.get(s.index, [])]
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - covered(kids)
        return out

    def write(self, path: str) -> None:
        """One JSON line per span, then one per SQL execution a span holds."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": s.run_id, "index": s.index, "parent": s.parent,
                    "name": s.name, "layer": s.layer,
                    "start_ms": s.start_ms, "end_ms": s.end_ms,
                    "duration_s": s.duration, "gc_s": s.gc_s,
                    "executions": s.executions,
                    "attrs": {k: v for k, v in s.attrs.items()
                              if isinstance(v, (int, float, str, bool))},
                }) + "\n")
            for e in self.execs_of(self.spans):
                f.write(json.dumps({"run_id": self.run_id, "execution": vars(e)}) + "\n")
