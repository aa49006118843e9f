"""Per-layer tracing from outside the engine.

Layers are the package modules. The tracer wraps their public functions
where the callers resolve them: every module of the package and
``__spark_entry__`` gets each wrapped name rebound in its own namespace, so
a function imported by name (``read_parquet_table`` in the entry module and
in ``plans.sql``) is traced as well as one reached through a module
attribute (``G.``, ``T.``, ...). Nothing inside the engine changes; the
untraced run never installs a wrapper.

Each call records a span: layer, function, start, end, parent, query and
the Spark jobs launched while it was open (from ``setJobGroup`` per query
execution and the status tracker). A layer's self time is its spans'
durations minus their children's.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "inf_553_datamining_mapreduce_spark"

# Operator modules and the layer name each reports under.
OPERATOR_LAYERS = {
    f"{PKG}.operators.graph": "operators.graph",
    f"{PKG}.operators.frequent_itemsets": "operators.frequent_itemsets",
    f"{PKG}.operators.dedup": "operators.dedup",
    f"{PKG}.operators.text": "operators.text",
    f"{PKG}.operators.similarity": "operators.similarity",
    f"{PKG}.operators.multimodal": "operators.multimodal",
    f"{PKG}.operators.relational": "operators.relational",
    f"{PKG}.operators.olap": "operators.olap",
    f"{PKG}.operators.sketches": "operators.sketches",
    f"{PKG}.streaming.windows": "streaming.windows",
}

# Every layer a traced run reports, in output order. "entry" is the
# registry's own glue (plan building in the query functions); "exec" is
# the forcing noop write of the final plan.
LAYERS = (
    "entry",
    "readers",
    "plans_sql",
    "entry.memo",
    *OPERATOR_LAYERS.values(),
    "exec",
)


@dataclass
class Span:
    layer: str
    name: str
    query: str
    start: float
    parent: int | None
    end: float = 0.0
    jobs0: set = field(default_factory=set)
    jobs: list = field(default_factory=list)
    children_s: float = 0.0
    child_jobs: int = 0
    tags: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s

    @property
    def self_jobs(self) -> int:
        return len(self.jobs) - self.child_jobs


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._group: str | None = None
        self._query = ""
        self._n_exec = 0
        self._patched: list[tuple] = []
        self._memo_store: dict = {}

    # -- job accounting ---------------------------------------------------
    def _jobs(self) -> set:
        if self._group is None:
            return set()
        return set(self.tracker.getJobIdsForGroup(self._group))

    def begin_query(self, query: str) -> None:
        self._n_exec += 1
        self._query = query
        self._group = f"perfbench-{self._n_exec}-{query}"
        self.sc.setJobGroup(self._group, query)

    def end_query(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._group = None

    # -- spans ------------------------------------------------------------
    def open(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        span = Span(layer, name, self._query, time.perf_counter(), parent)
        span.jobs0 = self._jobs()
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.jobs = sorted(self._jobs() - span.jobs0)
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            parent = self.spans[span.parent]
            parent.children_s += span.end - span.start
            parent.child_jobs += len(span.jobs)
        return span

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        idx = self.open(layer, name)
        n_memo = len(self._memo_store)
        try:
            out = fn(*args, **kwargs)
        finally:
            span = self.close(idx)
        if layer == "readers":
            # A read whose plan ends in the reader's repartition is a
            # split scan.
            node = out._jdf.queryExecution().logical().nodeName()
            span.tags["split_scans"] = int(node == "RepartitionByExpression")
            parent = self.spans[span.parent] if span.parent is not None else None
            if parent is not None and parent.name == "register_views":
                parent.tags["views"] = parent.tags.get("views", 0) + 1
        elif layer == "entry.memo":
            built = len(self._memo_store) > n_memo
            span.tags["builds"] = int(built)
            span.tags["hits"] = int(not built)
        return out

    # -- installation -----------------------------------------------------
    def _wrapper(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(layer, fn.__name__, fn, *args, **kwargs)

        return traced

    def install(self, entry_module) -> None:
        """Rebind every traced function in every namespace that holds it."""
        self._memo_store = entry_module._EDGE_MEMO
        targets: dict[int, tuple] = {}

        def add(fn, layer):
            targets[id(fn)] = (fn, self._wrapper(layer, fn))

        readers = sys.modules[f"{PKG}.sources.readers"]
        sql = sys.modules[f"{PKG}.plans.sql"]
        add(readers.read_parquet_table, "readers")
        add(sql.register_views, "plans_sql")
        add(sql.run_sql, "plans_sql")
        for name in ("_memo", "_memo_multi"):
            add(getattr(entry_module, name), "entry.memo")
        for mod_name, layer in OPERATOR_LAYERS.items():
            mod = importlib.import_module(mod_name)
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                    and not name.startswith("_")
                ):
                    add(fn, layer)
        modules = [entry_module] + [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))
        ]
        for mod in modules:
            for name, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, val))

    def uninstall(self) -> None:
        for mod, name, val in reversed(self._patched):
            setattr(mod, name, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                row = {
                    "id": i,
                    "parent": sp.parent,
                    "query": sp.query,
                    "layer": sp.layer,
                    "name": sp.name,
                    "start": sp.start,
                    "end": sp.end,
                    "self_s": sp.self_s,
                    "jobs": sp.jobs,
                    **sp.tags,
                }
                fh.write(json.dumps(row) + "\n")

    # -- per-layer totals -------------------------------------------------
    def layer_totals(self) -> dict:
        out = defaultdict(float)
        for s in self.spans:
            out[f"{s.layer}.s"] += s.self_s
            out[f"{s.layer}.jobs"] += s.self_jobs
            out[f"{s.layer}.calls"] += 1
            for k, v in s.tags.items():
                out[f"{s.layer}.{k}"] += v
        return out
