"""Span tracing around the public functions of the sheep_spark layers.

The benchmark records spans from its own files: ``install`` replaces
module attributes with thin wrappers before the workload (or the CLI,
through ``cli_launcher``) resolves them, so both direct calls and the
library's own calls between modules go through a wrapper. With tracing
disabled a wrapper is one flag test and a call.

Each enabled span records its name, module, start, end, parent span and
run id, and sets a Spark job group, so that the jobs its calls ran can
be looked up afterwards (``SparkContext.statusTracker``) and their stages
summed from the status store. Spark is lazy: a job is charged to the
span whose call ran the action, not to the call that built the plan.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

LAYERS = ("session", "graph", "tree", "partitioner", "evaluate", "analytics")

# (module, public function) pairs that get a span: what the workloads
# reach today, the fused driver funnels a rerouted pipeline would reach,
# and the helpers behind each named extra (collect, kernel, upload, FFD,
# write).
WRAPPED = {
    "session": ("get_spark",),
    "graph": ("symmetrize", "symmetrize_canonical", "doubled_view", "vertices_from_edges",
              "edges_pos", "maybe_broadcast", "driver_sequence_arrays",
              "driver_sequence_tree_arrays", "vertices_df_from_arrays"),
    "tree": ("build_tree", "build_tree_arrays", "collect_native_columns",
             "collect_int64_columns", "tree_df_from_arrays", "load_tree", "load_sequence"),
    "partitioner": ("sheep_partition", "tree_to_arrays", "forward_partition", "assign_df",
                    "vertex_meta", "vertex_meta_from_arrays", "down_assign",
                    "write_partitioned"),
    "evaluate": ("evaluate",),
    "analytics": ("pagerank", "connected_components", "triangle_count"),
}

SPARK_FIELDS = ("spark_jobs", "spark_tasks", "task_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "failed_tasks")
LAYER_FIELDS = ("calls", "self_s") + SPARK_FIELDS
EXTRAS = (
    ("tree.kernel_s", "s"), ("tree.collect_s", "s"), ("tree.collect_rows", "count"),
    ("tree.upload_s", "s"), ("tree.upload_rows", "count"),
    ("partitioner.collect_s", "s"), ("partitioner.collect_rows", "count"),
    ("partitioner.ffd_s", "s"), ("partitioner.upload_s", "s"), ("partitioner.write_s", "s"),
    ("partitioner.output_bytes", "bytes"), ("partitioner.roundtrip_rows", "count"),
    ("evaluate.self_s.k8", "s"),
    ("analytics.pagerank_s", "s"), ("analytics.cc_s", "s"), ("analytics.cc_rounds", "count"),
    ("analytics.triangles_s", "s"),
    ("cli.partition_s", "s"), ("cli.partition_share", "ratio"),
    ("csweep.compiled", "count"),
    ("trace.uncovered_share", "ratio"), ("trace.overhead_s", "s"),
)
_FIELD_UNITS = {"calls": "count", "self_s": "s", "spark_jobs": "count", "spark_tasks": "count",
                "task_s": "s", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
                "spill_bytes": "bytes", "failed_tasks": "count"}


def per_layer_units() -> dict:
    """Every per-layer metric name → unit, in the order they are printed."""
    units = {f"{m}.{f}": _FIELD_UNITS[f] for m in LAYERS for f in LAYER_FIELDS}
    units.update(EXTRAS)
    return units


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path) for f in files)


class Tracer:
    """In-memory span log for one traced run; written out once, at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.context: dict = {}  # e.g. {"k": 8}, copied onto each span
        self.counters: dict[str, float] = {}
        self._stack: list[dict] = []
        self.setup_s: list[float] = []  # session.get_spark walls, traced or not
        self._uploaded: dict[int, tuple[object, int]] = {}
        self._seq = 0

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    @contextmanager
    def span(self, name: str, module: str | None = None):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        self._seq += 1
        rec = {"id": self._seq, "name": name, "module": module, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": None, **self.context}
        prev_group = None
        if sc is not None:
            rec["group"] = f"perfbench-{self.run_id}-{self._seq}"
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if sc is not None:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(prev_group, "")

    # -- named extras, recorded from a wrapped call's arguments and result

    def _extras(self, qual: str, rec: dict, args: tuple, kwargs: dict, out) -> None:
        dur = rec["end"] - rec["start"]
        if qual == "tree.build_tree_arrays":
            self.add("tree.kernel_s", dur)
        elif qual in ("tree.collect_native_columns", "tree.collect_int64_columns"):
            self.add("tree.collect_s", dur)
            self.add("tree.collect_rows", len(out[0]))
        elif qual == "tree.tree_df_from_arrays":
            rows = len(args[1]["parent"] if len(args) > 1 else kwargs["arrays"]["parent"])
            self.add("tree.upload_s", dur)
            self.add("tree.upload_rows", rows)
            self._uploaded[id(out)] = (out, rows)
        elif qual == "partitioner.tree_to_arrays":
            tree_df = args[0] if args else kwargs["tree_df"]
            self.add("partitioner.collect_s", dur)
            self.add("partitioner.collect_rows", len(out[0]))
            if id(tree_df) in self._uploaded:
                self.add("partitioner.roundtrip_rows", self._uploaded[id(tree_df)][1])
        elif qual == "partitioner.forward_partition":
            self.add("partitioner.ffd_s", dur)
        elif qual in ("partitioner.assign_df", "partitioner.vertex_meta_from_arrays"):
            self.add("partitioner.upload_s", dur)
        elif qual == "partitioner.write_partitioned":
            self.add("partitioner.write_s", dur)
            self.add("partitioner.output_bytes", _dir_bytes(args[1] if len(args) > 1 else kwargs["path"]))
        elif qual == "analytics.pagerank":
            self.add("analytics.pagerank_s", dur)
        elif qual == "analytics.connected_components":
            self.add("analytics.cc_s", dur)
            self.add("analytics.cc_rounds", out[1]["iterations"])
        elif qual == "analytics.triangle_count":
            self.add("analytics.triangles_s", dur)

    def wrap(self, module: str, fname: str, fn):
        qual = f"{module}.{fname}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if qual == "session.get_spark" and not self.enabled:
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                self.setup_s.append(time.perf_counter() - t0)
                return out
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(qual, module) as rec:
                out = fn(*args, **kwargs)
            if qual == "session.get_spark":
                self.setup_s.append(rec["end"] - rec["start"])
            self._extras(qual, rec, args, kwargs, out)
            return out

        traced.perfbench_original = fn
        return traced

    def collect_spark(self, sc) -> None:
        """Attach per-span Spark job and stage totals. Call before the
        SparkContext stops; waits for the listener bus so that the status
        store has seen every finished job."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        for rec in self.spans:
            if rec.get("group") is None or "spark_jobs" in rec:
                continue
            totals = dict.fromkeys(SPARK_FIELDS, 0)
            job_ids = sorted(tracker.getJobIdsForGroup(rec["group"]))
            stages: set[int] = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            for sid in stages:
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                totals["spark_tasks"] += sd.numTasks()
                totals["task_s"] += sd.executorRunTime() / 1000.0
                totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
                totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                totals["failed_tasks"] += sd.numFailedTasks()
            totals["spark_jobs"] = len(job_ids)
            rec["job_ids"] = job_ids
            rec.update(totals)


def install(tracer: Tracer) -> dict:
    """Wrap every function in WRAPPED and rebind each module-level
    reference to it across the loaded sheep_spark modules. Returns
    {qualified name: wrapper}."""
    import importlib

    for m in LAYERS:
        importlib.import_module(f"sheep_spark.{m}")
    wrappers = {}
    swaps = {}
    for m, names in WRAPPED.items():
        mod = sys.modules[f"sheep_spark.{m}"]
        for fname in names:
            fn = getattr(mod, fname)
            w = tracer.wrap(m, fname, fn)
            wrappers[f"{m}.{fname}"] = w
            swaps[id(fn)] = (fn, w)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == "sheep_spark" or name.startswith("sheep_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            hit = swaps.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    return wrappers


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of it its child spans cover
    (children of one span run one after another)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans}


def covered_seconds(spans: list[dict], lo: float, hi: float) -> float:
    """Length of the union of top-level span intervals inside [lo, hi]."""
    ivs = sorted((max(s["start"], lo), min(s["end"], hi)) for s in spans
                 if s["parent"] is None and s["end"] > lo and s["start"] < hi)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(spans: list[dict], counters: dict) -> dict:
    """Per-layer totals plus the named extras, every per-layer name present."""
    out = dict.fromkeys(per_layer_units(), 0)
    selfs = self_times(spans)
    for s in spans:
        m = s["module"]
        if m not in LAYERS:
            continue
        out[f"{m}.calls"] += 1
        out[f"{m}.self_s"] += selfs[s["id"]]
        for f in SPARK_FIELDS:
            out[f"{m}.{f}"] += s.get(f, 0)
        if m == "evaluate" and f"evaluate.self_s.k{s.get('k')}" in out:
            out[f"evaluate.self_s.k{s['k']}"] += selfs[s["id"]]
    for k, v in counters.items():
        out[k] += v
    return out


def missing_calls(spans: list[dict], expected: tuple[str, ...]) -> list[str]:
    seen = {s["name"] for s in spans}
    return [q for q in expected if q not in seen]
