"""Layer attribution for a traced run: spans from wrappers around the
repo's public functions, folded with Spark's event log.

Each wrapped call records a span (layer, function, parent span, op id,
start, end) in memory and sets a Spark job group named after the span,
so every job, task and SQL execution the call launches carries the
span id in the event log. Spark is lazy: a function that only builds a
plan (``link_symbols``, ``canonicalize_nodes``) has a short span, and
its compute runs inside whichever span triggers the action
(``storage.write_partitioned`` in a build). The per-operator
Python-worker metrics in the event log are what split that work back
to ``operators.segment`` / ``operators.triples`` / ``operators.linking``:
each ``MapInPandas``/``MapInArrow`` plan node is classified by the
columns it emits.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from contextlib import contextmanager

# (module or module:Class, attribute, layer). Attributes are patched
# where the caller looks them up: pipeline.py imports most names at module load,
# and the build resolves build_edges_fused / link_symbols' helpers from
# their own modules at call time.
WRAP_TARGETS = [
    ("pawpaw_spark.pipeline", "build_kg", "pipeline"),
    ("pawpaw_spark.pipeline", "run_stage", "lineage"),
    ("pawpaw_spark.pipeline", "stage_fingerprints", "lineage"),
    ("pawpaw_spark.lineage:LineageLog", "completed", "lineage"),
    ("pawpaw_spark.lineage:LineageLog", "record", "lineage"),
    ("pawpaw_spark.pipeline", "with_sha256", "operators.segment"),
    ("pawpaw_spark.pipeline", "check_sha256_invariant", "operators.segment"),
    ("pawpaw_spark.pipeline", "segment_by_lang", "operators.segment"),
    ("pawpaw_spark.operators.triples", "build_edges_fused", "operators.triples"),
    ("pawpaw_spark.pipeline", "build_edges", "operators.triples"),
    ("pawpaw_spark.pipeline", "build_nodes", "operators.triples"),
    ("pawpaw_spark.pipeline", "link_symbols", "operators.linking"),
    ("pawpaw_spark.pipeline", "canonicalize_nodes", "operators.canon"),
    ("pawpaw_spark.pipeline", "rewrite_edges_canonical", "operators.canon"),
    ("pawpaw_spark.pipeline", "write_partitioned", "storage"),
    ("pawpaw_spark.operators.sparql", "sparql", "operators.sparql"),
]

# Python-UDF plan nodes -> layer, by the columns the node emits
_UDF_LAYERS = [
    ({"subj", "pred", "obj"}, "operators.triples"),
    ({"seg_id", "parent_id"}, "operators.segment"),
    ({"sig"}, "operators.linking"),
    ({"a", "b", "score"}, "operators.linking"),
]
_UDF_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_init_ms",
    "time to initialize Python workers": "py_start_init_ms",
    "data returned from Python workers": "arrow_bytes_out",
    "data sent to Python workers": "arrow_bytes_in",
    "number of output rows": "rows_out",
}
_WRITE_METRICS = {"number of written files": "files_written", "written output": "bytes_written"}
_OUT_COLS = re.compile(r"\)#\d+, \[([^\]]*)\]")


def _resolve(path: str):
    """``package.module`` or ``package.module:Class`` -> the object."""
    import importlib

    mod_path, _, cls = path.partition(":")
    obj = importlib.import_module(mod_path)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """Spans of one traced run. ``install`` patches the wrap targets,
    ``uninstall`` restores them; ``paused`` runs the benchmark's own
    verification work outside any layer span."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._paused = False
        self.op = None
        self.workload = None
        # (workload, buckets) per run_stage call / per LineageLog.record
        self.bucket_totals: list[tuple[str, int]] = []
        self.buckets_pending: list[tuple[str, int]] = []

    # -- job groups -------------------------------------------------------
    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def _idle_group(self) -> str:
        return self._stack[-1]["id"] if self._stack else "bench.driver"

    @contextmanager
    def span(self, layer: str, name: str):
        if self._paused:
            yield None
            return
        sp = {
            "id": f"{layer}#{len(self.spans)}", "layer": layer, "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "workload": self.workload, "op": self.op,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._idle_group())

    @contextmanager
    def paused(self):
        self._paused = True
        self._set_group("bench.verify")
        try:
            yield
        finally:
            self._paused = False
            self._set_group(self._idle_group())

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name):
                if name == "record" and not tracer._paused:
                    # LineageLog.record(self, spark, rows): one row per
                    # bucket a per-bucket stage recomputed
                    tracer.buckets_pending.append((tracer.workload, sum(
                        r["stage"] not in ("canon", "analytics") for r in args[2])))
                out = fn(*args, **kwargs)
                if name == "run_stage" and not tracer._paused:
                    tracer._count_buckets(kwargs.get("fps"))
                return out

        return wrapper

    def _count_buckets(self, fps) -> None:
        # total buckets of the stage input: fps is cached by build_kg,
        # so this is an in-memory count, run outside every layer group
        if fps is None:
            return
        self._set_group("bench.probe")
        self.bucket_totals.append((self.workload, fps.count()))
        self._set_group(self._idle_group())

    def install(self) -> None:
        for path, attr, layer in WRAP_TARGETS:
            owner = _resolve(path)
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, layer, attr))
        self._set_group("bench.driver")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


# -- event log ---------------------------------------------------------------

def _events(log_dir: str):
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(".")
        and "appstatus" not in os.path.basename(f)
    )
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _classify_plan(node: dict, acc_class: dict) -> None:
    """acc id -> (layer, metric) for Python-UDF, write and scoring nodes."""
    name = node.get("nodeName", "")
    metrics = node.get("metrics", [])
    if name in ("MapInPandas", "MapInArrow"):
        m = _OUT_COLS.search(node.get("simpleString", ""))
        cols = {re.sub(r"#\d+L?$", "", c.strip()) for c in (m.group(1).split(",") if m else [])}
        layer = next((ly for need, ly in _UDF_LAYERS if need <= cols), "other.python")
        scoring = {"a", "b", "score"} <= cols
        for mt in metrics:
            key = _UDF_METRICS.get(mt["name"])
            if key == "rows_out" and scoring:
                key = "match_edges"
            if key:
                acc_class[mt["accumulatorId"]] = (layer, key)
        if scoring:
            # scored pairs in = the candidate pairs: the row count of the
            # nearest descendant that reports one (candidate_pairs' distinct)
            child = node["children"][0] if node.get("children") else None
            while child is not None:
                rows = [mt for mt in child.get("metrics", []) if mt["name"] == "number of output rows"]
                if rows:
                    acc_class[rows[0]["accumulatorId"]] = ("operators.linking", "candidate_pairs")
                    break
                child = child["children"][0] if child.get("children") else None
    for mt in metrics:
        if mt["name"] in _WRITE_METRICS:
            acc_class[mt["accumulatorId"]] = ("write", _WRITE_METRICS[mt["name"]])
    for c in node.get("children", []):
        _classify_plan(c, acc_class)


def _covered_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


SPAN_KEYS = ("jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_write_bytes",
             "spill_bytes", "failed_tasks", "driver_gap_ms")


def fold(log_dir: str, spans: list[dict]) -> dict:
    """Fold the event log by job group. Returns
    ``{"spans": {span_id: {...}}, "udf": {(group, layer, metric): v},
    "writes": {(group, metric): v}}``; groups are span ids."""
    job_group: dict[int, str] = {}
    job_times: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    acc_class: dict[int, tuple[str, str]] = {}
    per_group: dict[str, dict] = {}
    stages_seen: dict[str, set] = {}
    udf: dict[tuple[str, str, str], float] = {}
    writes: dict[tuple[str, str], float] = {}
    task_rows: list[dict] = []
    driver_updates: list[tuple[int, list]] = []

    def g(group: str) -> dict:
        return per_group.setdefault(group, {k: 0.0 for k in SPAN_KEYS})

    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or "bench.none"
            jid = e["Job ID"]
            job_group[jid] = grp
            job_times[jid] = [e["Submission Time"], None]
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            g(grp)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_times:
                job_times[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            task_rows.append(e)
        elif kind.endswith("SQLExecutionStart"):
            exec_group[int(e["executionId"])] = e.get("jobGroupId") or "bench.none"
            _classify_plan(e["sparkPlanInfo"], acc_class)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _classify_plan(e["sparkPlanInfo"], acc_class)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append((int(e["executionId"]), e["accumUpdates"]))

    for e in task_rows:
        jid = stage_job.get(e["Stage ID"])
        grp = job_group.get(jid, "bench.none")
        rec = g(grp)
        stages_seen.setdefault(grp, set()).add(e["Stage ID"])
        rec["tasks"] += 1
        tm = e.get("Task Metrics") or {}
        rec["task_ms"] += tm.get("Executor Run Time", 0)
        rec["gc_ms"] += tm.get("JVM GC Time", 0)
        rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            rec["failed_tasks"] += 1
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            cls = acc_class.get(a["ID"])
            if cls is None or not isinstance(a.get("Update"), (int, float, str)):
                continue
            try:
                val = float(a["Update"])
            except ValueError:
                continue
            if cls[0] == "write":
                writes[(grp, cls[1])] = writes.get((grp, cls[1]), 0.0) + val
            else:
                udf[(grp,) + cls] = udf.get((grp,) + cls, 0.0) + val
    for exec_id, updates in driver_updates:
        grp = exec_group.get(exec_id, "bench.none")
        for acc_id, val in updates:
            cls = acc_class.get(acc_id)
            if cls is None:
                continue
            if cls[0] == "write":
                writes[(grp, cls[1])] = writes.get((grp, cls[1]), 0.0) + float(val)
            else:
                udf[(grp,) + cls] = udf.get((grp,) + cls, 0.0) + float(val)

    for grp, st in stages_seen.items():
        g(grp)["stages"] = float(len(st))

    # driver gap: the span's self wall minus the wall its own jobs cover
    children_ms: dict[str, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children_ms[sp["parent"]] = children_ms.get(sp["parent"], 0.0) + (sp["end"] - sp["start"]) * 1000
    jobs_of: dict[str, list] = {}
    for jid, grp in job_group.items():
        a, b = job_times[jid]
        if b is not None:
            jobs_of.setdefault(grp, []).append((a, b))
    out_spans = {}
    for sp in spans:
        rec = dict(g(sp["id"]))
        wall = (sp["end"] - sp["start"]) * 1000
        self_ms = wall - children_ms.get(sp["id"], 0.0)
        rec["wall_ms"] = wall
        rec["self_ms"] = self_ms
        rec["driver_gap_ms"] = max(0.0, self_ms - _covered_ms(jobs_of.get(sp["id"], [])))
        out_spans[sp["id"]] = rec
    return {"spans": out_spans, "udf": udf, "writes": writes}


def layer_metrics(folded: dict, tracer: Tracer, workload: str) -> dict[str, float]:
    """Per-layer ``<layer>.<metric>`` totals over one workload's spans."""
    spans = [sp for sp in tracer.spans if sp["workload"] == workload]
    layer_of = {sp["id"]: sp["layer"] for sp in spans}
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for sp in spans:
        rec = folded["spans"][sp["id"]]
        ly = sp["layer"]
        add(f"{ly}.calls", 1)
        add(f"{ly}.busy_ms", rec["self_ms"])
        for k in SPAN_KEYS:
            add(f"{ly}.{k}", rec[k])
        if ly == "operators.sparql":
            add(f"{ly}.{'exec_ms' if sp['name'] == 'execute' else 'compile_ms'}", rec["self_ms"])
    for (grp, ly, metric), v in folded["udf"].items():
        if grp in layer_of:
            add(f"{ly}.{metric}", v)
    for (grp, metric), v in folded["writes"].items():
        if grp in layer_of:
            add(f"{layer_of[grp]}.{metric}", v)
    pending = sum(n for w, n in tracer.buckets_pending if w == workload)
    total = sum(n for w, n in tracer.bucket_totals if w == workload)
    out["lineage.buckets_pending"] = float(pending)
    out["lineage.buckets_skipped"] = float(max(0, total - pending))
    cand = out.get("operators.linking.candidate_pairs", 0.0)
    out["operators.linking.useful_ratio"] = out.get("operators.linking.match_edges", 0.0) / cand if cand else 0.0
    for ly in ("operators.canon", "operators.sparql"):
        out[f"{ly}.shuffle_bytes"] = out.get(f"{ly}.shuffle_write_bytes", 0.0)
    out["storage.write_ms"] = out.get("storage.busy_ms", 0.0)
    return out
