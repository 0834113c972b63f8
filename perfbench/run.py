#!/usr/bin/env python3
"""Layer-attributed benchmark of the KG pipeline.

Usage (from the repository root)::

    python3 perfbench/run.py --workload edges_fused --seed 1 --seconds 12 --trace 0

``--workload`` is one of edges_fused, build_cold, build_incremental,
query_mix, or ``all`` (every workload in turn, one driver process and
one Spark session). The session runs at ``local[<cores>]`` with a 4 GB
driver. Inputs are generated from ``--seed``; each workload's ops run
in a closed loop (one client) for ``--seconds``, and every run checks
its outputs. ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` wraps the repo's public functions in spans, enables
Spark's event log and reports per-layer metrics instead. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.

Scratch files (corpus cache, run dirs, span dumps) go to
``.bench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

# *_warmup: untimed ops in setup (query_mix: passes over its query list)
SIZES = {"fused_files": 5000, "fused_warmup": 3, "build_files": 2000,
         "query_files": 2000, "queries": 8, "query_warmup": 2}


def unit_of(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), ("ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


class Context:
    """What a workload needs from the runner: the session, the seed,
    its directories, and span / pause / untimed scopes that are no-ops
    when the run is not traced."""

    def __init__(self, spark, seed: int, run_dir: str, cache_dir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.tracer = tracer
        self.excluded_s = 0.0

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def tracer_paused(self):
        return self.tracer.paused() if self.tracer else nullcontext()

    @contextmanager
    def untimed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0


def start_session(work: Path, run_dir: Path, event_dir: Path | None):
    from pawpaw_spark.session import get_spark

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # python workers import pawpaw_spark from this checkout whatever the cwd
    py_path = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    conf = {
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.executorEnv.PYTHONPATH": py_path,
        "spark.ui.showConsoleProgress": "false",
        # explicit: SparkSession.builder keeps options across in-process sessions
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants() -> dict[int, str]:
    """Every process below this one, as pid -> start time (so that a
    reused pid is not taken for the process)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(int(entry)) if entry.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append((int(entry), fields[19]))
    below, todo = {}, [os.getpid()]
    while todo:
        for pid, start in children.get(todo.pop(), []):
            if pid not in below:
                below[pid] = start
                todo.append(pid)
    return below


def _running(procs: dict[int, str]) -> dict[int, str]:
    out = {}
    for pid, start in procs.items():
        fields = _stat(pid)
        if fields and fields[19] == start and fields[0] not in "ZX":
            out[pid] = start
    return out


def _wait_gone(procs: dict[int, str], seconds: float) -> dict[int, str]:
    deadline = time.monotonic() + seconds
    while procs and time.monotonic() < deadline:
        time.sleep(0.05)
        procs = _running(procs)
    return procs


def stop_session(spark=None) -> None:
    """Stop Spark, end the JVM and every process under it (the Python
    worker daemon and its workers), and wait until each has ended.

    ``spark.stop()`` alone leaves the JVM to notice later that its driver
    is gone, so it would outlive the benchmark. Safe to call twice."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    below = _descendants()
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        below.update(_descendants())
        left = _wait_gone(_running(below), 15)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        left = _wait_gone(left, 15)
        if left:
            print(f"perfbench: processes still running: {sorted(left)}", file=sys.stderr)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python plus the driver JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return mb


def run_workload(ctx: Context, cls, sizes: dict, seconds: float) -> dict:
    wl = cls(ctx, sizes)
    if ctx.tracer:
        ctx.tracer.workload, ctx.tracer.op = wl.name, "setup"
    t0 = time.perf_counter()
    wl.setup()
    setup_s = time.perf_counter() - t0

    # start every timed window from a collected heap: setup garbage
    # (a whole build, for query_mix) would otherwise be paid by some op
    ctx.spark._jvm.System.gc()
    walls, raised = [], set()
    deadline = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        if ctx.tracer:
            ctx.tracer.op = i
        ctx.excluded_s = 0.0
        t0 = time.perf_counter()
        try:
            wl.op(i)
            walls.append(time.perf_counter() - t0 - ctx.excluded_s)
        except Exception:  # an op that raises is a failed op; the loop goes on
            traceback.print_exc()
            raised.add(i)
        i += 1
    if ctx.tracer:
        ctx.tracer.op = "verify"
    if walls:
        wl.verify()
    failed = len(raised) if wl.ok else i
    wall = statistics.median(walls) if walls else float("nan")
    rec = {
        "workload": wl.name, "attempted": i, "failed": failed, "walls": walls,
        "digest": wl.digest, "metrics": {
            "setup_s": setup_s,
            "wall_s": wall,
            "ops_per_s": len(walls) / sum(walls) if walls else 0.0,
            "triples_per_s": wl.triples_per_op / wall if walls else 0.0,
        },
    }
    if hasattr(wl, "query_walls"):
        rec["query_walls"] = wl.query_walls
    if ctx.tracer:
        import checks

        rec["kernel"] = checks.kernel_sample(wl.rows)
    return rec


def report(rec: dict) -> None:
    w, m = rec["workload"], rec["metrics"]
    lines = [("failed_ratio", rec["failed"] / rec["attempted"]), ("ops", len(rec["walls"]))]
    lines += [(k, v) for k, v in sorted(m.items())]
    q = sorted(rec.get("query_walls", []))
    if q:
        # p90 has ten samples beyond it only from 100 queries on
        lines += [("queries", len(q)), ("query_p50_ms", statistics.median(q) * 1000),
                  ("query_p90_ms", q[min(len(q) - 1, int(0.9 * len(q)))] * 1000),
                  ("queries_per_s", len(q) / sum(q))]
    for k, v in lines:
        print(f"{w:18s} {k:45s} {v:14.6f} {unit_of(k)}")
    print(f"{w:18s} {'input_digest':45s} {rec['digest']}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "pawpaw_spark").is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: no pawpaw_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still leaves through run()'s cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: dict = SIZES) -> dict:
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    from workloads import WORKLOADS

    names = list(WORKLOADS) if workload == "all" else [workload]
    if any(n not in WORKLOADS for n in names):
        raise SystemExit(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)} or all")
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    work = ROOT / ".bench_work"
    run_dir = work / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    event_dir = run_dir / "eventlog" if trace else None
    tracer = None
    try:
        spark, session_s = start_session(work, run_dir, event_dir)
        if trace:
            from layertrace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ctx = Context(spark, seed, str(run_dir), str(work / "corpus"), tracer)
        recs = []
        for n in names:
            recs.append(run_workload(ctx, WORKLOADS[n], sizes, seconds))
        recs[0]["metrics"]["setup_s"] += session_s
        rss = peak_rss_mb(spark)
        stop_session(spark)
        for rec in recs:
            rec["metrics"]["peak_rss_mb"] = rss
            report(rec)
        if trace:
            _add_layers(recs, tracer, event_dir, session_s, work, seed)
        keep = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        metrics = {}
        for rec in recs:
            prefix = "" if workload != "all" else rec["workload"] + "."
            for k in keep:
                v = rec["metrics"].get(k, rec.get("layers", {}).get(k, 0.0))
                metrics[prefix + k] = {"value": v, "unit": unit_of(k)}
        if not trace:
            (work / "last").mkdir(exist_ok=True)
            for rec in recs:
                with open(work / "last" / f"{rec['workload']}.json", "w", encoding="utf-8") as f:
                    json.dump(rec["metrics"], f)
        attempted = sum(r["attempted"] for r in recs)
        failed = sum(r["failed"] for r in recs)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        try:
            stop_session()
        finally:
            if tracer is not None:
                tracer.uninstall()
            shutil.rmtree(run_dir, ignore_errors=True)


def _add_layers(recs, tracer, event_dir: Path, session_s: float, work: Path, seed: int) -> None:
    from layertrace import fold, layer_metrics

    folded = fold(str(event_dir), tracer.spans)
    (work / "traces").mkdir(exist_ok=True)
    for rec in recs:
        w = rec["workload"]
        layers = layer_metrics(folded, tracer, w)
        layers.update(rec["kernel"])
        layers["session.start_s"] = session_s
        layers["trace.wall_s"] = rec["metrics"]["wall_s"]
        last = work / "last" / f"{w}.json"
        if last.is_file():
            with open(last, encoding="utf-8") as f:
                layers["trace.overhead_s"] = rec["metrics"]["wall_s"] - json.load(f)["wall_s"]
        rec["layers"] = layers
        for k in sorted(layers):
            print(f"{w:18s} {k:45s} {layers[k]:14.6f} {unit_of(k)}")
        spans = [dict(sp, **folded["spans"][sp["id"]]) for sp in tracer.spans if sp["workload"] == w]
        with open(work / "traces" / f"{w}-seed{seed}.json", "w", encoding="utf-8") as f:
            json.dump({"workload": w, "seed": seed, "spans": spans, "layers": layers}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
