#!/usr/bin/env python3
"""Harness self-test at a tiny size (about five minutes at local[4]).

    python3 perfbench/selftest.py

1. Runs every workload untraced, then traced, in one driver process and
   checks that each end-to-end and per-layer metric name is printed
   with its unit, that every correctness gate passed, and that the
   traced run reports its overhead.
2. Corrupts one emitted triple (the CONTAINS edge of one file) and
   checks that edges_fused and build_cold report failed_ratio > 0.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402

TINY = {"fused_files": 120, "fused_warmup": 0, "build_files": 120,
        "query_files": 120, "queries": 8, "query_warmup": 0}

END_TO_END = ["setup_s", "wall_s", "triples_per_s", "query_p50_ms", "query_p90_ms",
              "queries_per_s", "failed_ratio", "peak_rss_mb"]
_SPAN = ["jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_write_bytes",
         "spill_bytes", "failed_tasks", "driver_gap_ms"]
_PY = ["py_run_ms", "py_start_init_ms", "arrow_bytes_out", "rows_out"]
PER_LAYER = (
    ["session.start_s", "kernel.docs_per_s", "kernel.segments", "trace.overhead_s"]
    + [f"operators.triples.{m}" for m in _PY] + [f"operators.segment.{m}" for m in _PY]
    + [f"lineage.{m}" for m in ("busy_ms", "jobs", "buckets_pending", "buckets_skipped", "files_written")]
    + [f"operators.linking.{m}" for m in ("busy_ms", "candidate_pairs", "match_edges", "useful_ratio")]
    + [f"operators.canon.{m}" for m in ("busy_ms", "jobs", "shuffle_bytes")]
    + [f"storage.{m}" for m in ("write_ms", "files_written", "bytes_written")]
    + [f"operators.sparql.{m}" for m in ("compile_ms", "exec_ms", "jobs", "shuffle_bytes")]
    + [f"{layer}.{m}" for layer in ("lineage", "storage", "operators.sparql") for m in _SPAN]
)


def check(ok: bool, what: str) -> None:
    print(("PASS " if ok else "FAIL ") + what, file=sys.stderr)
    if not ok:
        raise SystemExit(1)


def printed(text: str, name: str) -> bool:
    unit = re.escape(run.unit_of(name))
    return re.search(rf"^\S+\s+{re.escape(name)}\s+\S+\s+{unit}$", text, re.M) is not None


def run_captured(workload: str, trace: bool) -> tuple[dict, str]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        result = run.run(workload, seed=1, seconds=1, trace=trace, sizes=TINY)
    sys.stderr.write(buf.getvalue())
    return result, buf.getvalue()


def corrupt_one_triple():
    """Patch build_edges_fused so one CONTAINS edge carries a wrong object."""
    from pyspark.sql import functions as F

    from inputs import corpus_rows, doc_id
    from pawpaw_spark.operators import triples

    orig = triples.build_edges_fused
    target = doc_id(corpus_rows(TINY["fused_files"], 1)[0])

    def corrupted(source, *args, **kwargs):
        df = orig(source, *args, **kwargs)
        hit = (F.col("pred") == "CONTAINS") & (F.col("obj") == target)
        return df.withColumn("obj", F.when(hit, F.concat("obj", F.lit("#corrupt"))).otherwise(F.col("obj")))

    triples.build_edges_fused = corrupted
    return lambda: setattr(triples, "build_edges_fused", orig)


def main() -> int:
    plain, text0 = run_captured("all", trace=False)
    check(plain["correct"] and plain["failed"] == 0, "untraced run: every correctness gate passes")
    traced, text1 = run_captured("all", trace=True)
    check(traced["correct"], "traced run: every correctness gate passes")
    for name in END_TO_END:
        check(printed(text0, name), f"end-to-end metric printed with unit: {name}")
    for name in PER_LAYER:
        check(printed(text1, name), f"per-layer metric printed with unit: {name}")

    restore = corrupt_one_triple()
    try:
        for workload in ("edges_fused", "build_cold"):
            bad, text = run_captured(workload, trace=False)
            m = re.search(r"failed_ratio\s+(\S+)", text)
            check(not bad["correct"] and m is not None and float(m.group(1)) > 0,
                  f"{workload}: one corrupted triple gives failed_ratio > 0")
    finally:
        restore()
    return 0


if __name__ == "__main__":
    sys.exit(main())
