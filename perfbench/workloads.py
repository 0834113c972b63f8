"""The four workloads. Each has a ``setup`` (timed into ``setup_s``),
an ``op`` the closed loop repeats for the run's seconds, and a
``verify`` that gates correctness; a workload object carries the
state between them.

The closed loop runs one client: the next op starts only after the
previous one returned.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import inputs


class Workload:
    name = ""

    def __init__(self, ctx, sizes: dict):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes = sizes
        self.triples_per_op = 0
        self.digest = ""
        self.rows: list[dict] = []
        # False once an output failed its gate; the program is
        # deterministic, so then every op of the run counts as failed
        self.ok = True

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        """Check the outputs left by the last op; clear ``ok`` if wrong."""


class EdgesFused(Workload):
    """``build_edges_fused`` over a persisted corpus, to a noop sink."""

    name = "edges_fused"

    def setup(self) -> None:
        from pawpaw_spark.operators import triples

        path, self.rows = inputs.cached_corpus(self.ctx.cache_dir, self.sizes["fused_files"], self.ctx.seed)
        self.digest = inputs.digest_rows(self.rows)
        self.expected = checks.set_digest(checks.expected_triples(self.rows))
        # persisted already spread over the cores, so a pass is the kernel
        # alone (build_edges_fused adds no shuffle on a wide enough input)
        width = self.spark.sparkContext.defaultParallelism
        self.src = self.spark.read.parquet(path).repartition(width).persist()
        self.src.count()
        # the check pass doubles as the warm-up pass
        with self.ctx.tracer_paused():
            rows, *got = checks.spark_digest(triples.build_edges_fused(self.src))
        self.ok = tuple(got) == self.expected
        self.triples_per_op = rows
        for i in range(self.sizes["fused_warmup"]):
            self.op(i)

    def op(self, i: int) -> None:
        from pawpaw_spark.operators import triples

        edges = triples.build_edges_fused(self.src)
        with self.ctx.span("operators.triples", "execute"):
            edges.write.format("noop").mode("overwrite").save()


class BuildCold(Workload):
    """``pipeline.build_kg`` into an empty output dir, in a fresh session."""

    name = "build_cold"

    def setup(self) -> None:
        path, self.rows = inputs.cached_corpus(self.ctx.cache_dir, self.sizes["build_files"], self.ctx.seed)
        self.digest = inputs.digest_rows(self.rows)
        self.expected = checks.set_digest(checks.expected_triples(self.rows))
        self.src = self.spark.read.parquet(path)
        self.out = None

    def _build(self, src, out: str) -> None:
        from pawpaw_spark import pipeline

        self.result = pipeline.build_kg(self.spark, src, out)

    def op(self, i: int) -> None:
        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.ctx.run_dir, f"{self.name}-{i}")
        self._build(self.src, self.out)

    def verify(self) -> None:
        from pawpaw_spark.operators.segment import check_sha256_invariant

        with self.ctx.tracer_paused():
            rows, *got = checks.spark_digest(self.result["edges"])
            canon_rows = self.result["edges_canonical"].count()
            bad_sha = check_sha256_invariant(self.src)
        self.triples_per_op = rows
        self.ok = tuple(got) == self.expected and canon_rows == rows and bad_sha == 0


class BuildIncremental(BuildCold):
    """``build_kg`` into a fresh copy of a pre-built store after a
    seeded edit to a few small repos; the copy is untimed."""

    name = "build_incremental"

    def setup(self) -> None:
        path, self.rows = inputs.cached_corpus(self.ctx.cache_dir, self.sizes["build_files"], self.ctx.seed)
        edited = inputs.edited_rows(self.rows, self.ctx.seed)
        self.digest = inputs.digest_rows(edited)
        self.expected = checks.set_digest(checks.expected_triples(edited))
        self.base = os.path.join(self.ctx.run_dir, "kg-base")
        self._build(self.spark.read.parquet(path), self.base)
        edited_path = os.path.join(self.ctx.run_dir, "source-edited.parquet")
        inputs.write_parquet(edited, edited_path)
        self.src = self.spark.read.parquet(edited_path)
        self.out = None

    def op(self, i: int) -> None:
        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.ctx.run_dir, f"{self.name}-{i}")
        with self.ctx.untimed():
            shutil.copytree(self.base, self.out)
        self._build(self.src, self.out)


class QueryMix(Workload):
    """A seeded SPARQL list over ``edges_canonical`` of a store built in
    setup. One op is one pass over the whole list (the mix), each
    query's result to a noop sink: the list mixes ~0.15 s lookups with
    ~0.3 s joins, so the median of single queries would flip between
    the two groups from run to run, while the pass median does not."""

    name = "query_mix"

    def setup(self) -> None:
        from pawpaw_spark import pipeline
        from pawpaw_spark.operators import sparql

        path, self.rows = inputs.cached_corpus(self.ctx.cache_dir, self.sizes["query_files"], self.ctx.seed)
        self.queries = inputs.query_list(self.rows, self.ctx.seed, self.sizes["queries"])
        self.digest = inputs.digest_rows(self.rows) + f":q{len(self.queries)}"
        store = os.path.join(self.ctx.run_dir, "kg-store")
        pipeline.build_kg(self.spark, self.spark.read.parquet(path), store)
        table = os.path.join(store, "edges_canonical")
        self.edges = self.spark.read.parquet(table).select("subj", "pred", "obj")
        expected = checks.duckdb_answers(os.path.join(table, "**", "*.parquet"), self.queries)
        # the check of every query doubles as its first warm-up run
        with self.ctx.tracer_paused():
            self.triples_per_op = self.edges.count() * len(self.queries)
            for (text, _sql), want in zip(self.queries, expected):
                self.ok &= checks.spark_answer(sparql.sparql(self.edges, text)) == want
        self.query_walls: list[float] = []
        for i in range(self.sizes["query_warmup"]):
            self.op(i)
        self.query_walls.clear()

    def op(self, i: int) -> None:
        from pawpaw_spark.operators import sparql

        for text, _sql in self.queries:
            t0 = time.perf_counter()
            plan = sparql.sparql(self.edges, text)
            with self.ctx.span("operators.sparql", "execute"):
                plan.write.format("noop").mode("overwrite").save()
            self.query_walls.append(time.perf_counter() - t0)


WORKLOADS = {w.name: w for w in (EdgesFused, BuildCold, BuildIncremental, QueryMix)}
