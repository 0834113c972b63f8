"""The north-star gate: triples P/R >= 0.95 vs reference-derived triples.

The reference (pawpaw) is run in-process per document with equivalent
arborform pipelines; its segment trees are fed through the same triple
derivation spec (pawpaw_spark.oracle.derive_triples). The Spark
pipeline must reproduce that triple set.
"""

import pytest
from pyspark.sql import functions as F

from pawpaw_spark.corpus import source_df
from pawpaw_spark.operators.segment import doc_id_col
from pawpaw_spark.operators.triples import build_edges, build_nodes
from pawpaw_spark.oracle import derive_triples, pawpaw_segments, precision_recall
from pawpaw_spark.rulesets import rules_for_lang

N_FILES = 80


@pytest.fixture(scope="module")
def src(spark):
    return source_df(spark, n_files=N_FILES, seed=7).cache()


@pytest.fixture(scope="module")
def spark_triples(spark, src):
    edges = build_edges(src)
    return {(r.subj, r.pred, r.obj) for r in edges.select("subj", "pred", "obj").collect()}


@pytest.fixture(scope="module")
def reference_triples(pawpaw_ref, spark, src):
    rows = src.select("repo", "path", "commit", "lang", "content").collect()
    expected = set()
    for r in rows:
        doc_id = f"{r.repo}/{r.path}@{r.commit}"
        records = pawpaw_segments(pawpaw_ref, r.content, rules_for_lang(r.lang))
        expected |= derive_triples(doc_id, r.repo, records)
    return expected


def test_triple_precision_recall_gate(spark_triples, reference_triples):
    p, r = precision_recall(spark_triples, reference_triples)
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_triples_exact_at_small_scale(spark_triples, reference_triples):
    # at this scale we expect perfect parity, not just the 0.95 gate
    missing = reference_triples - spark_triples
    extra = spark_triples - reference_triples
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:5]}"
    assert not extra, f"extra {len(extra)}: {sorted(extra)[:5]}"


def test_every_pred_present(spark_triples):
    preds = {p for _, p, _ in spark_triples}
    assert {"CONTAINS", "HAS_SEGMENT", "DEFINES", "REFERENCES"} <= preds


def test_nodes_cover_edge_endpoints(spark, src):
    edges = build_edges(src).cache()
    nodes = build_nodes(edges)
    n_nodes = nodes.count()
    endpoints = (
        edges.select(F.col("subj").alias("node_id"))
        .union(edges.select("obj"))
        .distinct()
        .count()
    )
    assert n_nodes == endpoints
    kinds = {r.kind for r in nodes.select("kind").distinct().collect()}
    assert {"repo", "file", "symbol", "span"} <= kinds


def test_fused_edges_multiset_equal_relational(spark):
    """build_edges_fused must emit exactly the relational build_edges
    rows (as a multiset) — it is the throughput path for the same op."""
    from pyspark.sql import functions as F

    from pawpaw_spark.corpus import source_df
    from pawpaw_spark.operators.triples import build_edges, build_edges_fused

    src = source_df(spark, n_files=120, seed=11).cache()

    def canon(df):
        return df.select(
            "subj", "pred", "obj", "doc_id",
            F.coalesce(F.col("start"), F.lit(-1)).alias("start"),
            F.coalesce(F.col("stop"), F.lit(-1)).alias("stop"),
        ).groupBy("subj", "pred", "obj", "doc_id", "start", "stop").count()

    a, b = canon(build_edges(src)), canon(build_edges_fused(src))
    diff = a.join(
        b, ["subj", "pred", "obj", "doc_id", "start", "stop"], "full_outer"
    ).where(~a["count"].eqNullSafe(b["count"]))
    assert diff.count() == 0


def test_fused_edges_equal_plain_python(spark):
    """build_edges_fused's triple set is the derivation spec applied in
    plain Python to ``kernel.segment_text`` records of every document."""
    from pawpaw_spark.corpus import generate_rows
    from pawpaw_spark.kernel import segment_text
    from pawpaw_spark.operators.triples import build_edges_fused
    from pawpaw_spark.rulesets import LANG_RULES, TEXT_RULES

    src = source_df(spark, n_files=120, seed=11)
    got = {(r.subj, r.pred, r.obj) for r in build_edges_fused(src).select("subj", "pred", "obj").collect()}

    expected = set()
    for r in generate_rows(120, 11):
        rules = LANG_RULES.get(r["lang"], TEXT_RULES)
        value_descs = {d for rule in rules for d in rule.value_for}
        text = r["content"]
        records = [
            (a, b, desc, parent, text[a:b] if desc in value_descs else None)
            for a, b, desc, parent, _depth, _tag in segment_text(text, rules)
        ]
        doc_id = f"{r['repo']}/{r['path']}@{r['commit']}"
        expected |= derive_triples(doc_id, r["repo"], records)
    assert got == expected


def test_udf_workers_skip_unchanged_zip_rereads(spark):
    """A UDF whose closure references pawpaw_spark runs in a worker
    where zipimporters no longer re-read unchanged archives per task."""
    import sys

    import pyarrow as pa

    from pawpaw_spark import _worker

    def probe(batches):
        import importlib
        import zipimport

        read, calls = zipimport._read_directory, []

        def counting(path):
            calls.append(path)
            return read(path)

        importlib.invalidate_caches()  # first sight since install may read
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "installed": [_worker.installed()], "zips": [zips], "rereads": [len(calls)],
        })

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInArrow(probe, "installed boolean, zips long, rereads long")
        .collect()
    )
    assert len(rows) == 4
    if sys.version_info < (3, 13):
        assert all(r.installed for r in rows)
    assert all(r.zips > 0 for r in rows)  # pyspark.zip is on the worker path
    assert all(r.rereads == 0 for r in rows)


def test_fused_edges_from_foreign_cwd(tmp_path):
    """A Spark driver started outside the repository: its Python workers must
    still import pawpaw_spark (get_spark ships the package path)."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import json, sys; sys.path.insert(0, {root!r})\n"
        "from pawpaw_spark.session import get_spark\n"
        "from pawpaw_spark.operators.triples import build_edges_fused\n"
        "spark = get_spark(app_name='foreign_cwd', master='local[1]')\n"
        "src = spark.createDataFrame([('r', 'a.py', 'c1', 'python', 'def f(x):\\n    z = g(x)\\n    return z\\n')],\n"
        "                            'repo string, path string, commit string, lang string, content string')\n"
        "rows = build_edges_fused(src).select('pred').collect()\n"
        "print(json.dumps(sorted(r.pred for r in rows)))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PAWPAW_SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    preds = json.loads(out.stdout.strip().splitlines()[-1])
    assert {"CONTAINS", "HAS_SEGMENT", "DEFINES", "REFERENCES"} <= set(preds)


class TestEdgeDiff:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            list(rows), "subj string, pred string, obj string"
        )

    def _run(self, spark, old, new, **kw):
        from pawpaw_spark.operators.triples import edge_diff

        return {
            (r.op, r.subj, r.pred, r.obj)
            for r in edge_diff(
                self._df(spark, old), self._df(spark, new), **kw
            ).collect()
        }

    def test_identical_sets_empty_delta(self, spark):
        rows = [("a", "CALLS", "b"), ("a", "CALLS", "c")]
        assert self._run(spark, rows, rows) == set()

    def test_adds_and_dels(self, spark):
        old = [("a", "CALLS", "b"), ("a", "CALLS", "c")]
        new = [("a", "CALLS", "b"), ("a", "CALLS", "d")]
        assert self._run(spark, old, new) == {
            ("add", "a", "CALLS", "d"),
            ("del", "a", "CALLS", "c"),
        }

    def test_multiplicity_change_is_not_a_delta(self, spark):
        old = [("a", "CALLS", "b")]
        new = [("a", "CALLS", "b"), ("a", "CALLS", "b")]
        assert self._run(spark, old, new) == set()

    def test_pred_change_is_add_plus_del(self, spark):
        old = [("a", "CALLS", "b")]
        new = [("a", "IMPORTS", "b")]
        assert self._run(spark, old, new) == {
            ("add", "a", "IMPORTS", "b"),
            ("del", "a", "CALLS", "b"),
        }

    def test_custom_cols(self, spark):
        from pawpaw_spark.operators.triples import edge_diff

        old = spark.createDataFrame([("x", "y")], "src string, dst string")
        new = spark.createDataFrame([("x", "z")], "src string, dst string")
        got = {
            (r.op, r.src, r.dst)
            for r in edge_diff(old, new, cols=("src", "dst")).collect()
        }
        assert got == {("add", "x", "z"), ("del", "x", "y")}


class TestSchemaSummary:
    A = "src/r1/doc/a.py@0"
    B = "src/r1/doc/b.py@0"
    EDGES = [
        ("src/r1", "CONTAINS", A),
        ("src/r1", "CONTAINS", B),
        (A, "HAS_SEGMENT", A + "#0-5:word"),
        (A, "HAS_SEGMENT", A + "#6-9:word"),
        (A, "DEFINES", "sym:f"),
        (B, "DEFINES", "sym:g"),
        (B, "DEFINES", "sym:h"),
        ("sym:f", "REFERENCES", "sym:g"),
        ("sym:f", "REFERENCES", "sym:g"),  # duplicate edge kept in n_edges
        ("sym:g", "REFERENCES", "sym:h"),
    ]

    @staticmethod
    def _kind(x):
        if x.startswith("sym:"):
            return "symbol"
        if "#" in x:
            return "span"
        if "@" in x:
            return "file"
        return "repo"

    def test_matches_python(self, spark):
        from pawpaw_spark.operators.triples import schema_summary

        df = spark.createDataFrame(
            self.EDGES, "subj string, pred string, obj string"
        )
        got = {
            (r.pred, r.subj_type, r.obj_type): (r.n_edges, r.n_subj, r.n_obj)
            for r in schema_summary(df).collect()
        }
        want = {}
        for s, p, o in self.EDGES:
            k = (p, self._kind(s), self._kind(o))
            want.setdefault(k, []).append((s, o))
        want = {
            k: (
                len(v),
                len({s for s, _ in v}),
                len({o for _, o in v}),
            )
            for k, v in want.items()
        }
        assert got == want
        assert got[("REFERENCES", "symbol", "symbol")] == (3, 2, 2)
        assert got[("HAS_SEGMENT", "file", "span")] == (2, 1, 2)
        assert got[("CONTAINS", "repo", "file")] == (2, 1, 2)

    def test_on_built_edges(self, spark):
        """Summary over the real fused kernel output: every predicate
        appears exactly once per (subj_type, obj_type) pair and counts
        tie back to the edge table itself."""
        from pawpaw_spark.operators.triples import build_edges_fused, schema_summary

        src = spark.createDataFrame(
            [
                ("r1", "a.py", "c0", "python", "def f():\n    g()\n"),
                ("r1", "b.py", "c0", "python", "def g():\n    pass\n"),
            ],
            "repo string, path string, commit string, lang string, "
            "content string",
        )
        edges = build_edges_fused(src).persist()
        summ = schema_summary(edges).collect()
        total = sum(r.n_edges for r in summ)
        assert total == edges.count()
        for r in summ:
            assert r.n_subj <= r.n_edges and r.n_obj <= r.n_edges
        edges.unpersist()


class TestLatestSnapshot:
    SCHEMA = "repo string, path string, commit string, lang string, content string"

    def test_picks_max_commit(self, spark):
        from pawpaw_spark.operators.triples import latest_snapshot

        rows = [
            ("r", "a.py", "0", "python", "v0"),
            ("r", "a.py", "2", "python", "v2"),
            ("r", "a.py", "1", "python", "v1"),
            ("r", "b.py", "0", "python", "only"),
        ]
        got = {
            (r.repo, r.path): (r.commit, r.content)
            for r in latest_snapshot(
                spark.createDataFrame(rows, self.SCHEMA)
            ).collect()
        }
        assert got == {
            ("r", "a.py"): ("2", "v2"),
            ("r", "b.py"): ("0", "only"),
        }

    def test_duplicate_commit_tiebreak_is_deterministic(self, spark):
        from pawpaw_spark.operators.triples import latest_snapshot

        rows = [
            ("r", "a.py", "1", "python", "alpha"),
            ("r", "a.py", "1", "python", "beta"),
        ]
        for _ in range(2):
            got = latest_snapshot(
                spark.createDataFrame(rows, self.SCHEMA)
            ).collect()
            assert [(r.commit, r.content) for r in got] == [("1", "beta")]

    def test_snapshot_of_two_eras_builds_v2_graph(self, spark):
        """snapshot(v1 ∪ v2) -> kernel edges == kernel edges of v2
        alone (multiset equality) — the day-2 composition the
        kg_snapshot contract query pins at corpus scale."""
        from pawpaw_spark.operators.triples import build_edges_fused, latest_snapshot

        v1 = [
            ("r", f"d{i}.py", "0", "python", f"def f_{i}():\n    g_{i}()\n")
            for i in range(4)
        ]
        v2 = [
            ("r", f"d{i}.py", "1", "python", f"def f_{i}():\n    h_{i}()\n")
            for i in range(0, 4, 2)
        ]
        both = spark.createDataFrame(v1 + v2, self.SCHEMA)
        snap = latest_snapshot(both)
        got = sorted(
            (r.subj, r.pred, r.obj)
            for r in build_edges_fused(snap).collect()
        )
        # expected: d0/d2 from v2, d1/d3 from v1
        expect_rows = [v2[0], v1[1], v2[1], v1[3]]
        want = sorted(
            (r.subj, r.pred, r.obj)
            for r in build_edges_fused(
                spark.createDataFrame(expect_rows, self.SCHEMA)
            ).collect()
        )
        assert got == want
