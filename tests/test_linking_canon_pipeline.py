"""Entity linking, canonicalization, and the resumable end-to-end pipeline."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pawpaw_spark.corpus import source_df
from pawpaw_spark.operators.canon import connected_components
from pawpaw_spark.operators.linking import jaro_winkler, link_symbols, symbol_mentions
from pawpaw_spark.operators.segment import segment
from pawpaw_spark.operators.triples import segment_by_lang
from pawpaw_spark.pipeline import build_kg


@pytest.fixture(scope="module")
def src(spark):
    return source_df(spark, n_files=80, seed=11).cache()


@pytest.fixture(scope="module")
def segs(spark, src):
    return segment_by_lang(src).cache()


class TestJaroWinkler:
    def test_known_values(self):
        # published JW examples (MARTHA/MARHTA = 0.9611, DWAYNE/DUANE = 0.84)
        assert abs(jaro_winkler("martha", "marhta") - 0.9611) < 0.001
        assert abs(jaro_winkler("dwayne", "duane") - 0.84) < 0.001
        assert jaro_winkler("same", "same") == 1.0
        assert jaro_winkler("abc", "xyz") == 0.0


class TestLinking:
    def test_near_duplicate_symbols_linked(self, spark, segs):
        pairs = link_symbols(segs, threshold=0.80)
        linked = {(r.a, r.b) for r in pairs.collect()}
        # the corpus plants parse_config / parseConfig / parse_cfg families
        names = {n for ab in linked for n in ab}
        fam = {n for n in names if n.lower().startswith("parse")}
        assert len(fam) >= 2, f"expected parse_* family linked, got {sorted(names)[:10]}"

    def test_mentions_distinct(self, spark, segs):
        m = symbol_mentions(segs)
        assert m.count() == m.select("name").distinct().count()


class TestConnectedComponents:
    def test_chain_and_clique(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "p")],
            "a string, b string",
        )
        comps = {r.node: r.comp for r in connected_components(edges).collect()}
        assert comps["a"] == comps["b"] == comps["c"] == "a"
        assert comps["x"] == comps["y"] == "x"
        assert comps["p"] == comps["q"] == comps["r"] == "p"
        assert comps["a"] != comps["x"] != comps["p"]

    def test_long_chain_converges(self, spark):
        n = 40
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], "a string, b string"
        )
        comps = connected_components(edges, max_iters=60)
        assert comps.select("comp").distinct().count() == 1

    def test_chain_longer_than_iters_converges_via_pointer_jumping(self, spark):
        # a 100-node path has diameter 100; pointer jumping must close
        # it in O(log n) rounds — well inside max_iters=10
        n = 100
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], "a string, b string"
        )
        comps = connected_components(edges, max_iters=10, driver_threshold=0)
        rows = comps.collect()
        assert len(rows) == n
        assert {r.comp for r in rows} == {"n000"}

    def test_driver_and_distributed_paths_agree(self, spark):
        import random

        rng = random.Random(7)
        edges = spark.createDataFrame(
            [(f"n{rng.randint(0, 60):02d}", f"n{rng.randint(0, 60):02d}") for _ in range(80)],
            "a string, b string",
        )
        fast = {(r.node, r.comp) for r in connected_components(edges).collect()}
        dist = {
            (r.node, r.comp)
            for r in connected_components(edges, driver_threshold=0).collect()
        }
        assert fast == dist

    def test_distributed_path_stress_1m_edges(self, spark):
        """The DISTRIBUTED loop (driver cutover disabled) at ~1M edges:
        500 chains x 1000 nodes (diameter 999) plus a 500k-leaf star
        (the mega-repo skew shape). Exact labels — every node's comp is
        its component's min id — within max_iters = log2(diameter)+2
        rounds, proving the pointer-jumping bound at a size the driver
        cutover would normally shield (round-2 verdict item #7)."""
        import math

        n_chains, chain_len, n_leaves = 500, 1000, 500_000
        chain_nodes = n_chains * chain_len
        chains = spark.range(chain_nodes).filter(
            (F.col("id") % chain_len) != chain_len - 1
        ).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        hub = chain_nodes  # a single hot node: star skew
        star = spark.range(n_leaves).select(
            F.lit(hub).alias("a"), (F.col("id") + hub + 1).alias("b")
        )
        edges = chains.unionByName(star)
        assert edges.count() == n_chains * (chain_len - 1) + n_leaves

        budget = int(math.log2(chain_len - 1)) + 2
        labels = connected_components(
            edges, max_iters=budget, driver_threshold=0  # raises if over budget
        )
        bad_chain = labels.filter(
            (F.col("node") < chain_nodes)
            & (F.col("comp") != (F.col("node") - F.col("node") % chain_len))
        ).count()
        bad_star = labels.filter(
            (F.col("node") >= chain_nodes) & (F.col("comp") != hub)
        ).count()
        assert bad_chain == 0 and bad_star == 0
        assert labels.count() == chain_nodes + n_leaves + 1

    def test_nonconvergence_raises_not_silent(self, spark):
        import pytest

        n = 64
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], "a string, b string"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iters=1, driver_threshold=0)


class TestPipeline:
    def test_build_and_resume(self, spark, src, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("kg_out"))
        res = build_kg(spark, src, out, n_buckets=8)
        n_edges = res["edges"].count()
        n_nodes = res["nodes"].count()
        assert n_edges > 0 and n_nodes > 0

        # canonical ids: every symbol's canon is itself a symbol id
        syms = res["nodes"].filter(F.col("kind") == "symbol")
        assert syms.filter(~F.col("canon_id").startswith("sym:")).count() == 0

        # near-dup family should share a canon id
        canon_of = {
            r.node_id: r.canon_id
            for r in syms.filter(
                F.lower("node_id").rlike("sym:parse.?config")
            ).collect()
        }
        if len(canon_of) >= 2:
            assert len(set(canon_of.values())) == 1, canon_of

        # resume: second run must skip all buckets (lineage complete)
        from pawpaw_spark.lineage import LineageLog

        log1 = LineageLog(out).read(spark).count()
        res2 = build_kg(spark, src, out, n_buckets=8)
        log2 = LineageLog(out).read(spark).count()
        assert log2 == log1, "resume re-ran completed buckets"
        assert res2["edges"].count() == n_edges

    def test_resume_recomputes_changed_bucket(self, spark, src, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("kg_out2"))
        build_kg(spark, src, out, n_buckets=8)
        from pawpaw_spark.lineage import LineageLog

        before = LineageLog(out).read(spark).filter(F.col("stage") == "segments").count()
        # mutate one repo's content -> exactly its bucket(s) invalidated
        changed = src.withColumn(
            "content",
            F.when(F.col("repo") == "org0/repo0", F.concat("content", F.lit("\nx = 1\n")))
            .otherwise(F.col("content")),
        ).withColumn(
            "sha256",
            F.sha2(F.col("content").cast("binary"), 256),
        )
        build_kg(spark, changed, out, n_buckets=8)
        after = LineageLog(out).read(spark).filter(F.col("stage") == "segments").count()
        assert after > before
        assert after - before <= 2  # only the touched bucket(s), not all 8

        # the canon stage is input-global: changed content MUST invalidate
        # its checkpoint (two distinct fingerprints recorded), while an
        # unchanged third run adds nothing
        canon = LineageLog(out).read(spark).filter(F.col("stage") == "canon")
        assert canon.count() == 2
        assert canon.select("input_fingerprint").distinct().count() == 2
        build_kg(spark, changed, out, n_buckets=8)
        assert LineageLog(out).read(spark).filter(F.col("stage") == "canon").count() == 2


    def test_resume_on_uri_out_dir(self, spark, src, tmp_path_factory):
        """A URI out_dir resumes like a plain path: outputs are probed
        through the path's Hadoop FileSystem, so an unchanged rerun
        skips canon too."""
        from pawpaw_spark.lineage import LineageLog

        out = "file://" + str(tmp_path_factory.mktemp("kg_uri"))
        build_kg(spark, src, out, n_buckets=8)
        log = LineageLog(out)
        n_log = log.read(spark).count()
        build_kg(spark, src, out, n_buckets=8)
        assert log.read(spark).count() == n_log
        assert log.read(spark).filter(F.col("stage") == "canon").count() == 1

    def test_job_count(self, spark, src, tmp_path_factory):
        """Jobs of a fresh build and of an unchanged resume, from the
        status tracker: a new counting-only job fails this test."""
        out = str(tmp_path_factory.mktemp("kg_jobs"))
        src.count()  # materialize the cached fixture outside the groups
        sc = spark.sparkContext
        for phase, limit in _MAX_JOBS.items():
            group = f"test_job_count.{phase}"
            sc.setJobGroup(group, group)
            try:
                build_kg(spark, src, out, n_buckets=8)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert n_jobs <= limit, (phase, n_jobs)


# jobs per build_kg over the module fixture (80 files, 8 buckets): 43
# when the fresh build is the session's first, 41 later; 12 for the
# unchanged resume. Before lineage rows went through session.local_frame
# and pending buckets were diffed on the driver, the same builds ran
# 48 / 46 (fresh) and 15 (resume); before LineageLog.completed dropped
# its distinct(), the resume ran 15
_MAX_JOBS = {"fresh": 43, "resume": 12}


class TestAnalyticsStage:
    def test_node_metrics_written_and_resumed(self, spark, src, tmp_path_factory):
        import pytest as _pytest

        from pawpaw_spark.lineage import LineageLog

        out = str(tmp_path_factory.mktemp("kg_an"))
        res = build_kg(spark, src, out, n_buckets=8, analytics=True,
                       pagerank_iters=3)
        m = res["node_metrics"]
        rows = m.collect()
        assert rows, "no node metrics on a corpus with call edges"
        # metrics cover exactly the sym->sym call-graph nodes
        assert all(r.node.startswith("sym:") for r in rows)
        # PageRank mass is conserved over the whole graph
        assert sum(r["rank"] for r in rows) == _pytest.approx(1.0, abs=1e-9)
        # degrees consistent: total out == total in == #edges
        assert sum(r.out_deg for r in rows) == sum(r.in_deg for r in rows) > 0
        # every component label is a member node
        nodes = {r.node for r in rows}
        assert {r.comp for r in rows} <= nodes

        # metrics match the operators applied directly to the written edges
        from pawpaw_spark.operators.graph import kg_node_metrics

        direct = {
            r.node: (r.out_deg, r.in_deg, r["rank"], r.comp)
            for r in kg_node_metrics(res["edges_canonical"], iters=3).collect()
        }
        got = {r.node: (r.out_deg, r.in_deg, r["rank"], r.comp) for r in rows}
        assert set(got) == set(direct)
        for k in got:
            assert got[k][0] == direct[k][0] and got[k][1] == direct[k][1]
            assert got[k][3] == direct[k][3]
            assert got[k][2] == _pytest.approx(direct[k][2], rel=1e-12)

        # resume: same params -> the analytics stage is skipped wholesale
        log1 = LineageLog(out).read(spark).filter(
            F.col("stage") == "analytics"
        ).count()
        assert log1 == 1
        res2 = build_kg(spark, src, out, n_buckets=8, analytics=True,
                        pagerank_iters=3)
        log2 = LineageLog(out).read(spark).filter(
            F.col("stage") == "analytics"
        ).count()
        assert log2 == log1, "analytics stage re-ran on unchanged input"
        assert res2["node_metrics"].count() == len(rows)

        # changed parameters invalidate the checkpoint
        build_kg(spark, src, out, n_buckets=8, analytics=True,
                 pagerank_iters=4)
        log3 = LineageLog(out).read(spark).filter(
            F.col("stage") == "analytics"
        ).count()
        assert log3 == log1 + 1, "iters change did not recompute analytics"


# read-back schemas of the global tables. nodes and node_metrics read
# back as the salt directories gave them (salt an int, last);
# edges_canonical is one directory per pred value, which a plain read
# puts last
_STORE_SCHEMAS = {
    "nodes": [
        ("node_id", "string"), ("kind", "string"), ("canon_id", "string"),
        ("salt", "int"),
    ],
    "edges_canonical": [
        ("subj", "string"), ("obj", "string"), ("doc_id", "string"),
        ("start", "int"), ("stop", "int"), ("salt", "int"), ("pred", "string"),
    ],
    "node_metrics": [
        ("node", "string"), ("out_deg", "bigint"), ("in_deg", "bigint"),
        ("rank", "double"), ("comp", "string"), ("salt", "int"),
    ],
}

# edges_canonical's column order before it had pred directories
_EARLIER_EDGES_COLS = ["subj", "pred", "obj", "doc_id", "start", "stop", "salt"]


def _dirs(path, key):
    return sorted(e for e in os.listdir(path) if e.startswith(f"{key}="))


def _part_files(path):
    return [e for e in os.listdir(path) if e.startswith("part-")]


def _rows(df):
    from collections import Counter

    def freeze(v):  # segments carry array columns
        return tuple(map(freeze, v)) if isinstance(v, list) else v

    return Counter(tuple(map(freeze, r)) for r in df.collect())


@pytest.fixture(scope="module")
def store(spark, src, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_layout"))
    build_kg(spark, src, out, n_buckets=8, analytics=True)
    return out


class TestStoreLayout:
    """``edges_canonical`` is one ``pred=`` directory per predicate;
    ``nodes`` and ``node_metrics`` are flat AQE-sized parquet files; the
    per-bucket lineage tables keep their ``bucket=`` directories."""

    def test_layout_and_read_back_schemas(self, spark, store):
        width = spark.sparkContext.defaultParallelism
        edges = f"{store}/edges_canonical"
        preds = spark.read.parquet(edges).select("pred").distinct().collect()
        assert len(preds) > 1
        assert _dirs(edges, "pred") == sorted(f"pred={r.pred}" for r in preds)
        assert _part_files(edges) == []
        # no small-file explosion: REBALANCE on pred sizes the files
        # across all the pred directories together
        per_pred = [len(_part_files(f"{edges}/{d}")) for d in _dirs(edges, "pred")]
        assert min(per_pred) >= 1, per_pred
        assert 1 <= sum(per_pred) <= width, per_pred
        for table in ("nodes", "node_metrics"):
            path = f"{store}/{table}"
            assert _dirs(path, "salt") == [], table
            assert 1 <= len(_part_files(path)) <= width, table
        for table, schema in _STORE_SCHEMAS.items():
            got = [
                (f.name, f.dataType.simpleString())
                for f in spark.read.parquet(f"{store}/{table}").schema.fields
            ]
            assert got == schema, table
        assert _dirs(f"{store}/edges", "bucket")

    def test_constant_predicate_reads_one_directory(self, spark, store, tmp_path):
        """A constant-predicate query plans a partition filter on pred
        and opens no file outside that predicate's directory: it still
        answers after every other directory's files are broken.
        (``inputFiles()`` lists the whole relation for a path read, so
        the files actually opened are checked this way.)"""
        import shutil

        from pawpaw_spark.operators.sparql import sparql

        path = str(tmp_path / "edges_canonical")
        shutil.copytree(f"{store}/edges_canonical", path)
        edges = spark.read.parquet(path).select("subj", "pred", "obj")
        want = {
            (r.subj, r.obj)
            for r in edges.filter(F.col("pred") == "DEFINES").collect()
        }
        assert want
        q = sparql(edges, "SELECT ?f ?t WHERE { ?f DEFINES ?t }")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(pred" in plan, plan
        assert "(pred#" in plan and "= DEFINES)]" in plan, plan
        others = [d for d in _dirs(path, "pred") if d != "pred=DEFINES"]
        assert others
        for d in others:
            for f in _part_files(f"{path}/{d}"):
                with open(f"{path}/{d}/{f}", "wb") as fh:
                    fh.write(b"not parquet")
        with pytest.raises(Exception):
            edges.filter(F.col("pred") == others[0][len("pred="):]).collect()
        assert {(r.f, r.t) for r in q.collect()} == want

    def test_canonicalize_nodes_salt_is_int(self, spark):
        from pawpaw_spark.operators.canon import canonicalize_nodes

        nodes = spark.createDataFrame(
            [("sym:a", "symbol", "sym:a"), ("sym:b", "symbol", "sym:b")],
            "node_id string, kind string, canon_id string",
        )
        match = spark.createDataFrame([("a", "b")], "a string, b string")
        out = canonicalize_nodes(nodes, match)
        assert out.schema["salt"].dataType.simpleString() == "int"
        assert {r.canon_id for r in out.collect()} == {"sym:a"}

    @pytest.mark.parametrize("layout", ["salt_dirs", "flat"])
    def test_resume_over_earlier_layout(self, spark, src, tmp_path_factory, layout):
        """A store in an earlier layout resumes: unchanged input skips
        canon and reads it as is; one edited file rewrites it (nodes
        flat, edges_canonical by pred) with no stale file left, equal to
        a fresh build. ``salt_dirs``: both global tables one directory
        per salt value; ``flat``: edges_canonical as flat files."""
        import shutil

        from pawpaw_spark.lineage import LineageLog

        out = str(tmp_path_factory.mktemp(f"kg_{layout}_layout"))
        build_kg(spark, src, out, n_buckets=8)
        tables = ("nodes", "edges_canonical") if layout == "salt_dirs" else ("edges_canonical",)
        for table in tables:
            path = f"{out}/{table}"
            df = spark.read.parquet(path)
            if table == "edges_canonical":
                df = df.select(*_EARLIER_EDGES_COLS)
            writer = df.write.partitionBy("salt") if layout == "salt_dirs" else df.write
            writer.parquet(path + ".old")
            shutil.rmtree(path)
            os.rename(path + ".old", path)
        edges = f"{out}/edges_canonical"
        assert _dirs(edges, "pred") == []
        entries = sorted(os.listdir(edges))
        before = _rows(spark.read.parquet(edges))

        def canon_runs():
            return LineageLog(out).read(spark).filter(F.col("stage") == "canon").count()

        assert canon_runs() == 1
        res = build_kg(spark, src, out, n_buckets=8)
        assert canon_runs() == 1, "canon re-ran on unchanged input"
        assert _rows(res["edges_canonical"]) == before
        assert sorted(os.listdir(edges)) == entries

        # one edited file -> canon re-runs and rewrites both tables
        first = src.select("repo", "path").orderBy("repo", "path").first()
        edited = (F.col("repo") == first.repo) & (F.col("path") == first.path)
        changed = src.withColumn(
            "content",
            F.when(edited, F.concat("content", F.lit("\nx = 1\n")))
            .otherwise(F.col("content")),
        ).withColumn("sha256", F.sha2(F.col("content").cast("binary"), 256))
        res = build_kg(spark, changed, out, n_buckets=8)
        assert canon_runs() == 2
        for table in ("nodes", "edges_canonical"):
            assert _dirs(f"{out}/{table}", "salt") == [], table
        assert _part_files(edges) == []
        assert _dirs(edges, "pred")
        assert _part_files(f"{out}/nodes")
        fresh = str(tmp_path_factory.mktemp(f"kg_{layout}_layout_fresh"))
        want = build_kg(spark, changed, fresh, n_buckets=8)
        for table in ("nodes", "edges_canonical"):
            assert _rows(res[table]) == _rows(want[table]), table

    def test_resume_over_salted_stage_layout(self, spark, src, tmp_path_factory):
        """Stage tables written with the earlier 8-way content salt
        (several files per ``bucket=`` directory) resume: unchanged
        input skips every bucket and appends no lineage row; one edited
        repo rewrites only its bucket's directory, and all four tables
        equal a fresh build's."""
        import shutil

        from pawpaw_spark.lineage import LineageLog, bucket_key

        out = str(tmp_path_factory.mktemp("kg_salted_stages"))
        build_kg(spark, src, out, n_buckets=8)
        for stage in _STAGES:
            path = f"{out}/{stage}"
            df = spark.read.parquet(path)
            salt = F.pmod(F.xxhash64(F.col(df.columns[0])), F.lit(8))
            df.repartition(32, "bucket", salt).write.partitionBy("bucket").parquet(
                path + ".old"
            )
            shutil.rmtree(path)
            os.rename(path + ".old", path)
            assert max(map(len, _bucket_files(path).values())) > 1, stage
        files = {stage: _bucket_files(f"{out}/{stage}") for stage in _STAGES}
        log = LineageLog(out)
        n_log = log.read(spark).count()

        build_kg(spark, src, out, n_buckets=8)
        assert log.read(spark).count() == n_log
        for stage in _STAGES:
            assert _bucket_files(f"{out}/{stage}") == files[stage], stage

        first = src.select("repo", "path").orderBy("repo", "path").first()
        edited = (F.col("repo") == first.repo) & (F.col("path") == first.path)
        changed = src.withColumn(
            "content",
            F.when(edited, F.concat("content", F.lit("\nx = 1\n")))
            .otherwise(F.col("content")),
        ).withColumn("sha256", F.sha2(F.col("content").cast("binary"), 256))
        hit = spark.range(1).select(bucket_key(F.lit(first.repo), 8)).first()[0]
        res = build_kg(spark, changed, out, n_buckets=8)
        for stage in _STAGES:
            now = _bucket_files(f"{out}/{stage}")
            assert now.keys() == files[stage].keys(), stage
            rewritten = {d for d in now if now[d] != files[stage][d]}
            assert rewritten == {f"bucket={hit}"}, stage
        fresh = str(tmp_path_factory.mktemp("kg_salted_stages_fresh"))
        want = build_kg(spark, changed, fresh, n_buckets=8)
        for table in (*_STAGES, "nodes", "edges_canonical"):
            assert _rows(res[table]) == _rows(want[table]), table


_STAGES = ("segments", "edges")


def _bucket_files(path):
    """``bucket=`` directory -> the set of its part-file names."""
    return {
        d: {f for f in os.listdir(f"{path}/{d}") if f.startswith("part-")}
        for d in os.listdir(path)
        if d.startswith("bucket=")
    }


class TestIncrementalComponents:
    def _cc(self, spark, edges):
        from pawpaw_spark.operators.canon import connected_components

        return connected_components(
            spark.createDataFrame(edges, "a string, b string")
        )

    def test_equals_full_recompute(self, spark):
        """CC(mapping(old) ∪ new) == CC(old ∪ new) — bridging edges
        merge historical components; brand-new nodes join in."""
        from pawpaw_spark.operators.canon import incremental_components

        old = [("a", "b"), ("c", "d"), ("e", "f"), ("g", "g2")]
        new = [("b", "c"), ("x", "y"), ("f", "x")]
        mapping = self._cc(spark, old)
        got = {
            r.node: r.comp
            for r in incremental_components(
                mapping, spark.createDataFrame(new, "a string, b string")
            ).collect()
        }
        want = {r.node: r.comp for r in self._cc(spark, old + new).collect()}
        assert got == want
        # the bridge really merged: a..d share one label
        assert len({got[n] for n in "abcd"}) == 1
        # untouched historical component kept its label
        assert got["g"] == "g"

    @given(
        old=st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)),
            min_size=1, max_size=20,
        ),
        new=st.lists(
            st.tuples(st.integers(0, 16), st.integers(0, 16)),
            min_size=1, max_size=10,
        ),
    )
    @settings(max_examples=10, deadline=None, derandomize=True)
    def test_property_equivalence(self, spark, old, new):
        from pawpaw_spark.operators.canon import incremental_components

        old = [(str(a), str(b)) for a, b in old]
        new = [(str(a), str(b)) for a, b in new]
        mapping = self._cc(spark, old)
        got = {
            r.node: r.comp
            for r in incremental_components(
                mapping, spark.createDataFrame(new, "a string, b string")
            ).collect()
        }
        want = {r.node: r.comp for r in self._cc(spark, old + new).collect()}
        assert got == want

    def test_distributed_loop_with_mapping_self_loops(self, spark):
        """driver_threshold=0 forces the distributed min-label loop —
        the path real above-threshold delta ingests take. Singleton
        mappings contribute (node, node) self-loop edges; deep new
        bridge chains must still converge."""
        from pawpaw_spark.operators.canon import incremental_components

        old = [("a", "b"), ("c", "d"), ("s", "s")]  # s: singleton self-map
        # chain bridging a-b ... c-d through 6 new nodes
        chain = [("b", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),
                 ("n4", "n5"), ("n5", "c")]
        mapping = self._cc(spark, old)
        got = {
            r.node: r.comp
            for r in incremental_components(
                mapping,
                spark.createDataFrame(chain, "a string, b string"),
                driver_threshold=0,
            ).collect()
        }
        want = {r.node: r.comp for r in self._cc(spark, old + chain).collect()}
        assert got == want
        assert len({got[n] for n in ("a", "b", "c", "d", "n3")}) == 1
        assert got["s"] == "s"


class TestDay2Ingest:
    def test_new_repo_appends_one_bucket_and_matches_fresh_build(
        self, spark, src, tmp_path_factory
    ):
        """Corpus GROWTH (not same-input resume): day 2 adds a new
        repo. Only the new repo's bucket recomputes (old buckets skip
        via lineage), canon re-runs globally (fingerprint changed), and
        the resulting canonical tables are row-identical to a
        from-scratch build over the grown corpus."""
        from pawpaw_spark.lineage import LineageLog

        out = str(tmp_path_factory.mktemp("kg_day2"))
        res1 = build_kg(spark, src, out, n_buckets=8)
        res1["edges_canonical"].count()
        seg_rows_1 = (
            LineageLog(out).read(spark).filter(F.col("stage") == "segments").count()
        )

        delta = source_df(spark, n_files=20, seed=77).withColumn(
            "repo", F.lit("org9/new_repo")
        )
        full = src.unionByName(delta)
        res2 = build_kg(spark, full, out, n_buckets=8)
        got = sorted(
            (r.subj, r.pred, r.obj, r.doc_id)
            for r in res2["edges_canonical"]
            .select("subj", "pred", "obj", "doc_id")
            .collect()
        )

        # exactly ONE bucket re-ran in the segments stage (the new
        # repo's; every old bucket's fingerprint was unchanged)
        seg_rows_2 = (
            LineageLog(out).read(spark).filter(F.col("stage") == "segments").count()
        )
        assert seg_rows_2 == seg_rows_1 + 1, (seg_rows_1, seg_rows_2)

        fresh = str(tmp_path_factory.mktemp("kg_fresh"))
        res3 = build_kg(spark, full, fresh, n_buckets=8)
        want = sorted(
            (r.subj, r.pred, r.obj, r.doc_id)
            for r in res3["edges_canonical"]
            .select("subj", "pred", "obj", "doc_id")
            .collect()
        )
        assert got == want
        assert len(got) > 0

    def test_daily_ingest_trilogy_matches_full_batch(
        self, spark, tmp_path_factory
    ):
        """Index day-1 docs, find day-2 near-dup pairs via the delta
        pass, fold the NEW pairs into day-1's components mapping with
        incremental_components — the result must equal connected
        components over ALL pairs computed in one batch over the full
        corpus. This is the composition a production daily ingest runs
        (minhash_index_write -> minhash_dedup_delta ->
        incremental_components)."""
        from pawpaw_spark.operators.canon import (
            connected_components, incremental_components,
        )
        from pawpaw_spark.operators.dedup import (
            minhash_dedup_pairs, minhash_dedup_delta, minhash_index_write,
        )

        words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
        mk = lambda i: " ".join(words[(i + j) % 8] for j in range(8)) + f" t{i}"
        day1 = [(f"h{i}", mk(i)) for i in range(8)] + [("h_dup0", mk(0))]
        day2 = [(f"n{i}", mk(i + 40)) for i in range(4)] + [
            ("n_dup_h1", mk(1)),      # links to history
            ("n_dup_n0", mk(40)),     # links within the delta
        ]
        schema = "doc_id string, text string"
        idx = str(tmp_path_factory.mktemp("trilogy") / "idx")
        d1 = spark.createDataFrame(day1, schema)
        d2 = spark.createDataFrame(day2, schema)

        minhash_index_write(d1, idx, n_hashes=64, bands=16)
        day1_pairs = minhash_dedup_pairs(
            d1, threshold=0.8, n_hashes=64, bands=16, verify="exact"
        )
        mapping1 = connected_components(day1_pairs, "a", "b")
        new_pairs = minhash_dedup_delta(d2, idx, threshold=0.8)
        got = {
            r.node: r.comp
            for r in incremental_components(
                mapping1, new_pairs.select("a", "b")
            ).collect()
        }

        full_pairs = minhash_dedup_pairs(
            spark.createDataFrame(day1 + day2, schema),
            threshold=0.8, n_hashes=64, bands=16, verify="exact",
        )
        want = {
            r.node: r.comp
            for r in connected_components(full_pairs, "a", "b").collect()
        }
        assert got == want
        # the cross-day link really merged: h1 and n_dup_h1 share a label
        assert got["h1"] == got["n_dup_h1"]
