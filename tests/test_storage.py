"""Bucketed layout: co-partitioned joins must plan WITHOUT an exchange
on either bucketed side (the §4.2 scale claim, verified on the plan)."""

import os

import pytest
from pyspark.sql import functions as F

from pawpaw_spark.operators.segment import segment
from pawpaw_spark.rules import RuleSet, extract
from pawpaw_spark.storage import cojoin, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # warehouse dir is static conf, set by get_spark (outside the repo);
    # clear any orphaned locations from prior interrupted runs
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("segs_b", "src_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    from pawpaw_spark.schemas import SOURCE_SCHEMA

    rows = [
        {"repo": "r", "path": f"p{i}", "commit": "c", "lang": "text",
         "content": f"alpha {i} beta {i * 7}", "sha256": None}
        for i in range(50)
    ]
    src = spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
    segs = segment(src, RuleSet.of(extract(r"(?P<tok>\S+)")))
    source = src.select(
        F.concat_ws("@", F.concat_ws("/", "repo", "path"), "commit").alias("doc_id"),
        F.col("content"),
    )
    write_bucketed(segs, "segs_b", n_buckets=8)
    write_bucketed(source, "src_b", n_buckets=8, sort_cols=())
    yield "segs_b", "src_b"
    spark.sql("DROP TABLE IF EXISTS segs_b")
    spark.sql("DROP TABLE IF EXISTS src_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    # disable auto-broadcast: at test scale the planner would broadcast
    # the small side and skip bucketing entirely; at 100 TB neither side
    # broadcasts and this SortMergeJoin path is what runs
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cojoin(spark, left, right)
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, f"bucketed join should not shuffle:\n{plan}"


def test_bucketed_roundtrip_values(spark, bucketed_tables):
    left, right = bucketed_tables
    joined = cojoin(spark, left, right)
    n_segs = spark.table(left).count()
    assert joined.count() == n_segs  # every segment row finds its doc text
    row = joined.filter(F.col("desc") == "tok").first()
    text = row.content[row.start:row.stop]
    assert text and " " not in text


def test_iceberg_catalog_absent_here(spark):
    # this sandbox ships no Iceberg runtime; detection must say so
    from pawpaw_spark.storage import iceberg_catalog

    assert iceberg_catalog(spark) is None


def test_write_partitioned_parquet_fallback(spark, tmp_path):
    from pawpaw_spark.storage import write_partitioned

    df = spark.range(100).withColumn("salt", (F.col("id") % 4).cast("int"))
    out = str(tmp_path / "part_out")
    back = write_partitioned(df, "pawpaw.t", out, ("salt",))
    assert back.count() == 100
    # physically partitioned: one directory per salt value
    dirs = [e for e in os.listdir(out) if e.startswith("salt=")]
    assert sorted(dirs) == ["salt=0", "salt=1", "salt=2", "salt=3"]
    # partition pruning reaches the scan
    plan = back.filter(F.col("salt") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(salt" in plan, plan


def test_write_partitioned_keeps_string_partition_type(spark, tmp_path):
    """A string partition column whose values look numeric reads back as
    written, not as the int a plain read infers from the directory
    names; ``read_parquet`` (the resume read) gives the same frame."""
    from pawpaw_spark.storage import read_parquet, write_partitioned

    df = spark.createDataFrame(
        [("a", "1", 7), ("b", "2", 8), ("c", "1", 9)],
        "subj string, pred string, salt int",
    )
    out = str(tmp_path / "str_part")
    back = write_partitioned(df, "pawpaw.t", out, ("pred",))
    assert sorted(e for e in os.listdir(out) if e.startswith("pred=")) == [
        "pred=1", "pred=2",
    ]
    assert [(f.name, f.dataType.simpleString()) for f in back.schema.fields] == [
        ("subj", "string"), ("salt", "int"), ("pred", "string"),
    ]
    assert sorted(map(tuple, back.collect())) == [
        ("a", 7, "1"), ("b", 8, "2"), ("c", 9, "1"),
    ]
    again = read_parquet(spark, out, ("pred",))
    assert again.schema == back.schema
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, back.collect()))
    # what read_parquet guards against
    assert spark.read.parquet(out).schema["pred"].dataType.simpleString() == "int"


class TestZValue:
    def _z_py(self, vals, bits):
        out = 0
        for j, v in enumerate(vals):
            for i in range(bits):
                out |= ((v >> i) & 1) << (i * len(vals) + j)
        return out

    def test_matches_mirror(self, spark):
        from pawpaw_spark.storage import z_value

        rows = [(3, 5), (0, 0), (65535, 1), (1234, 4321)]
        df = spark.createDataFrame(rows, "a long, b long")
        got = [
            r.z for r in df.select(z_value(["a", "b"], 16).alias("z")).collect()
        ]
        assert got == [self._z_py(v, 16) for v in rows]

    def test_locality_property(self, spark):
        # nearby points in both dims -> nearby z values: the square
        # [0,3]x[0,3] occupies exactly the first 16 z slots
        from pawpaw_spark.storage import z_value

        rows = [(a, b) for a in range(4) for b in range(4)]
        df = spark.createDataFrame(rows, "a long, b long")
        zs = sorted(
            r.z for r in df.select(z_value(["a", "b"], 2).alias("z")).collect()
        )
        assert zs == list(range(16))

    def test_three_columns(self, spark):
        from pawpaw_spark.storage import z_value

        df = spark.createDataFrame([(1, 2, 4)], "a long, b long, c long")
        got = df.select(z_value(["a", "b", "c"], 3).alias("z")).collect()[0].z
        assert got == self._z_py((1, 2, 4), 3)

    def test_validation(self, spark):
        import pytest as _pt

        from pawpaw_spark.storage import z_value

        with _pt.raises(ValueError, match="at least 2"):
            z_value(["a"])
        with _pt.raises(ValueError, match="62"):
            z_value(["a", "b", "c", "d"], 16)


class TestHasData:
    def test_probe_plain_path_and_uri(self, spark, tmp_path):
        from pawpaw_spark.storage import has_data

        d = tmp_path / "t"
        for path in (str(d), f"file://{d}"):
            assert not has_data(spark, path)  # missing
        d.mkdir()
        (d / "_SUCCESS").write_text("")
        (d / ".part-0.crc").write_text("")
        for path in (str(d), f"file://{d}"):
            assert not has_data(spark, path)  # bookkeeping files only
        spark.range(3).write.mode("overwrite").parquet(str(d))
        for path in (str(d), f"file://{d}"):
            assert has_data(spark, path)
        (tmp_path / "p" / "bucket=1").mkdir(parents=True)
        assert has_data(spark, f"file://{tmp_path}/p")  # a partition dir


class TestLocalFrame:
    def test_one_partition_no_python_scan(self, spark, tmp_path):
        from pawpaw_spark.schemas import LINEAGE_SCHEMA
        from pawpaw_spark.session import local_frame

        rows = [
            {"stage": "s", "partition_key": str(i), "input_fingerprint": "f",
             "rows_in": i, "rows_out": 2 * i, "wall_ms": 5, "status": "ok"}
            for i in range(64)
        ]
        df = local_frame(spark, rows, LINEAGE_SCHEMA)
        assert df.schema == LINEAGE_SCHEMA
        assert df.rdd.getNumPartitions() == 1
        assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
        assert [r.asDict() for r in df.collect()] == rows
        df.write.parquet(str(tmp_path / "o"))
        assert len(list((tmp_path / "o").glob("part-*"))) == 1
        assert local_frame(spark, [], LINEAGE_SCHEMA).count() == 0
