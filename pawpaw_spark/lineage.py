"""Checkpoint-resume + per-partition lineage (north_rule requirement).

Batch-idempotent design: every stage writes its output parquet
partitioned by a bucket key; a ``_lineage`` parquet table records
(stage, partition_key, input_fingerprint, rows_in, rows_out, wall_ms,
status). On resume, buckets whose (partition, fingerprint) pair is
already recorded are dropped from the stage input (a set difference on
the driver: both sides are one row per bucket), and only missing or
invalidated buckets recompute, with dynamic partition overwrite so
re-runs are idempotent. ``wall_ms`` is the wall time of the stage run
that wrote the bucket, shared by every bucket of that run; it is not a
per-bucket time.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pawpaw_spark.schemas import LINEAGE_SCHEMA
from pawpaw_spark.session import local_frame
from pawpaw_spark.storage import has_data


def bucket_key(col, n_buckets: int):
    """Stable partition key; hash-spread so one mega-repo lands across
    buckets only if you salt upstream — the bucket itself is the resume
    granularity."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class LineageLog:
    def __init__(self, base_dir: str):
        self.path = os.path.join(base_dir, "_lineage")

    def read(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except Exception:
            return local_frame(spark, [], LINEAGE_SCHEMA)

    def completed(self, spark: SparkSession, stage: str) -> set[tuple[str, str]]:
        """``{(partition_key, input_fingerprint)}`` of the stage's
        successful runs: one collect, and no read at all before
        ``_lineage`` holds data."""
        if not has_data(spark, self.path):
            return set()
        return {
            (r.partition_key, r.input_fingerprint)
            for r in self.read(spark)
            .filter((F.col("stage") == stage) & (F.col("status") == "ok"))
            .select("partition_key", "input_fingerprint")
            .collect()
        }

    def record(self, spark: SparkSession, rows: list[dict]) -> None:
        if rows:
            local_frame(spark, rows, LINEAGE_SCHEMA).write.mode("append").parquet(self.path)


def stage_fingerprints(df: DataFrame, bucket_col: str = "bucket") -> DataFrame:
    """Per-bucket input fingerprint: count + xor of row hashes — cheap,
    order-insensitive, and changes when any input row changes."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns if c != bucket_col])
    return (
        df.withColumn("__rh", row_hash)
        .groupBy(bucket_col)
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.expr("bit_xor(__rh)").cast("string").alias("fp"),
        )
    )


def run_stage(
    spark: SparkSession,
    stage: str,
    inp: DataFrame,
    transform,
    out_dir: str,
    lineage: LineageLog,
    bucket_col: str = "bucket",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Resume-aware stage runner.

    ``inp`` must carry ``bucket_col``. Buckets whose (key, fingerprint)
    already appear in the lineage log are skipped; the rest run through
    ``transform`` (which must preserve ``bucket_col``) and land in
    ``out_dir`` via dynamic partition overwrite, one ``bucket=``
    directory per bucket. Returns the full stage output (reading
    previously-completed buckets from disk). Each recorded bucket's
    ``wall_ms`` is the wall of this whole run, not its own time.

    Pass a precomputed/cached ``fps`` (from :func:`stage_fingerprints`)
    when several stages share the same input — fingerprinting hashes
    every input row, and at 100 TB one content scan per stage is the
    difference between metadata cost and a second full read.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out_path = os.path.join(out_dir, stage)

    if fps is None:
        fps = stage_fingerprints(inp, bucket_col)
    # both sides are one row per bucket (metadata, not data): diff them
    # on the driver
    done = lineage.completed(spark, stage)
    fp_by_key = {
        r[bucket_col]: (r["fp"], r["rows_in"])
        for r in fps.collect()
        if (str(r[bucket_col]), r["fp"]) not in done
    }
    pending_keys = sorted(fp_by_key)

    if pending_keys:
        todo = inp.filter(F.col(bucket_col).isin(pending_keys))
        t0 = time.time()
        result = transform(todo)
        # cluster by the partition column first: otherwise every task
        # holds rows of many buckets and partitionBy fans out
        # n_tasks x n_buckets small files. REBALANCE lets AQE coalesce
        # small buckets into one write task and split a skewed one (a
        # mega-repo: the skew fixture holds 40% of the corpus) over
        # several, so files are sized by the advisory partition size
        result.hint("rebalance", bucket_col).write.mode("overwrite").partitionBy(
            bucket_col
        ).parquet(out_path)
        wall_ms = int((time.time() - t0) * 1000)
        out_counts = {
            r[bucket_col]: r["n"]
            for r in spark.read.parquet(out_path)
            .filter(F.col(bucket_col).isin(pending_keys))
            .groupBy(bucket_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        lineage.record(
            spark,
            [
                {
                    "stage": stage,
                    "partition_key": str(k),
                    "input_fingerprint": fp_by_key[k][0],
                    "rows_in": int(fp_by_key[k][1]),
                    "rows_out": int(out_counts.get(k, 0)),
                    "wall_ms": wall_ms,
                    "status": "ok",
                }
                for k in pending_keys
            ],
        )
    return spark.read.parquet(out_path)
