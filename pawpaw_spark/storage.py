"""Bucketed at-rest layout for the KG tables.

SURVEY.md §4.2: segment/edge tables bucketed by ``doc_id`` make every
per-doc join (segments x source text, segments self-joins, edge
provenance joins) co-partitioned — SortMergeJoin with NO exchange on
either side. At 100 TB that removes the dominant shuffle from the
query path; the write-side cost is one clustering pass at build time.

Spark's native (non-Hive) bucketing only applies through the table
catalog, so these helpers go through ``saveAsTable`` and read back via
``spark.table`` — tests assert the exchange-free join plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

_ICEBERG_CATALOG_IMPLS = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog on this session, or None.

    The north rule materializes node/edge tables as partitioned Iceberg
    tables; this sandbox ships no Iceberg runtime jars, so the engine
    detects the catalog at runtime and falls back to partitioned
    parquet with the identical logical layout (same partition columns,
    same pruning behavior at read)."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and v in _ICEBERG_CATALOG_IMPLS:
            return k.rsplit(".", 1)[1]
    return None


def has_data(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds committed data: an entry whose name
    starts with neither ``_`` nor ``.`` (a part file or a partition
    directory; ``_SUCCESS``, ``_temporary`` and checksum files do not
    count). Probed through the Hadoop ``FileSystem`` of the path, so a
    URI (``file://``, ``hdfs://``, ``s3a://``) works like a plain path."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    return any(
        not s.getPath().getName().startswith(("_", ".")) for s in fs.listStatus(p)
    )


def write_partitioned(
    df: DataFrame,
    table: str,
    path: str,
    partition_cols: tuple[str, ...],
    mode: str = "overwrite",
) -> DataFrame:
    """Materialize a table; Iceberg when available, else parquet at
    ``path``. The input goes through a REBALANCE hint on the partition
    columns: AQE coalesces small shuffle partitions and splits skewed
    ones up to the advisory size, so tasks write few files of a useful
    size instead of a (tasks x partitions) small-file explosion.
    ``build_kg`` writes ``edges_canonical`` one directory per ``pred``
    value (every constant-predicate query slice reads one directory),
    and ``nodes`` / ``node_metrics`` with no ``partition_cols``, as flat
    files: no reader filters on their ``salt`` key. (The per-bucket
    lineage tables keep ``bucket=`` directories, their resume unit;
    ``lineage.run_stage`` writes those through the same REBALANCE hint
    on ``bucket``, so the files inside each directory are AQE-sized as
    well.) Returns a re-read of the written table through
    ``read_parquet`` (downstream consumers read the materialized form,
    never re-run the producing plan): a string partition column reads
    back as ``string`` whatever its values."""
    spark = df.sparkSession
    cat = iceberg_catalog(spark)
    clustered = df.hint("rebalance", *partition_cols)
    if cat is not None:
        full = f"{cat}.{table}"
        writer = clustered.writeTo(full)
        if partition_cols:
            # partitionedBy needs at least one column
            writer = writer.partitionedBy(*partition_cols)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return spark.table(full)
    writer = clustered.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    # Force STATIC overwrite for the parquet fallback: pipeline stages set
    # partitionOverwriteMode=dynamic session-wide (lineage.run_stage), under
    # which mode='overwrite' only replaces partitions present in the NEW
    # data — a re-run covering fewer partition values would silently leave
    # stale partitions on disk and bless them via the stage checkpoint.
    # Static also clears a store written one directory per salt value.
    if mode == "overwrite":
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            writer.parquet(path)
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            else:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    else:
        writer.parquet(path)
    strings = [c for c in partition_cols if isinstance(df.schema[c].dataType, StringType)]
    return read_parquet(spark, path, strings)


def read_parquet(
    spark: SparkSession, path: str, string_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """Read the parquet table at ``path``; the columns in ``string_cols``
    come back as ``string``. Spark types a partition column from its
    directory names, so ``pred=1`` / ``pred=2`` would read back as int;
    only then is the table re-read with those columns as strings.
    ``write_partitioned`` and ``build_kg``'s resume both read through
    here, so a fresh build and a resume give one schema."""
    df = spark.read.parquet(path)
    fields = [
        StructField(f.name, StringType(), f.nullable) if f.name in string_cols else f
        for f in df.schema.fields
    ]
    if fields == df.schema.fields:
        return df
    return spark.read.schema(StructType(fields)).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "doc_id",
    n_buckets: int = 64,
    sort_cols: tuple[str, ...] = ("seg_id",),
    mode: str = "overwrite",
) -> None:
    """Cluster + sort into a bucketed catalog table (parquet)."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def cojoin(
    spark: SparkSession, left_table: str, right_table: str, on: str = "doc_id"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket column — plans as
    an exchange-free SortMergeJoin (asserted in tests/test_storage.py)."""
    return spark.table(left_table).join(spark.table(right_table), on)


def z_value(cols, bits: int = 16):
    """Z-order (Morton) interleaving key over 2+ non-negative integer
    columns -> one int64 column expression: bit i of column j lands at
    position ``i * ncols + j``, so sorting/range-partitioning by the
    key co-locates rows that are close in EVERY dimension at once —
    the multi-dimensional clustering layout behind Delta/Iceberg
    Z-ORDER: a scan filtered on any single dimension then touches
    O(sqrt) of the files instead of all of them, with min/max file
    stats doing the pruning.

    Pure column arithmetic (shift/mask/add — whole-stage codegen, no
    UDF); each input is truncated to its low ``bits`` bits (callers
    bucket real values into that range first — rank or radix bucket,
    whatever the dimension's distribution needs).  ``bits * ncols``
    must fit int64 (<= 62 enforced).
    """
    from pyspark.sql import functions as F

    ncols = len(cols)
    if ncols < 2:
        raise ValueError("z_value needs at least 2 columns")
    if bits < 1 or bits * ncols > 62:
        raise ValueError("bits * ncols must be in [ncols, 62]")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    out = F.lit(0).cast("long")
    for j, c in enumerate(cs):
        v = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            out = out + (bit * F.lit(1 << (i * ncols + j))).cast("long")
    return out
