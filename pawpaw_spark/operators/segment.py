"""Distributed segmentation: source table -> segments table.

The tree build happens per-row inside ``mapInPandas`` (Arrow batches);
the driver never sees a tree. Rules travel as plain data in the UDF
closure (pickled once per task — the Spark-idiomatic broadcast path for
small plan-side metadata).

Scale notes (100 TB design):
* Input is read columnar; only (doc-id cols + content) are projected —
  Catalyst prunes the rest from the parquet scan.
* Content length is itself a skew axis (100B-10MB files):
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory,
  and ``repartition_by_weight`` below spreads long-document partitions
  so one executor doesn't own all the mega-files.
* Output carries offsets only; the text stays in the source table
  (zero-copy at rest — reference `Ito` invariant, ``pawpaw/ito.py:569-570``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.kernel import (
    SEGMENT_COLUMNS,
    append_segment_columns,
    new_segment_columns,
)
from pawpaw_spark.rules import RuleSet
from pawpaw_spark.schemas import SEGMENT_DDL

_SEG_COLS = [
    "doc_id", "seg_id", "parent_id", "start", "stop", "desc", "depth",
    "rule_tag", "value", "path", "n_children", "sibling_idx", "dfs_idx",
]


def doc_id_col(df: DataFrame) -> Column:
    """Stable doc identity: repo/path@commit when source-shaped, else doc_id."""
    if "doc_id" in df.columns:
        return F.col("doc_id").cast("string")
    return F.concat_ws("@", F.concat_ws("/", "repo", "path"), "commit")


def fan_out(df: DataFrame, src: DataFrame) -> DataFrame:
    """``src``, a projection of ``df``, repartitioned to
    ``defaultParallelism`` when ``df`` arrives under-split (a small
    parquet is one row group -> one non-empty task no matter the core
    count). At scale inputs carry >> cores splits, so this stays a no-op
    and no shuffle is added on the 100 TB path.

    The partition count is read from ``df.rdd``, which PySpark caches per
    DataFrame: a caller that passes the same input on every call plans
    it once, where a fresh projection's ``.rdd`` would plan it each time.
    A projection has its input's partition count."""
    if df.isStreaming:
        return src
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return src.repartition(target)
    return src


def with_sha256(df: DataFrame, text_col: str = "content") -> DataFrame:
    """Per-row invariant column (input_hint): computed JVM-side."""
    return df.withColumn("sha256", F.sha2(F.col(text_col).cast("binary"), 256))


def segment(
    df: DataFrame,
    rules: RuleSet,
    text_col: str = "content",
    include_root: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Apply a rule program to every document; returns the segments table.

    Equivalent of running an arborform pipeline over each doc
    (reference ``pawpaw/arborform/itorator/itorator.py:171-177``), but
    exploded to relational rows on the executors. ``passthrough``
    columns are copied onto every emitted segment row (e.g. the resume
    bucket key).
    """
    pt_fields = [df.schema[c] for c in passthrough]
    src = df.select(
        doc_id_col(df).alias("__doc_id"), F.col(text_col).alias("__text"), *passthrough
    )
    src = fan_out(df, src)
    out_cols = _SEG_COLS + list(passthrough)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = new_segment_columns()
            repeats: list[int] = []
            for did, text in zip(pdf["__doc_id"].values, pdf["__text"].values):
                if text is None:
                    repeats.append(0)
                    continue
                repeats.append(
                    append_segment_columns(cols, str(did), str(text), rules, include_root)
                )
            if cols["doc_id"]:
                out = pd.DataFrame(cols, columns=SEGMENT_COLUMNS)
                for c in passthrough:
                    out[c] = pdf[c].values.repeat(repeats)
                yield out[out_cols]

    schema = SEGMENT_DDL
    if pt_fields:
        schema = schema + ", " + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pt_fields)
    return src.mapInPandas(run, schema=schema)


def segment_dispatch(
    df: DataFrame,
    lang_rules: dict[str, RuleSet],
    default_rules: RuleSet,
    text_col: str = "content",
    lang_col: str = "lang",
    include_root: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """One kernel pass with per-row rule dispatch on ``lang_col``.

    A union of per-language ``segment()`` calls costs one full
    mapInPandas stage (scan + python-worker fan-out + shuffle) per rule
    program; dispatching inside a single pass scans the source once
    regardless of how many languages it mixes."""
    pt_fields = [df.schema[c] for c in passthrough]
    src = df.select(
        doc_id_col(df).alias("__doc_id"),
        F.col(text_col).alias("__text"),
        F.col(lang_col).alias("__lang"),
        *passthrough,
    )
    src = fan_out(df, src)
    out_cols = _SEG_COLS + list(passthrough)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = new_segment_columns()
            repeats: list[int] = []
            for did, text, lang in zip(
                pdf["__doc_id"].values, pdf["__text"].values, pdf["__lang"].values
            ):
                if text is None:
                    repeats.append(0)
                    continue
                rules = lang_rules.get(lang, default_rules)
                repeats.append(
                    append_segment_columns(cols, str(did), str(text), rules, include_root)
                )
            if cols["doc_id"]:
                out = pd.DataFrame(cols, columns=SEGMENT_COLUMNS)
                for c in passthrough:
                    out[c] = pdf[c].values.repeat(repeats)
                yield out[out_cols]

    schema = SEGMENT_DDL
    if pt_fields:
        schema = schema + ", " + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pt_fields)
    return src.mapInPandas(run, schema=schema)


def repartition_by_weight(
    df: DataFrame,
    n_partitions: int,
    text_col: str = "content",
    salt_buckets: int = 16,
) -> DataFrame:
    """Spread documents across partitions by (content-length decile,
    random-ish salt from a deterministic hash) so mega-files don't pile
    onto one task — the secondary-skew treatment from SURVEY.md §4.2."""
    weight = F.floor(F.log2(F.length(F.col(text_col)) + F.lit(2.0)))
    salt = F.pmod(F.xxhash64(F.col(text_col)), F.lit(salt_buckets))
    return df.repartition(n_partitions, weight, salt)


def check_sha256_invariant(df: DataFrame, text_col: str = "content") -> int:
    """Number of rows whose provided sha256 disagrees with recomputation.

    Run after any stage that carries content through, proving the
    engine did not mutate a row (BASELINE.json per-row invariant).
    """
    if "sha256" not in df.columns:
        return 0
    return (
        df.filter(F.col("sha256").isNotNull())
        .filter(F.sha2(F.col(text_col).cast("binary"), 256) != F.col("sha256"))
        .count()
    )
